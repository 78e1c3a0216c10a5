package perfbench

import org.apache.spark.sql.SparkSession

/** Writes the q10 MergeTree fixture with the engine's own part writer:
  * 8 wide parts of lineitem's four group-by columns, sorted by
  * (l_returnflag, l_linestatus), then the same parts replicated under
  * fresh part names `replicas` times (identical decode cost per part,
  * tenfold bytes).
  *
  * Usage: Fixture <lineitem.parquet> <out tree dir> <replicas>
  */
object Fixture {
  val Cols: Seq[(String, String)] = Seq(
    "l_returnflag" -> "LowCardinality(String)",
    "l_linestatus" -> "LowCardinality(String)",
    "l_quantity" -> "Float64",
    "l_extendedprice" -> "Float64")
  val Parts = 8

  def main(args: Array[String]): Unit = {
    val Array(src, out, replicas) = args
    val spark = SparkSession.builder().master("local[2]")
      .appName("perfbench-fixture")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    try {
      val rows: Seq[Seq[Any]] = spark.read.parquet(src)
        .select(Cols.map(c => org.apache.spark.sql.functions.col(c._1)): _*)
        .orderBy("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice")
        .collect().iterator
        .map(r => Seq[Any](r.getString(0), r.getString(1), r.getDouble(2), r.getDouble(3)))
        .toSeq
      val one = s"$out.one"
      val chunk = (rows.size + Parts - 1) / Parts
      rows.grouped(chunk).zipWithIndex.foreach { case (c, i) =>
        graft.sources.mergetree.MergeTreePartWriter.writePart(
          one, Cols, c, granularity = 8192, partName = s"all_${i + 1}_${i + 1}_0",
          orderBy = Seq("l_returnflag", "l_linestatus"))
      }
      val parts = new java.io.File(one).listFiles().filter(_.isDirectory).sortBy(_.getName)
      var n = 0
      for (_ <- 0 until replicas.toInt; p <- parts) {
        n += 1
        val dst = java.nio.file.Paths.get(out, s"all_${n}_${n}_0")
        java.nio.file.Files.createDirectories(dst)
        p.listFiles().sortBy(_.getName).foreach(f =>
          java.nio.file.Files.copy(f.toPath, dst.resolve(f.getName)))
      }
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(one))
    } finally spark.stop()
  }
}
