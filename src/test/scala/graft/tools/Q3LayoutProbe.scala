package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** q3 file-layout A/B: the 100x orders fixture is 32 files of ~12 MB
  * (one rowgroup each) — is the per-task cost file-open/footer
  * overhead or decode? Rewrites the same rows as 8 and 4 files with
  * 32 MB rowgroups and times the countDistinct kernel on each layout
  * interleaved. Run: Test/runMain graft.tools.Q3LayoutProbe [iters]
  */
object Q3LayoutProbe {
  def main(args: Array[String]): Unit = {
    val iters = args.headOption.map(_.toInt).getOrElse(7)
    val base = Option(new java.io.File("/tmp").listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("graft_bench100x_") &&
        new java.io.File(f, "_DONE").exists())
      .maxBy(_.lastModified).getPath
    val spark = SparkSession.builder()
      .master("local[32]")
      .appName("q3layout")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.parquet.columnarReaderBatchSize", "16384")
      .config("spark.buffer.pageSize", "4m")
      .config("spark.sql.files.minPartitionNum", "8")
      .config("spark.sql.files.maxPartitionBytes", (32L * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val alt8 = "/tmp/graft_q3layout_8f"
    val alt4 = "/tmp/graft_q3layout_4f"
    if (!new java.io.File(s"$alt8/_SUCCESS").exists()) {
      spark.read.parquet(s"$base/orders.parquet").repartition(8)
        .write.option("parquet.block.size", (32L << 20).toString)
        .mode("overwrite").parquet(alt8)
    }
    if (!new java.io.File(s"$alt4/_SUCCESS").exists()) {
      spark.read.parquet(s"$base/orders.parquet").repartition(4)
        .write.option("parquet.block.size", (32L << 20).toString)
        .mode("overwrite").parquet(alt4)
    }

    def ms(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
    }
    def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

    def q3(path: String) = {
      val df = graft.core.Tables.load(spark,
        path.substring(0, path.lastIndexOf('/')),
        path.substring(path.lastIndexOf('/') + 1).stripSuffix(".parquet"))
      df.agg(countDistinct(col("o_custkey")).as("u"))
    }
    // Tables.load expects dir/name.parquet; build paths accordingly
    def mk(name: String): () => org.apache.spark.sql.DataFrame = name match {
      case "orig" => () => graft.core.Tables.load(spark, base, "orders")
        .agg(countDistinct(col("o_custkey")).as("u"))
      case "f8" => () => spark.read.parquet(alt8)
        .agg(countDistinct(col("o_custkey")).as("u"))
      case "f4" => () => spark.read.parquet(alt4)
        .agg(countDistinct(col("o_custkey")).as("u"))
    }
    val names = Seq("orig", "f8", "f4")
    // answers
    names.foreach(n => println(s"[q3layout] $n answer=" +
      mk(n)().collect()(0).getLong(0)))
    val times = names.map(_ -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap
    names.foreach(n => mk(n)().write.format("noop").mode("overwrite").save()) // warm
    (1 to iters).foreach { _ =>
      names.foreach { n =>
        times(n) += ms(mk(n)().write.format("noop").mode("overwrite").save())
      }
    }
    names.foreach { n =>
      val ts = times(n).toSeq
      println(f"[q3layout] $n%-5s median=${med(ts)}%5.0f ms all=${ts.map(v => f"$v%.0f").mkString(",")}")
    }
    spark.stop()
  }
}
