package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** q3 sf10 split-width A/B: the bench confs (32MB cap, minPartitionNum
  * = cores/4) give the 186 MB orders scan only ~8-10 tasks on 32
  * cores; this probe times the same countDistinct under narrower
  * splits. Separate sessions per config (file-split confs are fixed at
  * scan planning). Run: Test/runMain graft.tools.Q3SplitProbe [iters]
  */
object Q3SplitProbe {
  def main(args: Array[String]): Unit = {
    val iters = args.headOption.map(_.toInt).getOrElse(7)
    val base = Option(new java.io.File("/tmp").listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("graft_bench100x_") &&
        new java.io.File(f, "_DONE").exists())
      .maxBy(_.lastModified).getPath

    def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    def ms(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
    }

    case class Cfg(name: String, maxPart: Long, minPart: Int, openCost: Long)
    val cfgs = Seq(
      Cfg("bench_32m_min8", 32L << 20, 8, 4L << 20),
      Cfg("narrow_6m_oc1m", 6L << 20, 8, 1L << 20),
      Cfg("narrow_12m_oc1m", 12L << 20, 8, 1L << 20),
      Cfg("bench_again", 32L << 20, 8, 4L << 20))
    cfgs.foreach { c =>
      val spark = SparkSession.builder()
        .master("local[32]")
        .appName(s"q3split-${c.name}")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.parquet.columnarReaderBatchSize", "16384")
        .config("spark.buffer.pageSize", "4m")
        .config("spark.sql.files.minPartitionNum", c.minPart.toString)
        .config("spark.sql.files.maxPartitionBytes", c.maxPart.toString)
        .config("spark.sql.files.openCostInBytes", c.openCost.toString)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      def q3() = graft.core.Tables.load(spark, base, "orders")
        .agg(countDistinct(col("o_custkey")).as("u"))
      val parts = q3().rdd.getNumPartitions // rough scan width indicator
      q3().write.format("noop").mode("overwrite").save()
      val ts = (1 to iters).map(_ => ms(
        q3().write.format("noop").mode("overwrite").save()))
      println(f"[q3split] ${c.name}%-16s median=${med(ts)}%5.0f ms all=${ts.map(v => f"$v%.0f").mkString(",")}")
      spark.stop()
    }
  }
}
