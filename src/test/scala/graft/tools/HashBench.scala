package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Measurement driver for the cityHash64 hot path (q4 shape) — a dev
  * tool in the TEST sourceset (not shipped). Run with
  * `sbt "Test/runMain graft.tools.HashBench <benchDir> [iters]"`; the
  * HB_* env knobs mirror graft.Bench's session confs one at a time so
  * config differences can be bisected.
  */
object HashBench {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_bench100x_b9247a6acc2a4629")
    val iters = if (args.length > 1) args(1).toInt else 5
    // Env knobs to bisect config differences vs graft.Bench's session.
    val b0 = SparkSession.builder()
      .appName("hash-bench").master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
    val b1 = sys.env.get("HB_MIN_PART").fold(b0)(v =>
      b0.config("spark.sql.files.minPartitionNum", v))
    val b2 = sys.env.get("HB_PAGE_SIZE").fold(b1)(v =>
      b1.config("spark.buffer.pageSize", v))
    val b2b = sys.env.get("HB_MAX_PART_BYTES").fold(b2)(v =>
      b2.config("spark.sql.files.maxPartitionBytes", v))
    val b3 = sys.env.get("HB_AQE").fold(b2b)(v =>
      b2b.config("spark.sql.adaptive.enabled", v))
    val spark = b3.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val li = graft.core.Tables.load(spark, dir, "lineitem")
    def q = li.select(call_function("cityHash64", li.columns.map(col).toIndexedSeq: _*).as("h"))
      .agg(sum(pmod(col("h"), lit(1000000007L))).as("s"))
    // warm
    q.collect()
    val times = (1 to iters).map { _ =>
      val t0 = System.nanoTime()
      val r = q.collect()(0).getLong(0)
      val s = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[hashbench] $s%.3f s  result=$r")
      s
    }
    System.err.println(f"[hashbench] median=${times.sorted.apply(iters / 2)}%.3f s")
    spark.stop()
  }
}
