package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** A/B attribution for the q4_hash_scan sf10 spread (VERDICT r13 task
  * #3: four same-HEAD r12 runs spanned 1.61-5.43 s and the off-heap
  * column-vector pool was A/B'd for q2 but never for q4, whose
  * full-width scan has a very different vector-lifetime profile).
  * Times the full-width cityHash64 scan over the 100× lineitem copy
  * under off-heap ON (the engine default: 4 GiB pool) vs OFF
  * (SPARK_GRAFT_OFFHEAP=0's config set), ≥5 iterations each, with
  * per-run GC deltas. Run with
  * `Test/runMain graft.tools.Q4Probe <base100 dir> [iters]`. */
object Q4Probe {
  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse {
      val hits = Option(new java.io.File("/tmp").listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.startsWith("graft_bench100x_") &&
          new java.io.File(f, "_DONE").exists())
      require(hits.nonEmpty, "no /tmp/graft_bench100x_* dir — run Bench first")
      hits.maxBy(_.lastModified).getPath
    }
    val iters = args.lift(1).map(_.toInt).getOrElse(5)
    val variants: Seq[(String, Map[String, String])] = Seq(
      "offheap4g" -> Map(
        "spark.sql.columnVector.offheap.enabled" -> "true",
        "spark.memory.offHeap.enabled" -> "true",
        "spark.memory.offHeap.size" -> (4L << 30).toString),
      "onheap" -> Map.empty)
    variants.foreach { case (name, confs) =>
      val spark = SparkSession.builder()
        .master("local[32]")
        .appName(s"q4probe-$name")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.files.maxPartitionBytes", s"${32 * 1024 * 1024}")
        .config("spark.sql.files.minPartitionNum", "8")
        .config("spark.buffer.pageSize", "4m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config(confs)
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      try {
        def gcMs = java.lang.management.ManagementFactory
          .getGarbageCollectorMXBeans.stream.mapToLong(_.getCollectionTime).sum
        def run(): (Double, Long) = {
          val g0 = gcMs
          val t0 = System.nanoTime()
          val li = graft.core.Tables.load(spark, base, "lineitem")
          li.select(call_function("cityHash64",
              li.columns.map(col).toIndexedSeq: _*).as("h"))
            .agg(sum(pmod(col("h"), lit(1000000007L))).as("s"))
            .write.format("noop").mode("overwrite").save()
          ((System.nanoTime() - t0) / 1e9, gcMs - g0)
        }
        run() // warmup
        val rs = (1 to iters).map(_ => run())
        val ts = rs.map(_._1).sorted
        println(f"[q4probe] $name%-10s median=${ts(ts.size / 2)}%.3f " +
          f"min=${ts.head}%.3f max=${ts.last}%.3f s  " +
          s"all=${rs.map(r => f"${r._1}%.2f").mkString(",")}  " +
          s"gcMs=${rs.map(_._2).mkString(",")}")
      } finally spark.stop()
    }
  }
}
