package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Stage decomposition of sf10 q3 under the bench confs, adaptive
  * splits on vs off. Run: Test/runMain graft.tools.Q3Decomp [iters]
  */
object Q3Decomp {
  def main(args: Array[String]): Unit = {
    val iters = args.headOption.map(_.toInt).getOrElse(5)
    val base = Option(new java.io.File("/tmp").listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("graft_bench100x_") &&
        new java.io.File(f, "_DONE").exists())
      .maxBy(_.lastModified).getPath
    val spark = SparkSession.builder()
      .master("local[32]")
      .appName("q3decomp")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.aggregate.map.vectorized.enable", "true")
      .config("spark.sql.parquet.columnarReaderBatchSize", "16384")
      .config("spark.buffer.pageSize", "4m")
      .config("spark.sql.files.minPartitionNum", "8")
      .config("spark.sql.files.maxPartitionBytes", (32L * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def q3() = graft.core.Tables.load(spark, base, "orders")
      .agg(countDistinct(col("o_custkey")).as("u"))

    for (adaptive <- Seq(true, false, true)) {
      spark.conf.set("spark.graft.kernelScan.adaptiveSplits", adaptive.toString)
      q3().write.format("noop").mode("overwrite").save() // warm
      (1 to iters).foreach { it =>
        val stages = scala.collection.mutable.ArrayBuffer
          .empty[(Int, Int, Long, Long, Double)]
        val l = new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val si = e.stageInfo
            stages += ((si.stageId, si.numTasks,
              si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L),
              si.taskMetrics.executorRunTime / 1e3))
          }
        }
        spark.sparkContext.addSparkListener(l)
        val t0 = System.nanoTime()
        q3().write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e6
        val tEnd = System.currentTimeMillis()
        Thread.sleep(300)
        spark.sparkContext.removeSparkListener(l)
        val t0ms = tEnd - wall.toLong
        val det = stages.sortBy(_._1).map { case (id, tasks, sub, comp, run) =>
          f"stage$id tasks=$tasks sub=+${sub - t0ms}ms wall=${comp - sub}ms runSum=${run}%.3f"
        }.mkString(" | ")
        println(f"[q3decomp] adaptive=$adaptive iter$it wall=${wall}%.0f ms  $det")
      }
    }
    spark.conf.unset("spark.graft.kernelScan.adaptiveSplits")
    spark.stop()
  }
}
