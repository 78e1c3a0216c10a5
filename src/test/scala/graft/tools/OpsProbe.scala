package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Stage decomposition of the sf0.1 LLM-operator bench shapes
  * (q5 minhash, q6 lsh, q7 bm25, q8 semdedup): per-stage task counts,
  * wall, summed run/GC, shuffle bytes — the data that says whether the
  * time is per-row work, shuffle rounds, or scheduling floor.
  * Run: Test/runMain graft.tools.OpsProbe [sfDir] [iters]
  */
object OpsProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val iters = args.lift(1).map(_.toInt).getOrElse(3)
    val cpus = "32"
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("opsprobe")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.aggregate.map.vectorized.enable", "true")
      .config("spark.sql.parquet.columnarReaderBatchSize", "16384")
      .config("spark.buffer.pageSize", "4m")
      .config("spark.sql.files.minPartitionNum", "8")
      .config("spark.sql.files.maxPartitionBytes", (32L * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val shapes: Seq[(String, () => DataFrame)] = Seq(
      "q5_minhash_dedup" -> (() =>
        graft.operators.Dedup.minHashDupPairs(
          Tables.load(spark, sfDir, "documents"), "doc_id", "text",
          shingleSize = 3, numHashes = 128, bands = 32, threshold = 0.7)),
      "q6_lsh_ann" -> (() =>
        graft.operators.Similarity.lshNeighbors(
          Tables.load(spark, sfDir, "embeddings"), "vec_id", "embedding",
          planes = 12, dim = 64, minCosine = 0.9)),
      "q7_bm25" -> (() =>
        graft.operators.Retrieval.bm25(
          Tables.load(spark, sfDir, "documents"), "doc_id", "text",
          queryTerms = Seq("spark", "vector", "customer"))),
      "q8_semantic_dedup" -> (() =>
        graft.operators.SemDedup.dupPairs(
          Tables.load(spark, sfDir, "embeddings"), "vec_id", "embedding",
          k = 16, dim = 64, threshold = 0.9, iters = 1)))

    shapes.foreach { case (name, mk) =>
      // warm
      mk().write.format("noop").mode("overwrite").save()
      (1 to iters).foreach { it =>
        spark.catalog.clearCache()
        System.gc()
        val stages = scala.collection.mutable.ArrayBuffer
          .empty[(Int, Int, Double, Double, Double, Long, String)]
        val l = new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val si = e.stageInfo
            val m = si.taskMetrics
            stages += ((si.stageId, si.numTasks,
              (si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)) / 1e3,
              m.executorRunTime / 1e3, m.jvmGCTime / 1e3,
              m.shuffleWriteMetrics.bytesWritten,
              si.name.linesIterator.next().take(90)))
          }
        }
        spark.sparkContext.addSparkListener(l)
        val t0 = System.nanoTime()
        mk().write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(400)
        spark.sparkContext.removeSparkListener(l)
        val inStages = stages.map(_._3).sum
        println(f"[opsprobe] $name iter$it wall=${wall}%.3f stageWallSum=${inStages}%.3f " +
          f"stages=${stages.size} tasks=${stages.map(_._2).sum}")
        stages.sortBy(_._1).foreach { case (id, tasks, w, run, gc, shuf, nm) =>
          println(f"[opsprobe]   stage=$id tasks=$tasks wall=${w}%.3f runSum=${run}%.3f " +
            f"gcSum=${gc}%.3f shufWriteMB=${shuf / 1e6}%.2f  $nm")
        }
      }
    }
    spark.stop()
  }
}
