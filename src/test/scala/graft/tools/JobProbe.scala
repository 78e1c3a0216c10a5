package graft.tools

import org.apache.spark.sql.SparkSession

/** Per-JOB timing of the q3/q2 kernel shapes: which jobs run inside
  * one warm query, how long each takes, how many tasks. Attributes the
  * exec-phase milliseconds ConstProbe measures as a lump. */
object JobProbe {
  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse {
      val hits = Option(new java.io.File("/tmp").listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.startsWith("graft_bench100x_") &&
          new java.io.File(f, "_DONE").exists())
      require(hits.nonEmpty, "no /tmp/graft_bench100x_* dir — run Bench first")
      hits.maxBy(_.lastModified).getPath
    }
    val iters = args.lift(1).map(_.toInt).getOrElse(5)
    val spark = SparkSession.builder()
      .master("local[32]")
      .appName("jobprobe")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.aggregate.map.vectorized.enable", "true")
      .config("spark.sql.parquet.columnarReaderBatchSize", "16384")
      .config("spark.buffer.pageSize", "4m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    final case class J(id: Int, desc: String, tasks: Int,
        start: Long, var end: Long = 0L)
    val live = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    val done = new java.util.concurrent.CopyOnWriteArrayList[J]()
    val taskLines = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val lastFinish = new java.util.concurrent.atomic.AtomicLong(0L)
    val firstLaunch = new java.util.concurrent.atomic.AtomicLong(Long.MaxValue)
    val resultBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val tasks = e.stageInfos.map(_.numTasks).sum
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(e.stageInfos.headOption.map(_.name)).getOrElse("?")
        live.put(e.jobId, J(e.jobId, desc.take(90), tasks, e.time))
      }
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val j = live.remove(e.jobId)
        if (j != null) { j.end = e.time; done.add(j) }
      }
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        lastFinish.updateAndGet(v => math.max(v, e.taskInfo.finishTime))
        firstLaunch.updateAndGet(v => math.min(v, e.taskInfo.launchTime))
        if (m != null) {
          resultBytes.addAndGet(m.resultSize)
          taskLines.add(
            f"run=${m.executorRunTime}%d deser=${m.executorDeserializeTime}%d " +
            f"gc=${m.jvmGCTime}%d cpu=${m.executorCpuTime / 1000000}%d " +
            f"resSer=${m.resultSerializationTime}%d resBytes=${m.resultSize}%d " +
            f"launch->finish=${e.taskInfo.finishTime - e.taskInfo.launchTime}%d " +
            f"inBytes=${m.inputMetrics.bytesRead}%d inRows=${m.inputMetrics.recordsRead}%d")
        }
      }
    })

    def runShape(name: String, f: () => Unit): Unit = {
      f() // warm
      for (i <- 1 to iters) {
        done.clear()
        taskLines.clear()
        lastFinish.set(0L)
        firstLaunch.set(Long.MaxValue)
        resultBytes.set(0L)
        val t0 = System.nanoTime()
        f()
        val wallMs = (System.nanoTime() - t0) / 1e6
        Thread.sleep(100) // let listener drain
        val parts = done.toArray(Array.empty[J]).sortBy(_.id)
          .map(j => f"[${j.tasks}%d tasks ${j.end - j.start}%d ms] ${j.desc}")
        val jl = done.toArray(Array.empty[J]).sortBy(_.id)
        val tail = jl.lastOption.map(j =>
          f"submit->firstLaunch=${firstLaunch.get - j.start}%d " +
          f"lastFinish->jobEnd=${j.end - lastFinish.get}%d " +
          f"resultMB=${resultBytes.get / 1e6}%.2f").getOrElse("")
        println(f"[jobprobe] $name iter$i wall=$wallMs%.1f ms jobs=${parts.length} $tail")
        parts.foreach(p => println(s"[jobprobe]    $p"))
        if (i == iters)
          taskLines.toArray(Array.empty[String]).take(8)
            .foreach(t => println(s"[jobprobe]      task $t"))
      }
    }

    val orders = graft.core.Tables.load(spark, base, "orders")
    orders.createOrReplaceTempView("orders")
    val lineitem = graft.core.Tables.load(spark, base, "lineitem")
    lineitem.createOrReplaceTempView("lineitem")

    runShape("q3_uniq", () => {
      graft.dialect.ChSql.sql(spark,
        "SELECT uniqExact(o_custkey) AS u FROM orders").collect()
      ()
    })
    runShape("q2_group", () => {
      graft.dialect.ChSql.sql(spark,
        "SELECT sum(l_quantity) AS s, l_returnflag FROM lineitem GROUP BY l_returnflag")
        .collect()
      ()
    })
    spark.stop()
  }
}
