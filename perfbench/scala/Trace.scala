package perfbench

import java.io.PrintWriter
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.core.{Catalog, Tables}
import graft.dialect.ChSql
import graft.service.QueryService
import graft.service.native.{NativeBlock, RowBinary}
import graft.service.native.NativeWire.WireOut

/** The traced run: hosts the engine in-process (configured as
  * `graft.Serve` configures it, with both doors bound in the same JVM)
  * and replays a plan's distinct statements three ways, in plan order:
  *
  *   1. over the door, for the client-side latency;
  *   2. in-process, untimed per layer — the untraced baseline;
  *   3. in-process through the same public layer calls, each inside a
  *      span, with a SparkListener attributing jobs, stages and tasks.
  *
  * Usage: Trace <plan.json> <data dir> <spans.jsonl> <layers.json>
  */
object Trace {
  final case class Span(id: Int, parent: Int, name: String, req: String,
      startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  /** Per-statement Spark accounting, keyed by the `perfbench.req` local
    * property every job of a traced statement carries. */
  final class Acc {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleBytes = 0L; var spillBytes = 0L
    var rowsRead = 0L; var bytesRead = 0L
    val stageSpans = mutable.ArrayBuffer.empty[(Int, Long, Long)]
  }

  final class Listener extends SparkListener {
    val byReq = new java.util.concurrent.ConcurrentHashMap[String, Acc]()
    private val stageReq = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    private def acc(r: String) = byReq.computeIfAbsent(r, _ => new Acc)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.req"))).foreach { r =>
        val a = acc(r)
        a.synchronized { a.jobs += 1 }
        e.stageIds.foreach(stageReq.put(_, r))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageReq.get(e.stageInfo.stageId)).foreach { r =>
        val a = acc(r)
        val i = e.stageInfo
        a.synchronized {
          a.stages += 1
          for (s <- i.submissionTime; c <- i.completionTime)
            a.stageSpans += ((i.stageId, s, c))
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageReq.get(e.stageId)).foreach { r =>
        val a = acc(r)
        val m = e.taskMetrics
        a.synchronized {
          a.tasks += 1
          if (m != null) {
            a.runMs += m.executorRunTime
            a.cpuNs += m.executorCpuTime
            a.gcMs += m.jvmGCTime
            a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
            a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            a.rowsRead += m.inputMetrics.recordsRead
            a.bytesRead += m.inputMetrics.bytesRead
          }
        }
      }
  }

  /** Layer that threw, by the span that was open. */
  final class LayerFailure(val layer: String, cause: Throwable)
      extends RuntimeException(cause.getMessage, cause)

  /** Custom-plan markers in an executed plan's tree text: the kernels'
    * RDDs name their source file, footer-served aggregates become a
    * LocalTableScan, and a projection reroute scans the projection
    * store (`spark.graft.projectionDir`, a `projections` directory). */
  val KernelMarkers: Seq[(String, scala.util.matching.Regex)] = Seq(
    "DictAgg" -> "DictAgg".r,
    "BitmapDistinct" -> "BitmapDistinct".r,
    "HashScan" -> "HashScan".r,
    "FooterAggregates" -> "LocalTableScan".r,
    "AggProjections" -> "/projections/".r,
    "DriverMerge" -> "DriverMergeAgg".r)

  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .appName("graft-serve")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val Array(planPath, dataDir, spansPath, outPath) = args
    val plan = Plan.load(planPath)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = session(cpus)
    Tables.registerViews(spark, dataDir)
    Tables.recordInCatalog(spark, dataDir)
    val http = new graft.service.QueryServer(spark, 0)
    val httpPort = http.start()
    val native = new graft.service.native.NativeServer(spark, 0)
    val nativePort = native.start()
    try run(spark, plan, dataDir, httpPort, nativePort, cpus, spansPath, outPath)
    finally { native.stop(); http.stop(1000L); spark.stop() }
  }

  def run(spark: SparkSession, plan: Plan, dataDir: String, httpPort: Int, nativePort: Int, cpus: Int,
      spansPath: String, outPath: String): Unit = {
    NativeConn.using(nativePort)(c => plan.prep.foreach(c.exec(_)))
    val listener = new Listener
    spark.sparkContext.addSparkListener(listener)

    val stmts: Seq[Stmt] = plan.schedules.flatten.distinct.map(plan.stmts(_))
      .filterNot(s => s.template == Ingest.InsertTemplate || s.template == Ingest.ReadTemplate)
    val reported = mutable.ArrayBuffer.empty[Stmt] ++ stmts
    val door = Door.connect(plan, httpPort, nativePort)
    val spans = mutable.ArrayBuffer.empty[Span]
    var nextId = 0
    def span[A](name: String, parent: Int, req: String)(f: Int => A): A = {
      nextId += 1
      val id = nextId
      val t0 = System.nanoTime()
      try f(id)
      catch {
        case e: LayerFailure => throw e
        case e: Throwable => throw new LayerFailure(name.takeWhile(_ != '.'), e)
      } finally spans += Span(id, parent, name, req, t0, System.nanoTime())
    }

    val failures = mutable.LinkedHashMap.empty[String, String]
    val failedBy = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var attempted = 0L
    var failedOps = 0L
    var resultRows = 0L
    var encodeBytes = 0L
    val doorMs = mutable.Map.empty[String, Double]
    val plainMs = mutable.Map.empty[String, Double]

    val kernelCounts = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val kernelsBy = mutable.Map.empty[String, Seq[String]]
    val plans = mutable.LinkedHashMap.empty[String, String]
    def kernels(id: String, df: DataFrame): Unit = {
      val text = df.queryExecution.executedPlan.treeString
      plans(id) = text
      val hits = KernelMarkers.filter(_._2.findFirstIn(text).nonEmpty).map(_._1)
      hits.foreach(kernelCounts(_) += 1)
      kernelsBy(id) = hits
    }

    /** One in-process pass through the door's layer calls. */
    def inProcess(s: Stmt, req: String, traced: Boolean): Option[String] = {
      def layer[A](name: String, parent: Int)(f: Int => A): A =
        if (traced) span(name, parent, req)(f)
        else try f(0) catch {
          case e: LayerFailure => throw e
          case e: Throwable => throw new LayerFailure(name.takeWhile(_ != '.'), e)
        }
      layer("statement", 0) { root =>
        // both doors serve each statement in a fresh session: the HTTP
        // door isolates every request, and the native client dials one
        // connection, so one session, per statement
        val sess = layer("service.session", root) { _ =>
          val ss = spark.newSession(); new QueryService(ss); ss
        }
        layer("core.session_views", root)(_ => Catalog.ensureSessionViews(sess, s.sql))
        val r = layer("dialect.rewrite", root) { _ =>
          val rw = ChSql.rewrite(sess, s.sql); ChSql.applySettings(sess, rw.settings); rw
        }
        val df: DataFrame = layer("catalyst.analyze", root) { _ =>
          val d = ChSql.finish(sess, r); d.queryExecution.analyzed; d
        }
        layer("catalyst.optimize", root)(_ => df.queryExecution.optimizedPlan)
        layer("catalyst.plan", root)(_ => df.queryExecution.executedPlan)
        val rows: Array[Row] = layer("stages.wall", root) { _ =>
          sess.sparkContext.setLocalProperty("perfbench.req", if (traced) req else null)
          try df.collect()
          finally sess.sparkContext.setLocalProperty("perfbench.req", null)
        }
        val bytes = layer("service.encode", root) { _ =>
          val sink = new CountingSink
          if (plan.door == "http")
            RowBinary.streamResult(df.schema, rows.iterator.map(_.toSeq), sink, true, true)
          else {
            val o = new WireOut
            NativeBlock.writeBlock(o, NativeBlock.fromRows(df.schema, rows), rows.length,
              graft.service.native.NativeProtocol.ServerRevision)
            sink.write(o.bytes)
          }
          sink.n
        }
        if (traced) {
          resultRows += rows.length
          encodeBytes += bytes
          kernels(s.id, df)
        }
        val got = rows.toSeq.map(_.toSeq)
        s.expectRows.map(w => Check.rows(got.map(_.map(v => if (v == null) "\\N" else v.toString)), w, s.tol))
          .orElse(s.expectAgg.map(w => Check.agg(got.iterator, w, s.tol)))
          .getOrElse(Some("no expectation"))
      }
    }

    def record(s: Stmt, where: String, res: => Option[String]): Unit = {
      attempted += 1
      val err =
        try res
        catch {
          case e: LayerFailure =>
            failedBy(e.layer) += 1
            Some(s"${e.layer}: ${e.getMessage}")
          case e: Throwable =>
            failedBy(where) += 1
            Some(s"$where: ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      err.foreach { m =>
        failedOps += 1
        if (!failures.contains(s.id)) failures(s.id) = s"[$where] ${s.sql.take(160)} -> $m"
      }
    }

    // warm-up: one door pass over every statement (answers checked)
    stmts.foreach(s => record(s, "door", door.run(s)._3.map(m => s"wrong answer: $m")))

    // then per statement: door, untraced U, traced T, untraced U — the
    // two U bracket T, so a warming trend cancels out of the overhead
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    var gcMsTraced = 0L
    var heapPeak = 0L
    var dmEngaged = 0L
    var dmFallbacks = 0L
    val tracedMs = mutable.Map.empty[String, Double]
    def timedMs(f: => Option[String]): (Double, Option[String]) = {
      val t0 = System.nanoTime()
      val v = f
      ((System.nanoTime() - t0) / 1e6, v)
    }
    def untraced(s: Stmt): Unit = record(s, "stages", {
      val (ms, v) = timedMs(inProcess(s, s.id, traced = false))
      plainMs(s.id) = plainMs.get(s.id).fold(ms)(p => (p + ms) / 2)
      v.map(m => s"wrong answer: $m")
    })
    def traced(s: Stmt): Unit = record(s, "stages", {
      pools.foreach(_.resetPeakUsage())
      val gc0 = gcBeans.map(_.getCollectionTime).sum
      val dm0 = graft.plans.DriverMerge.engagements.get
      val df0 = graft.plans.DriverMerge.fallbacksCompleted.get
      val (ms, v) = timedMs(inProcess(s, s"${s.id}#t", traced = true))
      tracedMs(s.id) = ms
      gcMsTraced += gcBeans.map(_.getCollectionTime).sum - gc0
      heapPeak = math.max(heapPeak, pools.map(_.getPeakUsage.getUsed).sum)
      dmEngaged += graft.plans.DriverMerge.engagements.get - dm0
      dmFallbacks += graft.plans.DriverMerge.fallbacksCompleted.get - df0
      v.map(m => s"wrong answer: $m")
    })
    def measure(s: Stmt, viaDoor: Boolean): Unit = {
      if (viaDoor) record(s, "door", {
        val (ms, v) = timedMs(door.run(s)._3)
        doorMs(s.id) = ms
        v.map(m => s"wrong answer: $m")
      })
      untraced(s); traced(s); untraced(s)
    }
    stmts.foreach(measure(_, viaDoor = true))
    door.close()

    // ingest: batches through QueryService.execute of INSERT … SELECT
    val insertMs = mutable.ArrayBuffer.empty[Double]
    var parts = 0L
    var writeAmp = 0.0
    if (plan.ingestBatchRows > 0) {
      val qs = new QueryService(spark)
      qs.execute(QueryService.QueryRequest(Ingest.Ddl))
      var sentBytes = 0L
      val n = 8
      (0 until n).foreach { b =>
        val bt = Ingest.batch(plan.seed, b, plan.ingestBatchRows)
        sentBytes += bt.nativeBytes
        val stmt = Stmt(s"ingest_insert_$b", "insert", s"INSERT INTO ${Ingest.Table} SELECT …", bt.ids.length,
          false, None, None, 0, 0)
        record(stmt, "stages", {
          import spark.implicits._
          val rows = bt.ids.indices.map(i => (bt.ids(i), new java.sql.Timestamp(bt.ts(i) * 1000L),
            bt.users(i), bt.types(i), bt.values(i)))
          rows.toDF("event_id", "ts", "user_id", "event_type", "value")
            .createOrReplaceTempView("perfbench_batch")
          val req = s"ingest_insert_$b#t"
          span("sources.insert", 0, req) { _ =>
            spark.sparkContext.setLocalProperty("perfbench.req", req)
            try qs.execute(QueryService.QueryRequest(
              s"INSERT INTO ${Ingest.Table} SELECT * FROM perfbench_batch"))
            finally spark.sparkContext.setLocalProperty("perfbench.req", null)
          }
          insertMs += spans.last.ms
          None
        })
      }
      val rs = Ingest.readers(plan.seed, (0 until n).map(Ingest.batch(plan.seed, _, plan.ingestBatchRows)))
      val readers = rs.map(rd => Stmt(rd.id, rd.id, rd.sql, n.toLong * plan.ingestBatchRows, false,
        Some(rd.answer(n)), None, 1e-9, 0))
      readers.foreach(s => record(s, "stages", inProcess(s, s.id, traced = false)))
      readers.foreach { s =>
        reported += s
        measure(s, viaDoor = false)
      }
      val tree = new java.io.File(
        Catalog.lookup(Ingest.Table).flatMap(_.endpoint).getOrElse(""))
      val partDirs = Option(tree.listFiles()).getOrElse(Array.empty).filter(f =>
        f.isDirectory && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      parts = partDirs.length.toLong
      writeAmp = org.apache.commons.io.FileUtils.sizeOfDirectory(tree).toDouble / math.max(1L, sentBytes)
    }
    org.apache.spark.PerfbenchAccess.drainListeners(spark.sparkContext)

    // minHash candidate vs kept pairs over the minHash statement's own
    // input, the whole `documents` table
    var candidates = 0L
    var kept = 0L
    stmts.filter(_.template == "p1_minhash").foreach { s =>
      val docs = Tables.load(spark, dataDir, "documents")
      candidates += graft.operators.Dedup.lshCandidates(
        graft.operators.Dedup.minHashState(docs, "doc_id", "text", 3, 128, 32), "_id", "_sig", 32).count()
      kept += graft.operators.Dedup.minHashDupPairs(docs, "doc_id", "text", 3, 128, 32,
        s.param).count()
    }

    // stage spans from listener timestamps, under each statement's stages span
    val stageSpans = mutable.ArrayBuffer.empty[Span]
    // listener times are wall-clock ms; map them onto the nano clock
    val off = System.currentTimeMillis() * 1000000L - System.nanoTime()
    spans.filter(_.name == "stages.wall").foreach { w =>
      Option(listener.byReq.get(w.req)).foreach { a =>
        a.stageSpans.foreach { case (sid, s, c) =>
          nextId += 1
          stageSpans += Span(nextId, w.id, s"stage.$sid", w.req, s * 1000000L - off, c * 1000000L - off)
        }
      }
    }
    val pp = new PrintWriter(spansPath.stripSuffix(".spans.jsonl") + ".plans.txt", "UTF-8")
    try plans.foreach { case (id, text) => pp.println(s"== $id\n$text") } finally pp.close()
    val all = spans ++ stageSpans
    val pw = new PrintWriter(spansPath, "UTF-8")
    try all.sortBy(_.startNs).foreach { s =>
      pw.println(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","req":${Plan.mapper.writeValueAsString(s.req)},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally pw.close()

    // aggregate per layer
    val tracedRoots = spans.filter(s => s.name == "statement" && s.req.endsWith("#t"))
    val children = spans.groupBy(_.parent)
    def layerMs(name: String): Double = {
      val xs = spans.filter(s => s.name == name && s.req.endsWith("#t"))
      if (tracedRoots.isEmpty) 0.0 else xs.map(_.ms).sum / tracedRoots.size
    }
    val stmtTotal = tracedRoots.map(_.ms).sum
    val named = tracedRoots.map(r => children.getOrElse(r.id, Nil).map(_.ms).sum).sum
    val accs = listener.byReq.asScala.filter(_._1.endsWith("#t")).values.toSeq
    def sumL(f: Acc => Long): Long = accs.map(f).sum
    val wallMsTotal = spans.filter(s => (s.name == "stages.wall" || s.name == "sources.insert") &&
      s.req.endsWith("#t")).map(_.ms).sum
    val doorSelf = doorMs.keys.filter(plainMs.contains).toSeq.map(k => doorMs(k) - plainMs(k))
    val paired = tracedMs.keys.filter(plainMs.contains).toSeq
    val overhead = paired.map(k => tracedMs(k) - plainMs(k))
    val candidatesOut = candidates
    val m = mutable.LinkedHashMap[String, (Double, String)](
      "service.door_self_ms" -> (if (doorSelf.isEmpty) 0.0 else doorSelf.sum / doorSelf.size, "ms"),
      "service.session_ms" -> (layerMs("service.session"), "ms"),
      "core.session_views_ms" -> (layerMs("core.session_views"), "ms"),
      "dialect.rewrite_ms" -> (layerMs("dialect.rewrite"), "ms"),
      "catalyst.analyze_ms" -> (layerMs("catalyst.analyze"), "ms"),
      "catalyst.optimize_ms" -> (layerMs("catalyst.optimize"), "ms"),
      "catalyst.plan_ms" -> (layerMs("catalyst.plan"), "ms"),
      "stages.wall_ms" -> (layerMs("stages.wall"), "ms"),
      "stages.jobs" -> (sumL(_.jobs).toDouble, "count"),
      "stages.stages" -> (sumL(_.stages).toDouble, "count"),
      "stages.tasks" -> (sumL(_.tasks).toDouble, "count"),
      "stages.task_run_ms" -> (sumL(_.runMs).toDouble, "ms"),
      "stages.task_cpu_ms" -> (sumL(_.cpuNs) / 1e6, "ms"),
      "stages.gc_ms" -> (sumL(_.gcMs).toDouble, "ms"),
      "stages.core_busy_ratio" -> (if (wallMsTotal <= 0) 0.0 else sumL(_.runMs) / (wallMsTotal * cpus), "ratio"),
      "stages.shuffle_bytes" -> (sumL(_.shuffleBytes).toDouble, "bytes"),
      "stages.spill_bytes" -> (sumL(_.spillBytes).toDouble, "bytes"),
      "sources.rows_read" -> (sumL(_.rowsRead).toDouble, "rows"),
      "sources.bytes_read" -> (sumL(_.bytesRead).toDouble, "bytes"),
      "sources.rows_read_per_result_row" -> (sumL(_.rowsRead).toDouble / math.max(1L, resultRows), "ratio"),
      "plans.kernels_engaged" -> (kernelCounts.values.sum.toDouble, "count"),
      "plans.driver_merge_engagements" -> (dmEngaged.toDouble, "count"),
      "plans.driver_merge_fallbacks" -> (dmFallbacks.toDouble, "count"),
      "plans.driver_merge_fallback_ratio" -> (dmFallbacks.toDouble / math.max(1L, dmEngaged), "ratio"),
      "operators.candidate_pairs" -> (candidatesOut.toDouble, "count"),
      "operators.pairs_kept" -> (kept.toDouble, "count"),
      "operators.pair_yield" -> (if (candidatesOut == 0) 0.0 else kept.toDouble / candidatesOut, "ratio"),
      "service.encode_ms" -> (layerMs("service.encode"), "ms"),
      "service.encode_bytes" -> (encodeBytes.toDouble, "bytes"),
      "sources.insert_ms" -> (if (insertMs.isEmpty) 0.0 else insertMs.sum / insertMs.size, "ms"),
      "sources.parts" -> (parts.toDouble, "count"),
      "sources.write_amp" -> (writeAmp, "ratio"),
      "jvm.gc_ms" -> (gcMsTraced.toDouble, "ms"),
      "jvm.heap_peak_mb" -> (heapPeak / 1048576.0, "MB"),
      "failed.door" -> (failedBy("door").toDouble, "count"),
      "failed.dialect" -> (failedBy("dialect").toDouble, "count"),
      "failed.catalyst" -> (failedBy("catalyst").toDouble, "count"),
      "failed.stages" -> (failedBy("stages").toDouble, "count"),
      "failed.encode" -> ((failedBy("service") + failedBy("encode")).toDouble, "count"),
      "trace.overhead_ms" -> (if (overhead.isEmpty) 0.0 else overhead.sum / overhead.size, "ms"),
      "trace.attributed_ratio" -> (if (stmtTotal <= 0) 0.0 else named / stmtTotal, "ratio"))

    val out = new java.util.LinkedHashMap[String, Any]()
    val metrics = new java.util.LinkedHashMap[String, Any]()
    m.foreach { case (k, (v, u)) =>
      val e = new java.util.LinkedHashMap[String, Any](); e.put("value", v); e.put("unit", u)
      metrics.put(k, e)
    }
    out.put("metrics", metrics)
    out.put("attempted", attempted)
    out.put("failed", failedOps)
    out.put("failures", failures.toSeq.map { case (k, v) => s"$k: $v" }.asJava)
    out.put("kernels", kernelCounts.asJava)
    out.put("statements", reported.map { s =>
      val e = new java.util.LinkedHashMap[String, Any]()
      e.put("id", s.id)
      e.put("door_ms", doorMs.getOrElse(s.id, -1.0))
      e.put("untraced_ms", plainMs.getOrElse(s.id, -1.0))
      e.put("traced_ms", tracedMs.getOrElse(s.id, -1.0))
      e.put("kernels", kernelsBy.getOrElse(s.id, Nil).asJava)
      val root = tracedRoots.find(_.req == s"${s.id}#t")
      root.foreach { r =>
        val layers = new java.util.LinkedHashMap[String, Any]()
        children.getOrElse(r.id, Nil).foreach(c => layers.put(c.name, c.ms))
        e.put("layers", layers)
        e.put("attributed", children.getOrElse(r.id, Nil).map(_.ms).sum / r.ms)
      }
      e
    }.asJava)
    Plan.mapper.writeValue(new java.io.File(outPath), out)
  }

  final class CountingSink extends java.io.OutputStream {
    var n = 0L
    override def write(b: Int): Unit = n += 1
    override def write(b: Array[Byte], off: Int, len: Int): Unit = n += len
  }
}
