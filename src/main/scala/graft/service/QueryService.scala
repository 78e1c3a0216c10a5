package graft.service

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.dialect.ChSql

/** The BigHouse query API re-expressed on Spark (SURVEY §2.7 O1/O6/O7/O9).
  *
  * Mirrors `QueryExecutorInput{Query, InitQueries, …}` →
  * `QueryExecutorOutput{Cols, Rows}` (reference
  * `temporal/workflow_query_executor.go:30-39`): init queries run
  * serially on the session (the Spark analog of CH session-scoped `SET`s
  * on the pinned coordinator connection, `:302-310`), then the main
  * query executes and gathers to a column-name list + row list
  * (`:318-339`). Our envelope adds column TYPES — a strict superset of
  * the reference's names-only contract (S10 note).
  *
  * Every door's request runs through ONE governed lifecycle,
  * [[QueryService.governed]]: statement and FORMAT check once,
  * per-query settings (HTTP URL params, the native settings block, the
  * statement's trailing `SETTINGS` clause) applied before the deadline
  * is read and restored when the query ends, then registration, scan
  * progress, quota admission and [[Governance.runGoverned]] around the
  * plan and the body. [[execute]], [[executeStreamed]], the HTTP door
  * and the native door are thin bodies over it.
  *
  * Lifecycle notes vs the reference:
  *   - spawn/readiness/teardown (O2/O4/O8) collapse onto Spark's driver
  *     = coordinator model: the session owns its executors, so
  *     `execute` needs no barrier; elasticity is the cluster manager's
  *     dynamic allocation at real scale;
  *   - `executeOnCurrent` is the warm path (O9, `:368-410`): no init,
  *     straight to SQL on the live session.
  */
object QueryService {

  /** ≈ QueryExecutorInput (reference `workflow_query_executor.go:30-35`).
    * `macros` feeds `{cluster}`-style substitution (C4). `sinkPath`
    * offloads the result to parquet at that path instead of the row
    * envelope — the reference's "Return S3 url" TODO
    * (`workflow_query_executor.go:94`) made real, and the idempotency
    * unit for journal replay (VERDICT r9 task #7: a replayed request
    * whose artifact already landed serves it instead of re-running). */
  case class QueryRequest(
      query: String,
      initQueries: Seq[String] = Nil,
      macros: Map[String, String] = ChSql.defaultMacros,
      sinkPath: Option[String] = None)

  /** ≈ QueryExecutorOutput + types (reference `:36-39`). `format` is
    * the statement's trailing `FORMAT <name>`, rendered by the service
    * shell at the response edge. */
  case class QueryResult(
      cols: Seq[String],
      types: Seq[String],
      rows: Seq[Seq[Any]],
      settings: Map[String, String],
      format: Option[String] = None,
      /** Spark-level schema of the result — what the BINARY response
        * formats (Native, Parquet) need to encode typed columns. */
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      /** The query's Spark job group — the key into [[ScanProgress]]'s
        * executor-side read counters, which the doors' progress
        * reporting reads while streaming (r16). */
      jobGroup: Option[String] = None,
      /** Leaf-relation row estimate (CBO rowCount stats when present) —
        * CH's `total_rows_to_read`; 0 when unknown. */
      estRowsToRead: Long = 0L)

  /** What [[QueryService.governed]] lends its body, inside the
    * governance window: the request's planned frame, its result meta
    * (`rows` empty) and the query's executor-side scan counters. */
  final class Governed private[QueryService] (val df: DataFrame,
      val meta: QueryResult, val scan: ScanProgress.Counters,
      metered: Boolean) {

    /** Rows shipped across a door consume the `result_rows` quota. */
    def shipped(rows: Long): Unit =
      if (metered) Quotas.recordResultRows("default", rows)

    /** Drain the result through [[Governance.iterateBounded]]: up to W
      * = `defaultParallelism` partition jobs in flight, rows in
      * partition order, `max_result_rows` bounding the iterator (throw
      * mid-stream / break); the driver holds at most W partitions and
      * submits none ahead past `spark.driver.maxResultSize` of unread
      * bytes — never the whole result. */
    def stream[A](consume: Iterator[Seq[Any]] => A): A =
      Governance.iterateBounded(df)(rows => consume(rows.map(_.toSeq)))

    /** `FORMAT Parquet` for the HTTP door: `consume` gets ONE parquet
      * file holding the whole result, spooled under a temp dir (deleted
      * after `consume` returns). The write itself is a Spark job —
      * executor-parallel encode, coalesced to a single output task so
      * the response is one well-formed file; the driver never
      * materializes the rows. This is a PROTOCOL endpoint, not the
      * bulk-extract path — at 100 TB use `sink_path` / `INSERT INTO
      * FUNCTION file(…)`, which keep the output parallel.
      * `max_result_rows` is enforced on the plan (limit+1 →
      * refuse/truncate per `result_overflow_mode`). */
    def spoolParquet[A](consume: java.io.File => A): A = {
      val spark = df.sparkSession
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_http_parquet").toFile
      try {
        Governance.checkScanBudget(df)
        val (limited, maxRows, break) = Governance.resultBound(df)
        val out = new java.io.File(tmp, "out")
        limited.coalesce(1).write.parquet(out.toString)
        def partIn(dir: java.io.File): java.io.File =
          dir.listFiles().find(_.getName.endsWith(".parquet"))
            .getOrElse(throw new IllegalStateException(
              s"parquet spool produced no part file under $dir"))
        consume(
          if (maxRows > 0 &&
              spark.read.parquet(out.toString).count() > maxRows) {
            // footer-served count; overflow surfaces per CH semantics
            if (!break) throw Governance.tooManyRows(maxRows)
            // break: re-write truncated (bounded by maxRows, still a job)
            val cut = new java.io.File(tmp, "cut")
            spark.read.parquet(out.toString).limit(maxRows.toInt)
              .coalesce(1).write.parquet(cut.toString)
            partIn(cut)
          } else partIn(out))
      } finally {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
        }
        rm(tmp)
      }
    }
  }

  /** Temporal-shaped retry policy (SURVEY §2.7 O1): the reference gets
    * per-activity retry from Temporal's defaults — exponential backoff,
    * every error retryable unless converted to a non-retryable failure
    * (`temporal/config.go:121-133`). Bounded here by attempts instead
    * of ScheduleToClose wall-clock, the meaningful unit for a local
    * driver. */
  case class RetryPolicy(
      maxAttempts: Int = 4,
      initialBackoffMs: Long = 200,
      backoffMultiplier: Double = 2.0,
      maxBackoffMs: Long = 5000)

  /** Fault attribution, mirroring `permFailureConverter`
    * (`temporal/config.go:121-133`): known caller-fault errors —
    * analysis, parse, bad arguments — are PERMANENT (retrying cannot
    * help and hides the bug); everything else is presumed transient,
    * exactly Temporal's retry-unless-marked-non-retryable posture.
    * Fetch failures, lost executors, and IO hiccups land in the
    * transient bucket via their SparkException wrapper. */
  def isPermanent(e: Throwable): Boolean = {
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8).toSeq
    chain.exists {
      case _: org.apache.spark.sql.AnalysisException => true
      case _: org.apache.spark.sql.catalyst.parser.ParseException => true
      case _: IllegalArgumentException => true
      case _: UnsupportedOperationException => true
      case _ => false
    }
  }

  /** Run `thunk` under `policy`: permanent errors rethrow immediately,
    * transient ones retry with exponential backoff until the attempt
    * budget runs out (the last error rethrows). Exposed generically so
    * callers can wrap any driver-side action, not just [[QueryService
    * .execute]]. */
  @annotation.tailrec
  def retry[A](policy: RetryPolicy, attempt: Int = 1)(thunk: () => A): A = {
    val r =
      try Right(thunk())
      catch {
        case e: Exception if !isPermanent(e) && attempt < policy.maxAttempts => Left(e)
      }
    r match {
      case Right(a) => a
      case Left(_) =>
        val backoff = (policy.initialBackoffMs *
          math.pow(policy.backoffMultiplier, (attempt - 1).toDouble)).toLong
        Thread.sleep(math.min(backoff, policy.maxBackoffMs))
        retry(policy, attempt + 1)(thunk)
    }
  }
}

class QueryService(spark: SparkSession) {
  import QueryService._

  /** Build the DataFrame for a request: run init queries, then the main
    * statement through the dialect's one router ([[ChSql.run]]). The
    * plan is lazy — the caller picks the action (collect, write,
    * explain). */
  def executeToDf(req: QueryRequest): (DataFrame, Map[String, String]) = {
    // readonly scans the WHOLE request text (init + main, macro-
    // substituted) BEFORE anything executes — CH's READONLY contract
    Governance.checkReadonly(spark,
      (req.initQueries :+ req.query).map(q =>
        ChSql.substituteMacros(q, req.macros)))
    // the catalog outlives the per-request session isolation: tables
    // CTAS'd/ATTACH'd by EARLIER requests re-materialize as views here,
    // so request 2 can query what request 1 created (CH's own HTTP
    // behavior — its catalog is durable across requests)
    // scan the SUBSTITUTED text: a table referenced only through a
    // {macro} never matched the raw request body (review finding)
    val mentioned = (req.query +: req.initQueries)
      .map(q => ChSql.substituteMacros(q, req.macros)).mkString(" ")
    graft.core.Catalog.ensureSessionViews(spark, mentioned)
    // plain CREATE VIEW views replay the same way — their select text
    // re-runs through the dialect front door in THIS session (lazy: a
    // logical plan, no materialization). Fixpoint: a replayed view's
    // own text counts as mentioned, so view-on-view and
    // view-on-unmentioned-table chains resolve too.
    var need = mentioned
    var progress = true
    while (progress) {
      progress = false
      graft.core.MatViews.allPlain.foreach { case (n, select) =>
        if (graft.core.Catalog.mentions(need, n) && !spark.catalog.tableExists(n)) {
          graft.core.Catalog.ensureSessionViews(spark, select)
          try {
            ChSql.sql(spark, select, req.macros).createOrReplaceTempView(n)
            need += " " + select
            progress = true
          } catch { case scala.util.control.NonFatal(_) => () }
        }
      }
    }
    // session init: CH `SET k = v, …` applies through the settings
    // table; ATTACH TABLE routes to the catalog; everything else through
    // the rewriter.
    // Eager collect mirrors the reference's serial init loop (`:302-310`).
    req.initQueries.foreach { q =>
      ChSql.sql(spark, q, req.macros).collect()
    }
    ChSql.run(spark, req.query, req.macros)
  }

  /** The one governed request lifecycle — every door's query runs
    * inside it, in this order:
    *   1. the statement is built once and an unknown FORMAT refuses
    *      BEFORE execution (CH errors on unknown format names too);
    *   2. the request's per-query settings apply — the door's
    *      (`settings`: HTTP URL params, the native Query packet's
    *      settings block), then the statement's trailing `SETTINGS`
    *      clause — through [[ChSql.withSettings]], so the deadline they
    *      set is in force when [[Governance.runGoverned]] reads it;
    *   3. the query registers in `system.processes` under `group` (the
    *      deadline, KILL QUERY and the native Cancel share that kill
    *      handle), its scan progress is tracked, and it is admitted
    *      against the quota — register FIRST, admit inside the guard: a
    *      quota refusal must not leak the Proc, and a concurrency
    *      refusal must not burn quota budget (review r16);
    *   4. [[Governance.runGoverned]] wraps the WHOLE request — plan,
    *      DDL/INSERT side effects and `body` — so `max_execution_time`
    *      covers plan-and-stream; `body` gets the planned frame;
    *   5. one `finally` unregisters, records the quota's read rows,
    *      wall time and failure, releases the progress counters, and
    *      puts every per-query setting back: they end with their query
    *      (a `SET` statement still persists on its session).
    * A `sinkPath` request offloads its result inside the same
    * lifecycle and lends its status frame. Access-entity and operator
    * verbs (QUOTA, KILL) stay outside quota metering: a single-user
    * engine must be able to DROP an exhausted quota. */
  def governed[A](req: QueryRequest,
      settings: Map[String, String] = Map.empty,
      door: String = "sql",
      queryId: String = java.util.UUID.randomUUID().toString,
      group: String =
        s"graft-query-${java.util.UUID.randomUUID().toString.take(8)}")(
      body: Governed => A): A = {
    val main = ChSql.statement(req.query, req.macros)
    val fmt =
      if (graft.dialect.ChWrites.isWrite(main)) None // INSERT's FORMAT is the INPUT format
      else ChSql.requestedFormat(main)
    fmt.filterNot(ResponseFormats.supported).foreach { f =>
      throw new IllegalArgumentException(
        s"unsupported FORMAT $f (${ResponseFormats.names.mkString(", ")})")
    }
    val metered = !graft.dialect.QuotaSql.isQuota(main) &&
      !graft.dialect.KillSql.isKill(main)
    ChSql.withSettings(spark, settings, ChSql.statementSettings(main)) {
      Processes.registerBounded(Processes.Proc(queryId, req.query, "default",
        door, System.currentTimeMillis(), group, spark),
        Governance.concurrencyLimit(spark))
      ScanProgress.ensureListener(spark)
      val scan = ScanProgress.track(group)
      val t0 = System.nanoTime()
      var admitted = false
      var failed = true
      try {
        if (metered) Quotas.admit("default")
        admitted = true
        val out = Governance.runGoverned(spark, group) {
          val (df, stmtSettings) =
            req.sinkPath.fold(executeToDf(req))(offload(req, _))
          val estRows = df.queryExecution.optimizedPlan.collectLeaves()
            .flatMap(_.stats.rowCount).map(_.toLong).sum
          body(new Governed(df, QueryResult(
            cols = df.columns.toSeq,
            types = df.schema.fields.map(_.dataType.simpleString).toSeq,
            rows = Nil, settings = stmtSettings, format = fmt,
            schema = Some(df.schema), jobGroup = Some(group),
            estRowsToRead = estRows), scan, metered))
        }
        failed = false
        out
      } finally {
        Processes.unregister(queryId)
        // quotas meter what the executors READ (real task metrics) and
        // wall time here; shipped rows via [[Governed.shipped]]
        if (metered && admitted) Quotas.record("default", 0L,
          scan.recordsRead.get, (System.nanoTime() - t0) / 1e9, failed)
        ScanProgress.release(group)
      }
    }
  }

  /** Full request → result-envelope path (O1+O6+O7): the governed
    * result, drained. A `sinkPath` request answers with its status
    * frame — see [[offload]]. */
  def execute(req: QueryRequest): QueryResult = governed(req) { run =>
    val rows = run.stream(_.toVector)
    run.shipped(rows.size)
    run.meta.copy(rows = rows)
  }

  /** Streaming analog of [[execute]] (VERDICT r13 task #1: the HTTP
    * door rendered from a fully collected array — a driver-memory
    * incident for a big SELECT at scale): `consume` receives the
    * result META (`rows` empty) plus the governed row iterator
    * ([[Governed.stream]]) and runs INSIDE the governance window. */
  def executeStreamed[A](req: QueryRequest)(
      consume: (QueryResult, Iterator[Seq[Any]]) => A): A =
    governed(req)(run => run.stream(consume(run.meta, _)))

  /** Writes the result as parquet at `path` (atomic: tmp dir + rename,
    * `_SUCCESS` is the completion marker) and returns the status frame;
    * when the marker already exists the artifact is SERVED, not
    * recomputed — that makes journal replay of a
    * completed-but-unacknowledged request idempotent. */
  private def offload(req: QueryRequest,
      path: String): (DataFrame, Map[String, String]) = {
    import spark.implicits._
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val reused = fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))
    if (!reused) {
      val (df, _) = executeToDf(req)
      val tmp = new org.apache.hadoop.fs.Path(
        p.getParent, s".${p.getName}.__sink_tmp")
      if (fs.exists(tmp)) fs.delete(tmp, true)
      df.write.mode("overwrite").parquet(tmp.toString)
      // a leftover COMPLETE-marker-less dir is a torn previous write
      if (fs.exists(p)) fs.delete(p, true)
      require(fs.rename(tmp, p), s"sink rename $tmp -> $path failed")
    }
    val n = spark.read.parquet(path).count()
    (Seq((path, n, if (reused) "already_written" else "written"))
      .toDF("path", "rows", "status"), Map.empty)
  }

  /** Warm path (O9): one SQL string against the live session, no init. */
  def executeOnCurrent(sql: String): QueryResult =
    execute(QueryRequest(sql))

  /** [[execute]] under the durability wrapper (O1): the reference's
    * whole query lifecycle runs as retried Temporal activities; here
    * transient faults (fetch failure, lost executor, IO) replay the
    * request — init queries are idempotent (SET/ATTACH re-apply) so the
    * whole envelope is safe to re-run — while analysis/parse errors
    * surface immediately. */
  def executeWithRetry(
      req: QueryRequest,
      policy: RetryPolicy = RetryPolicy()): QueryResult =
    QueryService.retry(policy)(() => execute(req))
}
