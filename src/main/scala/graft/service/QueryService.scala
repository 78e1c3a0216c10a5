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
  * Lifecycle notes vs the reference:
  *   - spawn/readiness/teardown (O2/O4/O8) collapse onto Spark's driver
  *     = coordinator model: the session owns its executors, so
  *     `execute` needs no barrier; elasticity is the cluster manager's
  *     dynamic allocation at real scale;
  *   - `executeOnCurrent` is the warm path (O9, `:368-410`): no init, no
  *     settings churn, straight to SQL on the live session.
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
      /** Spark-level schema of the streamed result — what the BINARY
        * response formats (Native, Parquet) need to encode typed
        * columns; None on the legacy collect paths. */
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      /** The query's Spark job group — the key into [[ScanProgress]]'s
        * executor-side read counters, which the doors' progress
        * reporting reads while streaming (r16). */
      jobGroup: Option[String] = None,
      /** Leaf-relation row estimate (CBO rowCount stats when present) —
        * CH's `total_rows_to_read`; 0 when unknown. */
      estRowsToRead: Long = 0L)

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
    // session init: CH `SET k=v` maps to Spark SQL SET verbatim; ATTACH
    // TABLE routes to the catalog; everything else through the rewriter.
    // Eager collect mirrors the reference's serial init loop (`:302-310`).
    req.initQueries.foreach { q =>
      ChSql.sql(spark, q, req.macros).collect()
    }
    ChSql.run(spark, req.query, req.macros)
  }

  /** Full request → result-envelope path (O1+O6+O7). A `sinkPath`
    * request writes the result as parquet (atomic: tmp dir + rename,
    * `_SUCCESS` is the completion marker) and answers with a status
    * frame; when the marker already exists the artifact is SERVED, not
    * recomputed — that makes journal replay of a
    * completed-but-unacknowledged request idempotent. */
  def execute(req: QueryRequest): QueryResult = {
    val main = ChSql.statement(req.query, req.macros)
    val fmt =
      if (graft.dialect.ChWrites.isWrite(main)) None // INSERT's FORMAT is the INPUT format
      else ChSql.requestedFormat(main)
    // unknown format refuses BEFORE execution (CH errors on unknown
    // format names too) — failing after the query ran wasted the work
    // and double-counted the request (review finding)
    fmt.filterNot(ResponseFormats.supported).foreach { f =>
      throw new IllegalArgumentException(
        s"unsupported FORMAT $f (${ResponseFormats.names.mkString(", ")})")
    }
    req.sinkPath match {
      case Some(path) =>
        val (n, reused) = offload(req, path)
        QueryResult(
          cols = Seq("path", "rows", "status"),
          types = Seq("string", "bigint", "string"),
          rows = Seq(Seq(path, n, if (reused) "already_written" else "written")),
          settings = Map.empty)
      case None =>
        // governance (max_execution_time / max_result_rows) wraps the
        // WHOLE request — plan, DDL/INSERT side effects, collect — in
        // one job group; the query registers in system.processes under
        // that group, so the deadline and KILL QUERY share the kill
        // handle. A statement-level SETTINGS deadline (applied inside
        // executeToDf) still engages at the collect.
        val qid = java.util.UUID.randomUUID().toString
        val group = s"graft-query-${qid.take(8)}"
        // access-entity/operator verbs stay OUTSIDE quota metering: a
        // single-user engine must be able to DROP an exhausted quota
        // (CH has other users for that; documented divergence)
        val metered = !graft.dialect.QuotaSql.isQuota(main) &&
          !graft.dialect.KillSql.isKill(main)
        // register FIRST, admit INSIDE the try: a quota refusal must
        // not leak the Proc, and a concurrency refusal must not burn
        // quota budget for a query that never ran (review r16)
        Processes.registerBounded(Processes.Proc(qid, req.query, "default",
          "sql", System.currentTimeMillis(), group, spark),
          Governance.concurrencyLimit(spark))
        ScanProgress.ensureListener(spark)
        ScanProgress.track(group)
        val t0 = System.nanoTime()
        var resultRows = -1L
        var failed = true
        var admitted = false
        val (cols, types, rows, settings) =
          try {
            if (metered) Quotas.admit("default")
            admitted = true
            val out = Governance.runGoverned(spark, group) {
              val (df, settings) = executeToDf(req)
              (df.columns.toSeq,
                df.schema.fields.map(_.dataType.simpleString).toSeq,
                Governance.collectBounded(df, Some(group)).map(_.toSeq).toSeq,
                settings)
            }
            resultRows = out._3.size.toLong
            failed = false
            out
          } finally {
            Processes.unregister(qid)
            if (metered && admitted) Quotas.record("default", resultRows,
              ScanProgress.get(group).map(_.recordsRead.get).getOrElse(0L),
              (System.nanoTime() - t0) / 1e9, failed)
            ScanProgress.release(group)
          }
        QueryResult(
          cols = cols,
          types = types,
          rows = rows,
          settings = settings,
          format = fmt)
    }
  }

  /** Streaming analog of [[execute]] (VERDICT r13 task #1: the HTTP
    * door rendered from a fully collected array — a driver-memory
    * incident for a big SELECT at scale): `consume` receives the
    * result META (cols/types/settings/format; `rows` empty) plus a
    * GOVERNED row iterator ([[Governance.iterateBounded]]: up to W =
    * `defaultParallelism` partition jobs in flight, rows in partition
    * order; the driver holds at most W partitions, and submits none
    * ahead past `spark.driver.maxResultSize` of unread bytes — never
    * the whole result) — and runs INSIDE the governance window, so
    * `max_execution_time` covers the whole plan-and-stream and
    * `max_result_rows` bounds the iterator (throw mid-stream / break).
    * Same request routing as [[execute]]: sink offload and write/DDL
    * statements produce their status frame as a one-row iterator. */
  def executeStreamed[A](req: QueryRequest)(
      consume: (QueryResult, Iterator[Seq[Any]]) => A): A = {
    val main = ChSql.statement(req.query, req.macros)
    val fmt =
      if (graft.dialect.ChWrites.isWrite(main)) None
      else ChSql.requestedFormat(main)
    fmt.filterNot(ResponseFormats.supported).foreach { f =>
      throw new IllegalArgumentException(
        s"unsupported FORMAT $f (${ResponseFormats.names.mkString(", ")})")
    }
    req.sinkPath match {
      case Some(path) =>
        val (n, reused) = offload(req, path)
        consume(
          QueryResult(
            cols = Seq("path", "rows", "status"),
            types = Seq("string", "bigint", "string"),
            rows = Nil, settings = Map.empty,
            schema = Some(org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("path",
                org.apache.spark.sql.types.StringType),
              org.apache.spark.sql.types.StructField("rows",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("status",
                org.apache.spark.sql.types.StringType))))),
          Iterator(Seq[Any](path, n,
            if (reused) "already_written" else "written")))
      case None =>
        val qid = java.util.UUID.randomUUID().toString
        val group = s"graft-query-${qid.take(8)}"
        Processes.registerBounded(Processes.Proc(qid, req.query, "default",
          "sql", System.currentTimeMillis(), group, spark),
          Governance.concurrencyLimit(spark))
        ScanProgress.ensureListener(spark)
        ScanProgress.track(group)
        val metered = !graft.dialect.QuotaSql.isQuota(main) &&
          !graft.dialect.KillSql.isKill(main)
        val t0 = System.nanoTime()
        var failed = true
        var admitted = false
        try {
          // inside the try: a quota refusal must not leak the Proc or
          // the tracked scan group (review r16 — this path admitted
          // outside the cleanup and leaked both on refusal)
          if (metered) Quotas.admit("default")
          admitted = true
          Governance.runGoverned(spark, group) {
          val (df, settings) = executeToDf(req)
          val estRows = df.queryExecution.optimizedPlan.collectLeaves()
            .flatMap(_.stats.rowCount).map(_.toLong).sum
          val out = Governance.iterateBounded(df) { rows =>
            consume(
              QueryResult(
                cols = df.columns.toSeq,
                types = df.schema.fields.map(_.dataType.simpleString).toSeq,
                rows = Nil, settings = settings, format = fmt,
                schema = Some(df.schema),
                jobGroup = Some(group), estRowsToRead = estRows),
              rows.map(_.toSeq))
          }
          failed = false
          out
        } } finally {
          Processes.unregister(qid)
          // the doors record shipped rows via Quotas.recordResultRows;
          // quotas meter what the executors READ (real task metrics)
          // + wall time here
          if (metered && admitted) Quotas.record("default", 0L,
            ScanProgress.get(group).map(_.recordsRead.get).getOrElse(0L),
            (System.nanoTime() - t0) / 1e9, failed)
          ScanProgress.release(group)
        }
    }
  }

  /** `FORMAT Parquet` support for the HTTP door: run the request
    * governed and hand the consumer ONE parquet file holding the whole
    * result, spooled under a temp dir (deleted after `consume`
    * returns). The write itself is a Spark job — executor-parallel
    * encode, coalesced to a single output task so the response is one
    * well-formed file; the driver never materializes the rows. This is
    * a PROTOCOL endpoint, not the bulk-extract path — at 100 TB use
    * `sink_path` / `INSERT INTO FUNCTION file(…)`, which keep the
    * output parallel. `max_result_rows` is enforced on the plan
    * (limit+1 → refuse/truncate per `result_overflow_mode`), and
    * `max_execution_time` covers plan + write. */
  def executeSpooledParquet[A](req: QueryRequest)(
      consume: (QueryResult, java.io.File) => A): A = {
    val qid = java.util.UUID.randomUUID().toString
    val group = s"graft-query-${qid.take(8)}"
    // register FIRST, then create the tempdir INSIDE the guarded
    // region (review r15, twice): tempdir-then-register leaked a dir
    // per concurrency-cap refusal; register-then-tempdir leaked a slot
    // on a full /tmp — one try/finally owns both now
    Processes.registerBounded(Processes.Proc(qid, req.query, "default",
      "sql", System.currentTimeMillis(), group, spark),
      Governance.concurrencyLimit(spark))
    ScanProgress.ensureListener(spark)
    ScanProgress.track(group)
    val tq0 = System.nanoTime()
    var spooledOk = false
    var admitted = false
    var tmp: java.io.File = null
    try {
      Quotas.admit("default") // FORMAT Parquet is always a SELECT
      admitted = true
      Governance.runGoverned(spark, group) {
      tmp = java.nio.file.Files
        .createTempDirectory("graft_http_parquet").toFile
      val (df0, settings) = executeToDf(req)
      Governance.checkScanBudget(df0)
      val maxRows = spark.conf.getOption(Governance.MaxResultRows)
        .map(_.trim).filter(_.nonEmpty).map(_.toLong).getOrElse(0L)
      val overflow = spark.conf.getOption(Governance.ResultOverflowMode)
        .map(_.trim.toLowerCase).getOrElse("throw")
      val df =
        if (maxRows > 0 && maxRows < Int.MaxValue - 1)
          df0.limit(maxRows.toInt + 1)
        else df0
      val out = new java.io.File(tmp, "out")
      df.coalesce(1).write.parquet(out.toString)
      def partIn(dir: java.io.File): java.io.File =
        dir.listFiles().find(_.getName.endsWith(".parquet"))
          .getOrElse(throw new IllegalStateException(
            s"parquet spool produced no part file under $dir"))
      val part =
        if (maxRows > 0 &&
            spark.read.parquet(out.toString).count() > maxRows) {
          // footer-served count; overflow surfaces per CH semantics
          if (overflow != "break")
            throw new IllegalArgumentException(
              s"Limit for result rows exceeded: read ${maxRows + 1}+ " +
                s"rows, maximum $maxRows. TOO_MANY_ROWS (set " +
                "result_overflow_mode = 'break' to truncate instead)")
          // break: re-write truncated (bounded by maxRows, still a job)
          val cut = new java.io.File(tmp, "cut")
          spark.read.parquet(out.toString).limit(maxRows.toInt)
            .coalesce(1).write.parquet(cut.toString)
          partIn(cut)
        } else partIn(out)
      val res = consume(
        QueryResult(df.columns.toSeq,
          df.schema.fields.map(_.dataType.simpleString).toSeq,
          Nil, settings, Some("parquet"), Some(df.schema)), part)
      spooledOk = true
      res
    } } finally {
      Processes.unregister(qid)
      if (admitted) Quotas.record("default", 0L,
        ScanProgress.get(group).map(_.recordsRead.get).getOrElse(0L),
        (System.nanoTime() - tq0) / 1e9, failed = !spooledOk)
      ScanProgress.release(group)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      if (tmp != null) rm(tmp)
    }
  }

  /** Returns (row count, whether an existing artifact was served). */
  private def offload(req: QueryRequest, path: String): (Long, Boolean) = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")))
      return (spark.read.parquet(path).count(), true)
    val (df, _) = executeToDf(req)
    val tmp = new org.apache.hadoop.fs.Path(
      p.getParent, s".${p.getName}.__sink_tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    df.write.mode("overwrite").parquet(tmp.toString)
    // a leftover COMPLETE-marker-less dir is a torn previous write
    if (fs.exists(p)) fs.delete(p, true)
    require(fs.rename(tmp, p), s"sink rename $tmp -> $path failed")
    (spark.read.parquet(path).count(), false)
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
