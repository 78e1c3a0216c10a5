package graft.core

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Synthetic `system.*` tables (SURVEY §2.1 S9): the reference exposes
  * ClickHouse introspection tables — `system.clusters` (`run.sh:5`),
  * `system.zookeeper` readiness sentinel
  * (`temporal/workflow_query_executor.go:182`), and per-query
  * profiling via `clusterAllReplicas('{cluster}',
  * system.processors_profile_log)`
  * (`temporal/workflow_query_executor_test.go:98-105`).
  *
  * Spark's equivalents come from driver-side status APIs, surfaced as
  * DataFrames and registered as `system_clusters` / `system_executors`
  * / `system_query_log` views (dot-qualified CH names rewrite to these
  * in [[graft.dialect.ChSql]]). `clusterAllReplicas(c, t)` is an
  * accepted pass-through to `t`: the driver already aggregates
  * cluster-wide state, which is exactly what the fan-out read provides
  * in CH.
  */
object SystemTables {

  /** ≈ system.clusters: one row per executor with the cluster macro
    * identity — the information `run.sh:5` polls for. */
  def clusters(spark: SparkSession, clusterName: String = "graft"): DataFrame = {
    import spark.implicits._
    val infos = spark.sparkContext.statusTracker.getExecutorInfos.toSeq
    infos.zipWithIndex.map { case (e, i) =>
      (clusterName, 1, i + 1, e.host(), e.numRunningTasks())
    }.toDF("cluster", "shard_num", "replica_num", "host_name", "running_tasks")
  }

  /** ≈ system.zookeeper: the coordination-tree view the reference polls
    * for readiness (`run.sh:6`:
    * `select 3 from system.zookeeper where path='/clickhouse/task_queue/'`
    * — success-with-rows means the cluster is bootstrapped). Spark has
    * no keeper; the driver IS the coordinator, so the task-queue path
    * "exists" exactly when the session is live: one `ddl` child (CH's
    * task-queue node) plus one child per registered executor. */
  def zookeeper(spark: SparkSession, clusterName: String = "graft"): DataFrame = {
    import spark.implicits._
    val replicas = spark.sparkContext.statusTracker.getExecutorInfos.toSeq
      .zipWithIndex.map { case (e, i) =>
        (s"replica_${i + 1}", e.host(), "/clickhouse/task_queue/")
      }
    (("ddl", clusterName, "/clickhouse/task_queue/") +: replicas)
      .toDF("name", "value", "path")
  }

  /** ≈ clusterAllReplicas(system.processors_profile_log): executor-level
    * resource/task stats from the status tracker. */
  def executors(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.sparkContext.statusTracker.getExecutorInfos.toSeq.map { e =>
      (e.host(), e.port(), e.numRunningTasks(), e.usedOnHeapStorageMemory(),
        e.totalOnHeapStorageMemory())
    }.toDF("host", "port", "running_tasks", "used_storage_mem", "total_storage_mem")
  }

  // ---- query log (≈ system.query_log), fed by a listener ----

  private case class QueryLogEntry(
      executionId: Long, durationMs: Long, error: Option[String])

  /** How many completed executions [[queryLog]] keeps (the newest);
    * every statement that names the view materializes all of them. */
  val QueryLogMax = 1000

  // both guarded by `this`
  private val log = new java.util.ArrayDeque[QueryLogEntry]()
  // start times of running executions; one whose end never arrives
  // falls out once QueryLogMax newer ones have started
  private val starts = new java.util.LinkedHashMap[Long, java.lang.Long]() {
    override def removeEldestEntry(e: java.util.Map.Entry[Long, java.lang.Long]): Boolean =
      size() > QueryLogMax
  }
  @volatile private var installedOn: org.apache.spark.SparkContext = null

  /** Install the SQL-execution listener once per SparkContext — the
    * listener bus is shared by every session, so a listener per session
    * would log each execution once per session that touched `system.*`. */
  def install(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    if (installedOn eq sc) return
    synchronized {
      if (installedOn eq sc) return
      sc.addSparkListener(new SparkListener {
        override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
          case s: SparkListenerSQLExecutionStart => SystemTables.synchronized {
            starts.put(s.executionId, s.time)
          }
          case e: SparkListenerSQLExecutionEnd => SystemTables.synchronized {
            val dur = Option(starts.remove(e.executionId))
              .map(t0 => (e.time - t0).max(0L)).getOrElse(0L)
            log.addLast(QueryLogEntry(e.executionId, dur, e.errorMessage.filter(_.nonEmpty)))
            if (log.size > QueryLogMax) log.removeFirst()
          }
          case _ =>
        }
      })
      installedOn = sc
    }
  }

  /** ≈ system.query_log: completed SQL executions with duration. */
  def queryLog(spark: SparkSession): DataFrame = {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    synchronized(log.asScala.toList)
      .map(e => (e.executionId, e.durationMs, e.error.getOrElse("")))
      .toDF("execution_id", "duration_ms", "error")
  }

  /** Register all system views on the session. */
  def registerViews(spark: SparkSession, clusterName: String = "graft"): Unit = {
    install(spark)
    clusters(spark, clusterName).createOrReplaceTempView("system_clusters")
    executors(spark).createOrReplaceTempView("system_executors")
    queryLog(spark).createOrReplaceTempView("system_query_log")
    zookeeper(spark, clusterName).createOrReplaceTempView("system_zookeeper")
    // system.one: CH's 1-row dummy table (FROM system.one idiom)
    import spark.implicits._
    Seq(Tuple1(0: Byte)).toDF("dummy").createOrReplaceTempView("system_one")
    functions(spark).createOrReplaceTempView("system_functions")
    // NOT system_parts: building it fetches part metadata (over http for
    // remote endpoints) eagerly, so it registers only when a query
    // actually references it — registerParts, called by the dialect
    // front door on a system_parts mention (review finding)
  }

  /** ≈ system.settings: every row of the one settings table
    * ([[graft.service.Settings]]) with the session's value (its default
    * when unset — clients numeric-parse the staple columns; a password
    * shows empty) and CH's `changed` flag, the `SELECT * FROM
    * system.settings WHERE changed` staple. Registered on demand (per
    * referencing query) like `system_processes`: the values mutate with
    * every SET. */
  def registerSettings(spark: SparkSession): Unit = {
    import spark.implicits._
    graft.service.Settings.all.map { s =>
      val cur = spark.conf.getOption(s.name)
      (s.name, if (s.name.endsWith("Password")) "" else cur.getOrElse(s.default),
        if (cur.isDefined) 1 else 0, s.description, s.default, s.kind.toString)
    }.toDF("name", "value", "changed", "description", "default", "kind")
      .createOrReplaceTempView("system_settings")
  }

  /** ≈ system.projections: one row per registered aggregate projection
    * (name, source, keys, declared states, companion path). Registered
    * on demand like `system_parts` — the registry mutates as ALTER
    * TABLE ADD/DROP PROJECTION statements run, and a view frozen at
    * session start would go stale. */
  def registerProjections(spark: SparkSession): Unit = {
    import spark.implicits._
    // persisted manifests from prior sessions surface too (review
    // finding: a fresh session otherwise misreported an empty catalog);
    // loadAll is idempotent and drop() removes manifests from disk, so
    // nothing dropped can resurrect
    try graft.plans.AggProjections.loadAll(spark)
    catch { case scala.util.control.NonFatal(_) => /* root unreadable */ }
    graft.plans.AggProjections.allManifests
      .map(m => (m.name, m.sourceKey, m.groupCols.mkString(","),
        m.aggs.map(d => s"${d.op}(${d.column})").mkString(","), m.dataPath))
      .toDF("name", "source", "group_by", "aggregates", "data_path")
      .createOrReplaceTempView("system_projections")
  }

  /** ≈ system.quotas + system.quota_usage: the registered quota
    * budgets and the live per-window counters — registered on demand
    * like projections (the registry mutates via CREATE/DROP QUOTA and
    * every admitted query). */
  def registerQuotas(spark: SparkSession): Unit = {
    import spark.implicits._
    graft.service.Quotas.all
      .map { q =>
        (q.name, q.intervalSec,
          if (q.users.isEmpty) "ALL" else q.users.mkString(","),
          q.limits.maxQueries.map(_.toString).orNull,
          q.limits.maxErrors.map(_.toString).orNull,
          q.limits.maxResultRows.map(_.toString).orNull,
          q.limits.maxReadRows.map(_.toString).orNull,
          q.limits.maxExecSec.map(_.toString).orNull)
      }
      .toDF("name", "interval_seconds", "apply_to", "max_queries",
        "max_errors", "max_result_rows", "max_read_rows",
        "max_execution_time")
      .createOrReplaceTempView("system_quotas")
    graft.service.Quotas.usageRows()
      .map { case (q, user, u, endsInMs) =>
        (q.name, user, u.queries, u.errors, u.resultRows, u.readRows,
          u.execSec, math.max(0L, endsInMs / 1000))
      }
      .toDF("quota_name", "user", "queries", "errors", "result_rows",
        "read_rows", "execution_time", "window_ends_in_seconds")
      .createOrReplaceTempView("system_quota_usage")
  }

  /** Register `system_parts` on demand — see the note in
    * [[registerViews]]; [[graft.dialect.ChSql]] calls this only when
    * the query text references the view. */
  def registerParts(spark: SparkSession): Unit =
    parts(spark).createOrReplaceTempView("system_parts")

  /** ≈ system.tables: the session's visible tables — catalog entries
    * (ATTACH/CTAS) with engine, sorting key, endpoint, and origin, plus
    * plain session views. Registered on demand like `system_parts`: the
    * catalog mutates as ATTACH/CTAS/DROP statements run, so a view
    * frozen at session start would go stale. */
  /** The session's visible tables — catalog entries (ATTACH/CTAS) plus
    * plain session views — as (name, engine, sorting_key, endpoint,
    * origin) rows. The ONE listing behind both `system.tables` and
    * `SHOW TABLES` (review finding: two copies had already diverged).
    * Dedup is case-insensitive: Spark lowercases temp-view names while
    * the catalog keeps the declared spelling. */
  def visibleTables(spark: SparkSession): Seq[(String, String, String, String, String)] = {
    val cat = graft.core.Catalog.all.map(t =>
      (t.name, t.engineShown, t.orderBy.mkString(", "),
        t.endpoint.getOrElse(""),
        if (t.ownsStorage) "created" else "attached"))
    val mvs = graft.core.MatViews.all.map(v =>
      (v.name, "MaterializedView", "", v.target, "materialized-view"))
    val catNames = (cat.map(_._1) ++ mvs.map(_._1)).map(_.toLowerCase).toSet
    val views = spark.catalog.listTables().collect()
      .filter(v => !catNames.contains(v.name.toLowerCase) &&
        !v.name.startsWith("system_") && !v.name.startsWith("__mv_batch_"))
      .map(v => (v.name, "View", "", "", "view")).toSeq
    (cat ++ mvs ++ views).sortBy(_._1)
  }

  /** ≈ system.dictionaries: the live dictGet registry. */
  def registerDictionaries(spark: SparkSession): Unit = {
    import spark.implicits._
    graft.core.Dictionaries.all
      .map(d => (d.name, d.key, d.sourceTable,
        d.attrs.map(a => s"${a.name} ${a.chType}").mkString(", ")))
      .toDF("name", "key", "source", "attributes")
      .createOrReplaceTempView("system_dictionaries")
  }

  def registerTables(spark: SparkSession): Unit = {
    import spark.implicits._
    visibleTables(spark)
      .toDF("name", "engine", "sorting_key", "endpoint", "origin")
      .createOrReplaceTempView("system_tables")
  }

  /** ≈ system.processes: one row per LIVE query across every door
    * (HTTP, native TCP, QueryService) — query_id, user, door, elapsed
    * seconds, the query text. `KILL QUERY WHERE query_id = '…'` takes
    * the ids. Registered on demand (the registry mutates per query),
    * like system.parts. */
  def processes(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val now = System.currentTimeMillis()
    graft.service.Processes.all
      .map(p => (p.queryId, p.user, p.door,
        (now - p.startedMs) / 1000.0, p.query))
      .toDF("query_id", "user", "door", "elapsed", "query")
  }

  def registerProcesses(spark: SparkSession): Unit =
    processes(spark).createOrReplaceTempView("system_processes")

  /** ≈ system.parts: one row per MergeTree part of every ATTACHed table
    * whose endpoint serves an actual part tree (parquet endpoints and
    * schema-only registrations contribute no rows — they have no
    * parts). Read from part metadata (count.txt + marks), never a data
    * scan. */
  def parts(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val rows = Catalog.all.flatMap { t =>
      t.endpoint.toSeq
        .filter(graft.sources.mergetree.MergeTree.looksLikeMergeTree)
        .flatMap { ep =>
          try graft.sources.mergetree.MergeTree.partsInfo(ep).map {
            case (part, nRows, granules, nCols) =>
              // the part-name prefix IS the partition id (CH's naming:
              // `all` for unpartitioned tables) — what DROP PARTITION
              // ID takes
              val pid = graft.sources.mergetree.MergeTreePartitioning.pidOf(part)
              (t.name, part, pid, 1: Byte, nRows, granules, nCols)
          } catch { case _: Exception => Nil }
        }
    }
    rows.toDF("table", "name", "partition_id", "active", "rows", "marks", "columns")
  }

  /** ≈ system.functions: every name the dialect registers (one row per
    * static builder; the combinator GRAMMAR's composed spellings are
    * unbounded and resolve on demand, so they appear only after use —
    * noted in the `origin` column). */
  def functions(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val static = graft.dialect.ChFunctions.builders.map(_._1).distinct.sorted
      .map(n => (n, "graft_dialect"))
    (static :+ (("<base><Array|Distinct|OrNull|State|Merge|ForEach|Map|If>*",
      "combinator_grammar")))
      .toDF("name", "origin")
  }
}
