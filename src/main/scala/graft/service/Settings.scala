package graft.service

import java.util.Locale

import scala.util.Try

import org.apache.spark.sql.SparkSession

/** The one table of settings graft accepts — `SELECT * FROM
  * system.settings` lists it. A row is a name, a type (a parser to one
  * normalised spelling), a default, a description and a kind:
  *
  *   - enforced: governance the doors enforce (deadline, result bound,
  *     scan budget, readonly, concurrency, insert flush size);
  *   - graft: graft's own `spark.graft.*` switches, read from the
  *     session at plan or run time; the deployment rows among them
  *     (directories, TLS trust) are fixed when graft starts and refuse
  *     at every per-session or per-query spelling;
  *   - accepted without effect: ClickHouse settings real clients send
  *     that have nothing to drive here — the description says why;
  *   - semantic: ClickHouse settings that change answers; the value
  *     graft implements is accepted, any other refuses by name.
  *
  * `SET`, the `SETTINGS` clause, HTTP URL parameters and the native
  * settings block all apply through [[graft.dialect.ChSql.applySettings]],
  * which asks [[resolve]]: names match case-insensitively, a value is
  * parsed once there and stored normalised, and an undeclared name
  * refuses with UNKNOWN_SETTING — except a `spark.*` key outside
  * `spark.graft.`, which goes to Spark as it is (Spark refuses its static
  * confs itself). Readers take the typed value from the row. */
object Settings {

  sealed abstract class Kind(override val toString: String)
  case object Enforced extends Kind("enforced")
  case object Graft extends Kind("graft")
  case object Deployment extends Kind("graft deployment")
  case object NoEffect extends Kind("accepted without effect")
  case object Semantic extends Kind("semantic")

  /** A refusal carrying its ClickHouse error code, which both doors
    * send to the client. */
  final class Refused(message: String, val code: Int)
      extends IllegalArgumentException(message)

  def refused(code: Int, name: String, message: String): Refused =
    new Refused(s"$message. $name", code)

  /** The ClickHouse error code of a refusal anywhere in `e`'s causes. */
  def code(e: Throwable): Option[Int] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
      .collectFirst { case r: Refused => r.code }

  /** A value type: what it expects, its parser and its one spelling. */
  final case class Type[T](expect: String, read: String => T,
      show: T => String = (t: T) => t.toString)

  private def bool(v: String): Boolean = v.toLowerCase(Locale.ROOT) match {
    case "1" | "true" => true
    case "0" | "false" => false
  }
  private def atLeast(min: Long)(v: String): Long =
    Some(v.toLong).filter(_ >= min).get
  private val UInt = Type[Long]("a non-negative integer", atLeast(0))
  private val Positive = Type[Long]("a positive integer", atLeast(1))
  private val Seconds = Type[Double]("a non-negative number of seconds",
    v => { val d = BigDecimal(v); require(d >= 0); d.toDouble },
    d => BigDecimal(d).bigDecimal.stripTrailingZeros.toPlainString)
  private val ChBool = Type[Boolean]("0 or 1", bool, b => if (b) "1" else "0")
  private val Switch = Type[Boolean]("true or false", bool)
  private val Text = Type[String]("a string", identity)
  private def oneOf(values: String*) = Type[String](values.mkString(" or "),
    v => { val l = v.toLowerCase(Locale.ROOT); require(values.contains(l)); l })
  /** A semantic row's type: only what graft implements, `1`. */
  private val Implemented = Type[Boolean]("1, what graft implements",
    v => { require(bool(v)); true }, _ => "1")

  final class Setting[T] private[Settings] (val name: String, val kind: Kind,
      val tpe: Type[T], val default: String, val description: String) {

    /** `value` in its one spelling, or a refusal naming this setting. */
    def normalise(value: String): String = {
      if (kind == Deployment) throw refused(452,
        "SETTING_CONSTRAINT_VIOLATION", s"Setting '$name' is fixed when " +
          "graft starts and cannot change per session or query")
      tpe.show(Try(tpe.read(value.trim)).getOrElse(throw refused(36,
        "BAD_ARGUMENTS", s"Cannot set $name = '$value': expected ${tpe.expect}")))
    }

    /** The session's value: the applied one, else the default. A value
      * that bypassed [[normalise]] and does not parse reads as the
      * default, so a bad conf never fails every query's planning. */
    def apply(spark: SparkSession): T =
      spark.conf.getOption(name).flatMap(v => Try(tpe.read(v.trim)).toOption)
        .getOrElse(tpe.read(default))
  }

  private val rows = scala.collection.mutable.ArrayBuffer.empty[Setting[_]]
  private def row[T](name: String, kind: Kind, tpe: Type[T], default: String,
      description: String): Setting[T] = {
    val s = new Setting(name, kind, tpe, default, description); rows += s; s
  }

  // ---- enforced ----
  val MaxExecutionTime = row("max_execution_time", Enforced, Seconds, "0",
    "seconds before the query's job group is cancelled (0 = unlimited)")
  val MaxResultRows = row("max_result_rows", Enforced, UInt, "0",
    "result row bound, enforced in-plan as limit+1 (0 = unlimited)")
  val ResultOverflowMode = row("result_overflow_mode", Enforced,
    oneOf("throw", "break"), "throw",
    "throw (TOO_MANY_ROWS) or break (truncate) past max_result_rows")
  val MaxInsertBlockSize = row("max_insert_block_size", Enforced, Positive,
    "1048449", "rows buffered per streaming native INSERT flush (one part per flush)")
  val MaxBytesToRead = row("max_bytes_to_read", Enforced, UInt, "0",
    "refuse a query whose leaf-scan estimate exceeds this (0 = unlimited)")
  val Readonly = row("readonly", Enforced, Type[Int]("0, 1 or 2",
      v => { val n = v.toInt; require(n >= 0 && n <= 2); n }), "0",
    "0 = anything; 1 = reads only, no setting changes; " +
      "2 = reads and non-protected setting changes")
  val MaxConcurrentQueries = row("max_concurrent_queries", Enforced, UInt, "0",
    "server-wide cap on simultaneously registered queries (0 = unlimited)")

  // ---- semantic ----
  row("join_use_nulls", Semantic, Implemented, "1",
    "outer joins fill non-matching columns with NULL; 0 is not implemented")
  row("aggregate_functions_null_for_empty", Semantic, Implemented, "1",
    "aggregates over no rows return NULL; 0 is not implemented")

  // ---- accepted without effect ----
  private val Replicas = "Spark parallelizes every scan over its own " +
    "executors; there are no replicas to choose between"
  val MaxMemoryUsage = row("max_memory_usage", NoEffect, UInt, "0",
    "Spark cannot meter one query's heap; max_bytes_to_read bounds the scan")
  Seq("allow_experimental_parallel_reading_from_replicas" -> UInt,
    "max_parallel_replicas" -> UInt,
    "parallel_replicas_for_non_replicated_merge_tree" -> ChBool,
    "use_hedged_requests" -> ChBool, "prefer_localhost_replica" -> ChBool)
    .foreach { case (n, t) => row(n, NoEffect, t, "0", Replicas) }
  row("cluster_for_parallel_replicas", NoEffect, Text, "", Replicas)
  row("max_threads", NoEffect, UInt, "0",
    "a query's parallelism is its partition count over the session's cores")
  Seq("max_download_threads", "max_download_buffer_size").foreach(row(_, NoEffect,
    UInt, "0", "remote reads are split into Spark tasks; there is no download pool"))
  row("max_bytes_before_external_group_by", NoEffect, UInt, "0",
    "Spark's aggregation spills to disk on its own")
  row("log_comment", NoEffect, Text, "", "graft's query log keeps the query text")
  row("enable_http_compression", NoEffect, ChBool, "0",
    "the HTTP door compresses when the request's Accept-Encoding asks")
  row("wait_end_of_query", NoEffect, ChBool, "0",
    "the HTTP door spools a small result and reports a late error in-band")
  row("http_headers_progress_interval_ms", NoEffect, UInt, "100",
    "the HTTP door sends progress headers at a fixed 100 ms cadence")

  // ---- graft ----
  val AggProjections = row("spark.graft.aggProjections", Graft, Switch, "true",
    "answer GROUP BYs from a matching aggregate projection")
  val ProjectionFingerprintTtlMs = row("spark.graft.projectionFingerprintTtlMs",
    Graft, UInt, "0", "ms a projection source's file fingerprint is reused " +
      "(0 = re-stat every planning)")
  val FooterAggregates = row("spark.graft.footerAggregates", Graft, Switch,
    "true", "answer global count/min/max from parquet footers")
  val DictAgg = row("spark.graft.dictAgg", Graft, Switch, "true",
    "dictionary-code GROUP BY kernel")
  val DictAggHllGatherBytes = row("spark.graft.dictAgg.hllGatherBytes", Graft,
    UInt, (256L << 20).toString, "byte budget for the driver gather of uniq() registers")
  val BitmapDistinct = row("spark.graft.bitmapDistinct", Graft, Switch, "true",
    "bitmap kernel for global count(DISTINCT intCol)")
  val BitmapDistinctDenseMaxRange = row("spark.graft.bitmapDistinct.denseMaxRange",
    Graft, UInt, (1L << 24).toString,
    "widest footer [min, max] span the flat-bitset distinct state takes")
  val HashScan = row("spark.graft.hashScan", Graft, Switch, "true",
    "columnar kernel for sum(pmod(cityHash64(…), m))")
  val DriverMergeMaxTotalRows = row("spark.graft.driverMerge.maxTotalRows",
    Graft, UInt, (4L << 20).toString,
    "rows a kernel's driver merge may collect before falling back")
  val FinalTiebreak = row("spark.graft.finalTiebreak", Graft,
    oneOf("none", "payload"), "none", "payload: versionless " +
      "ReplacingMergeTree FINAL keeps the payload-max row instead of refusing")
  val OptimizeTargetFileBytes = row("spark.graft.optimize.targetFileBytes",
    Graft, Positive, (512L << 20).toString,
    "output file size OPTIMIZE and mutations aim for")
  val MergeTreePartRows = row("spark.graft.mergeTreePartRows", Graft, UInt, "0",
    "rows per MergeTree part a CTAS writes (0 = by total and cores)")
  val MergeTreeFs = row("spark.graft.mergeTreeFs", Graft, oneOf("auto", "hadoop"),
    "auto", "hadoop: local MergeTree writes go through the Hadoop FileSystem API")
  val AttachAllowEmpty = row("spark.graft.attach.allowEmpty", Graft, Switch,
    "false", "an ATTACH of an unreadable endpoint registers an empty table")

  // ---- graft deployment ----
  val WarehouseDir = row("spark.graft.warehouseDir", Deployment, Text,
    s"${System.getProperty("java.io.tmpdir")}/graft_warehouse",
    "where CREATE TABLE writes its tables")
  val ProjectionDir = row("spark.graft.projectionDir", Deployment, Text,
    "/tmp/graft_projections", "where aggregate projections are stored")
  val CheckpointDir = row("spark.graft.checkpointDir", Deployment, Text, "",
    "reliable checkpoint dir for the dedup pipelines (empty = local checkpoints)")
  val TlsTruststore = row("spark.graft.tls.truststore", Deployment, Text, "",
    "PKCS12 truststore remoteSecure() trusts")
  val TlsTruststorePassword = row("spark.graft.tls.truststorePassword",
    Deployment, Text, "", "the truststore's password")

  val all: Seq[Setting[_]] = rows.toList
  private val byName = all.map(s => s.name.toLowerCase(Locale.ROOT) -> s).toMap

  /** The declared row `name` spells, matched case-insensitively. */
  def find(name: String): Option[Setting[_]] =
    byName.get(name.trim.toLowerCase(Locale.ROOT))

  /** The session conf key `name` lands on: a declared row's name, or a
    * `spark.*` key outside `spark.graft.` as it is; None for anything
    * else. */
  def key(name: String): Option[String] = find(name).map(_.name).orElse(
    Some(name.trim).filter(n => n.startsWith("spark.") &&
      !n.regionMatches(true, 0, "spark.graft.", 0, 12)))

  /** `name = value` as (conf key, normalised value), or the refusal. */
  def resolve(name: String, value: String): (String, String) = {
    val k = key(name).getOrElse(
      throw refused(115, "UNKNOWN_SETTING", s"Unknown setting '$name'"))
    (k, find(k).fold(value)(_.normalise(value)))
  }
}
