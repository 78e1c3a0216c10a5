package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StructField, StructType}

import graft.service.native.{NativeBlock, NativeClient}

/** `remote('host:port', db.table)` — the CH table function that reads
  * another server's table over the NATIVE TCP protocol (reference
  * surface: `workflow_query_executor.go:313` delegates the whole SQL
  * string, `remote(...)` spellings included, to ClickHouse; this
  * engine implements the function itself on top of its own
  * [[NativeClient]]).
  *
  * Topology: ONE Spark partition per address — each partition opens
  * its own native-protocol connection ON THE EXECUTOR and streams that
  * server's rows, so a sharded spelling
  * (`remote('node{1..4}:9000', db.t)`) scans all four shards in
  * parallel across the cluster, the way CH's Distributed engine fans
  * out. The driver opens exactly one short probe connection
  * (`SELECT * FROM t LIMIT 0`) for the schema.
  *
  * Types surface through [[NativeBlock.sparkTypeOf]] — the same
  * mapping the native door's INSERT path uses, unsigned
  * reinterpretations documented there. Every address is expected to
  * return the same schema (the probe's schema binds the scan; a
  * mismatched shard fails its task loudly at row conversion).
  *
  * 100 TB posture: per-address streams are independent (no shuffle);
  * parallelism equals the address count, which is the honest limit of
  * `remote()` — a single remote server is one stream by protocol. The
  * per-task materialization is one server's result set, the same
  * volume a CH initiator buffers per connection. */
object RemoteNative {

  private val Range = """\{(\d+)\.\.(\d+)\}""".r

  /** Expand `h1:9000,h2:9000` lists and one `{n..m}` numeric range
    * (CH's shard spelling). */
  def expandAddresses(spec: String): Seq[(String, Int)] =
    spec.split(',').map(_.trim).filter(_.nonEmpty).toSeq.flatMap { one =>
      val expanded = Range.findFirstMatchIn(one) match {
        case Some(m) =>
          val (lo, hi) = (m.group(1).toInt, m.group(2).toInt)
          require(hi >= lo && hi - lo < 1024,
            s"remote(): bad address range in '$one'")
          (lo to hi).map(i =>
            one.substring(0, m.start) + i + one.substring(m.end))
        case None => Seq(one)
      }
      expanded.map(splitHostPort)
    }

  /** Split one address into (host, port). Handles bracketed IPv6
    * (`[::1]:9440`, `[2001:db8::1]`) and falls back to the default
    * port 9000 when there is no port — including a bare IPv6 literal
    * (`::1`), whose last hextet must NOT be read as a port. */
  private[sources] def splitHostPort(a: String): (String, Int) =
    if (a.startsWith("[")) {
      val close = a.indexOf(']')
      require(close > 0, s"remote(): unterminated '[' in address '$a'")
      val host = a.substring(1, close)
      val rest = a.substring(close + 1)
      if (rest.isEmpty) (host, 9000)
      else {
        require(rest.head == ':', s"remote(): bad address '$a'")
        (host, rest.tail.toInt)
      }
    } else {
      val i = a.lastIndexOf(':')
      val tail = if (i < 0) "" else a.substring(i + 1)
      // a second colon means an unbracketed IPv6 literal with no port;
      // a non-numeric tail is not a port either
      if (i < 0 || a.indexOf(':') != i || !tail.forall(_.isDigit) || tail.isEmpty)
        (a, 9000)
      else (a.substring(0, i), tail.toInt)
    }

  /** Back-quote an identifier; the `default` database prefix is
    * dropped (this engine's catalog, like CH's default database, is
    * addressed bare). */
  private def qualified(db: String, table: String): String = {
    def q(s: String) = "`" + s.replace("`", "``") + "`"
    if (db.isEmpty || db == "default") q(table) else s"${q(db)}.${q(table)}"
  }

  def read(spark: SparkSession, addrSpec: String, db: String, table: String,
      user: String = "default", password: String = "",
      /** `remoteSecure()`: TLS per connection; the truststore comes
        * from `spark.graft.tls.truststore`/`.truststorePassword`
        * (captured at plan time, loaded on each executor — a shared
        * filesystem path, like any deployment credential). */
      secure: Boolean = false): DataFrame = {
    val addrs = expandAddresses(addrSpec)
    require(addrs.nonEmpty, s"remote(): no addresses in '$addrSpec'")
    val target = qualified(db, table)
    val trust: Option[(String, String)] =
      if (!secure) None
      else Some((
        Some(graft.service.Settings.TlsTruststore(spark)).filter(_.nonEmpty).getOrElse(
          throw new IllegalArgumentException(
            s"remoteSecure() needs ${graft.service.Settings.TlsTruststore.name} set")),
        graft.service.Settings.TlsTruststorePassword(spark)))
    def ctx(): Option[javax.net.ssl.SSLContext] =
      trust.map { case (p, pw) => graft.service.Tls.clientContext(p, pw) }

    // schema probe: one short driver-side connection to the first address
    val (h0, p0) = addrs.head
    val probe = new NativeClient(h0, p0, user = user, password = password,
      tls = ctx())
    val schema =
      try {
        val r = probe.query(s"SELECT * FROM $target LIMIT 0")
        StructType(r.cols.zip(r.types).map { case (n, t) =>
          StructField(n, NativeBlock.sparkTypeOf(NativeBlock.parseType(t)),
            nullable = true)
        })
      } finally probe.close()

    val rdd = spark.sparkContext
      .parallelize(addrs, addrs.size)
      .mapPartitions { it =>
        it.flatMap { case (h, p) =>
          // STREAMING read: at most one decoded block on this executor's
          // heap, never a shard's whole result; the connection closes
          // when the task completes (early exit included — a LIMIT that
          // stops consuming must not leak the socket)
          val c = new NativeClient(h, p, user = user, password = password,
            tls = trust.map { case (tp, tpw) =>
              graft.service.Tls.clientContext(tp, tpw) })
          Option(org.apache.spark.TaskContext.get()).foreach(
            _.addTaskCompletionListener[Unit](_ => c.close()))
          c.queryStream(s"SELECT * FROM $target").map(Row.fromSeq)
        }
      }
    spark.createDataFrame(rdd, schema)
  }

  /** Write-side federation — `INSERT INTO FUNCTION remote(…) SELECT …`
    * (CH's push spelling; the reference delegates it with the rest of
    * the SQL surface at `workflow_query_executor.go:313`).
    *
    * Topology mirrors [[read]] upside down: each DataFrame PARTITION
    * opens its own native INSERT connection on the executor and streams
    * its rows as typed blocks of `blockRows`, so the write fans out
    * across the cluster with one block per connection on any heap at a
    * time — never a partition's whole payload, never anything on the
    * driver. Partitions round-robin over the address list (a sharded
    * spelling load-balances like CH's Distributed insert with
    * `internal_replication=false` semantics: each row lands on exactly
    * one shard). Returns the row count written. */
  def write(spark: SparkSession, addrSpec: String, db: String, table: String,
      df: DataFrame, user: String = "default", password: String = "",
      secure: Boolean = false, blockRows: Int = 65536): Long = {
    val addrs = expandAddresses(addrSpec)
    require(addrs.nonEmpty, s"remote(): no addresses in '$addrSpec'")
    val target = qualified(db, table)
    val trust: Option[(String, String)] =
      if (!secure) None
      else Some((
        Some(graft.service.Settings.TlsTruststore(spark)).filter(_.nonEmpty).getOrElse(
          throw new IllegalArgumentException(
            s"remoteSecure() needs ${graft.service.Settings.TlsTruststore.name} set")),
        graft.service.Settings.TlsTruststorePassword(spark)))
    def ctx(): Option[javax.net.ssl.SSLContext] =
      trust.map { case (p, pw) => graft.service.Tls.clientContext(p, pw) }

    // schema probe (mirror of the read path): blocks must carry the
    // TARGET's declared wire types, not whatever width the local frame
    // happens to have (an Int32 parquet column inserting into an Int64
    // target would otherwise fail server-side)
    val (h0, p0) = addrs.head
    val probe = new NativeClient(h0, p0, user = user, password = password,
      tls = ctx())
    val declared: Map[String, NativeBlock.ChT] =
      try {
        val r = probe.query(s"SELECT * FROM $target LIMIT 0")
        r.cols.zip(r.types.map(NativeBlock.parseType)).toMap
      } finally probe.close()
    val names = df.schema.fieldNames.toSeq
    val types = names.map(n => declared.getOrElse(n,
      throw new IllegalArgumentException(
        s"INSERT INTO FUNCTION remote(…, $target): remote table has no " +
          s"column '$n' (it has ${declared.keys.mkString(", ")})")))
    val aligned = df.select(names.zip(types).map { case (n, t) =>
      org.apache.spark.sql.functions.col(n)
        .cast(NativeBlock.sparkTypeOf(t)).as(n)
    }: _*)
    val opener = s"INSERT INTO $target (" +
      names.map(n => "`" + n.replace("`", "``") + "`").mkString(", ") + ")"
    val counts = aligned.rdd.mapPartitions { it =>
      if (it.isEmpty) Iterator.single(0L)
      else {
        val pid = Option(org.apache.spark.TaskContext.get())
          .map(_.partitionId()).getOrElse(0)
        val (h, p) = addrs(pid % addrs.size)
        val c = new NativeClient(h, p, user = user, password = password,
          tls = trust.map { case (tp, tpw) =>
            graft.service.Tls.clientContext(tp, tpw) })
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ => c.close()))
        var n = 0L
        val blocks = it.grouped(blockRows).map { rows =>
          n += rows.size
          names.indices.map { i =>
            NativeBlock.Col(names(i), types(i),
              rows.map(r => r.get(i)).toIndexedSeq)
          }
        }
        c.insertStream(opener, blocks)
        Iterator.single(n)
      }
    }
    counts.fold(0L)(_ + _)
  }
}
