package graft.core

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QualifiedTableName
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graft.FunctionShim
import org.apache.spark.sql.types.StructType

/** Loaders for the TESTDATA star schema (see /root/repo/TESTDATA.md).
  *
  * Every engine query reads parquet through this choke point (SparkEntry
  * routes all table access here): at 100 TB these paths become
  * partitioned directories / object-store prefixes and nothing above
  * this object changes. Reference analog: the `s3(...)` /
  * `s3Cluster(...)` table functions (reference
  * `temporal/workflow_query_executor_test.go:42-70`) — Spark's
  * FileSourceScanExec already distributes file splits across executors,
  * which is what s3Cluster adds over s3.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** One process-wide resolution per local parquet endpoint: the
    * schema and the file listing, keyed by path + the schema-shaping
    * confs + any declared schema, validated by a content signature.
    * `spark.read.parquet` re-infers the schema (a footer read) and
    * re-lists the files on every call — ~25 ms per table, paid by every
    * door session's view replay. A metastore resolves a table once;
    * this is that. Entries hold only a StructType and Hadoop
    * FileStatuses, never a session. */
  private final case class Resolved(
      sig: String, dataSchema: StructType, files: Array[FileStatus])
  private val resolved = new java.util.concurrent.ConcurrentHashMap[String, Resolved]()
  private val ResolvedMax = 256

  /** Confs parquet schema inference reads — a session that sets one
    * must never see a schema inferred under another value. */
  private val InferenceConfs = Seq(
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.caseSensitive")

  /** Recursive (name, length, mtime) digest over the endpoint — re-walked
    * on EVERY read (µs for a flat table), so a file added, removed or
    * rewritten under the path is seen by the very next read. Caveat: a
    * rewrite with identical length inside one mtime tick keeps the old
    * signature. Symlinked directories are followed once (cycle guard by
    * canonical path). */
  private def contentSig(f: java.io.File): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val seen = scala.collection.mutable.Set.empty[String]
    def walk(x: java.io.File): Unit = {
      md.update(
        s"${x.getName}:${x.length}:${x.lastModified};".getBytes("UTF-8"))
      if (x.isDirectory) {
        val canon =
          try x.getCanonicalPath
          catch { case _: java.io.IOException => x.getAbsolutePath }
        if (seen.add(canon))
          Option(x.listFiles()).getOrElse(Array.empty)
            .sortBy(_.getName).foreach(walk)
      }
    }
    walk(f)
    md.digest().map("%02x".format(_)).mkString
  }

  /** Serves a resolved listing to one session's `InMemoryFileIndex`
    * (no re-listing); on a miss it records what the index listed. */
  private final class Listing(root: Path, @volatile var files: Array[FileStatus])
      extends FileStatusCache {
    override def getLeafFiles(p: Path): Option[Array[FileStatus]] =
      if (p == root) Option(files) else None
    override def putLeafFiles(p: Path, fs: Array[FileStatus]): Unit =
      if (p == root) files = fs
    override def invalidateAll(): Unit = files = null
  }

  /** `spark.read.parquet(path)` (or `.schema(s)` first) through the
    * resolution cache. Each session builds its OWN relation over the
    * shared schema and listing — its SQLConf shapes the scan — and keeps
    * it in Spark's per-session table-relation cache, so repeat reads in
    * one session return one relation instance (the identity
    * [[graft.plans.ScanRelations]] keys planned scans by) and the
    * relation dies with its session. Non-local and glob paths read
    * plainly. */
  def readParquet(spark: SparkSession, path: String,
      schema: Option[StructType] = None): DataFrame = {
    def plain = schema.fold(spark.read)(spark.read.schema).parquet(path)
    val f = new java.io.File(path.stripPrefix("file:").stripPrefix("//"))
    if (!f.exists() || path.exists("*?[{".contains(_))) return plain
    val sig = contentSig(f)
    val key = (path +: schema.fold("")(_.json) +:
      InferenceConfs.map(spark.conf.getOption(_).getOrElse(""))).mkString("|")
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val relKey = QualifiedTableName("graft", "parquet", s"$key|$sig")
    val catalog = session.sessionState.catalog
    val cached = catalog.getCachedTable(relKey)
    if (cached != null) return FunctionShim.ofRows(spark, cached)
    val hp = new Path(path)
    val root = hp.getFileSystem(session.sessionState.newHadoopConf()).makeQualified(hp)
    val hit = Option(resolved.get(key)).filter(_.sig == sig)
    val listing = new Listing(root, hit.map(_.files).orNull)
    val index = new InMemoryFileIndex(spark, Seq(root), Map.empty, schema, listing)
    val dataSchema = hit.map(_.dataSchema).orElse {
      val resolver = session.sessionState.conf.resolver
      schema.map(s => StructType(s.filterNot(c =>
          index.partitionSchema.exists(p => resolver(p.name, c.name)))))
        .orElse(new ParquetFileFormat().inferSchema(spark, Map.empty, index.allFiles()))
        .map(FunctionShim.asNullable)
    }.getOrElse(return plain) // nothing to infer from: Spark's own error
    if (hit.isEmpty && listing.files != null) {
      if (resolved.size >= ResolvedMax) resolved.clear()
      resolved.put(key, Resolved(sig, dataSchema, listing.files))
    }
    val plan = LogicalRelation(HadoopFsRelation(index, index.partitionSchema,
      dataSchema, None, new ParquetFileFormat, Map.empty)(spark))
    catalog.cacheTable(relKey, plan)
    FunctionShim.ofRows(spark, plan)
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    require(names.contains(name), s"unknown table '$name' (known: ${names.mkString(", ")})")
    // events.ts arrives in whatever physical form the generator chose —
    // TIMESTAMP(NANOS) (rejected outright by Spark's converter unless
    // read as a nanos Long) in some rounds, TIMESTAMP(MICROS) without
    // isAdjustedToUTC (read as TIMESTAMP_NTZ) in others. Normalize both
    // to session-zone TIMESTAMP here so every operator above this choke
    // point sees one type. ns→µs uses integer division (exact; double
    // division would lose precision at 1.7e18); NTZ→LTZ under the UTC
    // session zone re-tags the same wall-clock instant.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = readParquet(spark, s"$dir/$name.parquet")
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.LongType) =>
        df.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts DIV 1000)"))
      case Some(org.apache.spark.sql.types.TimestampNTZType) =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }

  /** Register every table as a temp view for SQL-path queries.
    * Idempotent; cheap (no scan — just catalog entries). */
  def registerViews(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  /** Record the testdata tables in the CATALOG, not just this session's
    * temp views, so the service doors' per-request isolated sessions
    * resolve them — `ensureSessionViews` replays catalog entries per
    * request over the [[readParquet]] resolution this probe warms, while
    * plain temp views never cross sessions
    * (r13 finding: `Serve <dir>` answered /hc but a fresh request
    * couldn't see lineitem). `events` registers only when its physical
    * timestamp type is plain-readable — the nanos-normalizing [[load]]
    * is a loader concern the generic catalog materializer does not
    * reproduce. */
  def recordInCatalog(spark: SparkSession, dir: String): Unit =
    names.foreach { n =>
      val ep = s"$dir/$n.parquet"
      val readable =
        try { readParquet(spark, ep).schema; true }
        catch { case scala.util.control.NonFatal(_) => false }
      if (readable)
        Catalog.update(Catalog.AttachedTable(n, "", Nil, Some(ep)))
    }
}
