package graft.sources.mergetree

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** CTAS `ENGINE = MergeTree` materialization (VERDICT r9 task #8): the
  * write front door accepted the ENGINE clause but produced parquet;
  * this writes a REAL wide-part tree through [[MergeTreePartWriter]] —
  * ATTACH-able by the same path the reference's github_events ATTACH
  * reads (q160), locally or served over http (the `.index` listing is
  * written too).
  *
  * Scale shape (VERDICT r10 task #4 — the old driver-side collect and
  * its 10M-row cap are gone): parts are encoded ON EXECUTORS.
  *   - one distributed stats pass derives row count and observed
  *     nullability (the only driver-side result is that one row);
  *   - `repartitionByRange` on the ORDER BY key + per-partition sort
  *     ranges the rows so every part is sorted AND parts are
  *     key-disjoint (each task's range is contiguous);
  *   - each task encodes its partition as one part via the same
  *     [[writeChunk]] the driver path used (staged under a `tmp_` name
  *     invisible to readers, atomic-renamed — a task retry either wins
  *     the rename or deletes its duplicate);
  *   - the driver only assembles the http `.index` afterwards.
  * Part size targets ceil(rows/parallelism) clamped to [128k, 1M] rows
  * (`spark.graft.mergeTreePartRows` pins it — CH's own ~1M
  * part-per-INSERT shape);
  * a heavily skewed ORDER BY key can exceed the target (range
  * partitioning can't split one key value), exactly as a CH part can.
  * Targets route through [[TreeFs]]: plain/`file:` paths take the
  * local fast path (a multi-node cluster then needs `dir` on a shared
  * mount), and remote Hadoop schemes (`hdfs:`, `s3a:`, …) write
  * through the `FileSystem` API from every executor — the reference's
  * own data plane is S3-backed web disks. Rename-atomicity caveats for
  * object stores are documented on [[TreeFs]].
  */
object MergeTreeCtas {

  private val MaxPartRows = 1L << 20
  private val MinPartRows = 1L << 17
  private val Granularity = 8192

  /** CH type string for a Spark field. Nullability is decided from the
    * DATA (observed nulls), not the schema flag — Spark marks almost
    * everything nullable, and a Nullable key column would refuse the
    * primary index. */
  private def chBase(dt: DataType): String = dt match {
    case ByteType => "Int8"
    case ShortType => "Int16"
    case IntegerType => "Int32"
    case LongType => "Int64"
    case FloatType => "Float32"
    case DoubleType => "Float64"
    case StringType => "String"
    case BooleanType => "Bool"
    case DateType => "Date32"
    case TimestampType | TimestampNTZType => "DateTime64(6)"
    // Decimal → the narrowest CH width that carries the precision
    // (Decimal32/64/128 per CH's own tiering; r18)
    case d: org.apache.spark.sql.types.DecimalType if d.precision <= 9 =>
      s"Decimal32(${d.scale})"
    case d: org.apache.spark.sql.types.DecimalType if d.precision <= 18 =>
      s"Decimal64(${d.scale})"
    case d: org.apache.spark.sql.types.DecimalType if d.precision <= 38 =>
      s"Decimal128(${d.scale})"
    case other => throw new IllegalArgumentException(
      s"CTAS ENGINE=MergeTree: no MergeTree encoding for Spark type " +
        s"${other.simpleString} — cast it in the SELECT " +
        "(maps/structs → explicit columns)")
  }

  /** Write `df` as a part tree under `dir`; returns (rows, ATTACH ddl).
    * Rows are range-partitioned and per-partition sorted by `orderBy`,
    * so every part is sorted (and parts are key-disjoint) with a
    * truthful primary.idx; encoding runs on executors. `declaredDdl`
    * (the maintenance paths pass the table's own column list) PRESERVES
    * the original CH types — Enum stays Enum, LowCardinality stays
    * LowCardinality, unsigned widths stay unsigned — instead of
    * re-deriving wider Spark-mapped types, so a mutated tree still
    * decodes under its original ATTACH DDL (review finding).
    *
    * The SELECT is evaluated twice (a stats pass, then the write
    * pass); a non-deterministic source can surface a NULL the stats
    * pass never saw — the encoder then fails the task LOUDLY (no
    * silent mis-encode), and the returned row count is the WRITTEN
    * parts' own count.txt sum, never the stats pass's (review
    * finding). Pre-materialize non-deterministic SELECTs. */
  def write(
      spark: SparkSession,
      df: DataFrame,
      dir0: String,
      orderBy: Seq[String],
      declaredDdl: Option[String] = None,
      op: String = "CTAS ENGINE=MergeTree",
      partitionBy: Option[String] = None): (Long, String) = {
    val (dir, fs) = TreeFs.forWrite(dir0)
    val (total, cols) = analyze(spark, df, orderBy, declaredDdl, op)
    // per-endpoint serialization: two concurrent rewrites would race
    // the backup-staged swap
    var written = 0L
    treeLock(dir).synchronized {
      val existingTree = fs.isDir(dir)
      if (existingTree) requireSchemeMatch(dir, partitionBy, op)
      // parts of a REWRITE are numbered above the previous tree's
      // durable block watermark: part names are MergeTree's
      // content-version unit, and reusing all_1_1_0… across a
      // row-count-preserving mutation left the projection staleness
      // fingerprint unchanged — queries kept rerouting to a stale
      // pre-mutation companion (advisor finding, HIGH)
      val base = if (existingTree) blockWatermark(dir) else 0
      // an empty result writes a PARTLESS tree — a MergeTree table IS
      // its metadata, parts are optional (CH holds empty tables fine;
      // VERDICT r10 missing #3): format_version.txt marks the root so
      // the scan can tell "validated empty table" from "wrong path"
      def writeTree(treeDir: String): Unit = {
        val parts =
          if (total > 0)
            writeParts(spark, df, treeDir, cols, orderBy, base, total,
              partitionBy, fs)
          else Nil
        written = parts.map(_._2).sum
        writeFormatVersion(fs, treeDir)
        // the watermark persists even when the tree is partless: a
        // TRUNCATE-then-refill that restarted numbering at 1 could
        // reproduce a byte-identical parts inventory and collide with
        // a stale projection fingerprint (review finding)
        writeWatermark(fs, treeDir,
          math.max(base, parts.flatMap(p => TableFiles.maxBlock(p._1)).maxOption.getOrElse(0)))
        MergeTreePartWriter.writeHttpIndex(treeDir, fs)
      }
      if (existingTree)
        // a re-run over an existing tree goes through the backup-staged
        // swap, so a mid-write failure leaves the previous tree intact
        graft.core.FsSwap.replace(spark, dir, "ctas") { tmp =>
          fs.mkdirs(tmp.toString)
          writeTree(tmp.toString)
        }
      else {
        fs.mkdirs(dir)
        writeTree(dir)
      }
    }
    (written, cols.map { case (n, t) => s"`$n` $t" }.mkString(", "))
  }

  /** Append the frame as NEW PARTS of an existing tree — CH's own
    * INSERT model (every INSERT batch becomes parts of ~1M rows;
    * merges come later via OPTIMIZE). Executor-parallel like [[write]]
    * (the old ONE-part 1M-row bound is gone); an empty frame appends
    * nothing. Parts are staged executor-side in a dot-prefixed SIBLING
    * dir (invisible to readers and safe from a concurrent whole-tree
    * swap) OUTSIDE the endpoint lock — only the block-number
    * allocation and the renames into place serialize — so a mid-write
    * death never leaves a torn readable part. Returns the appended row
    * count (the written parts' own sum, robust to non-deterministic
    * SELECTs — see [[write]]). */
  def appendPart(
      spark: SparkSession,
      df: DataFrame,
      dir0: String,
      orderBy: Seq[String],
      declaredDdl: Option[String] = None,
      op: String = "INSERT INTO",
      partitionBy: Option[String] = None): Long = {
    val (dir, fs) = TreeFs.forWrite(dir0)
    val (total, cols) = analyze(spark, df, orderBy, declaredDdl, op)
    if (total == 0) return 0L
    requireSchemeMatch(dir, partitionBy, op)
    // encode on executors into a unique SIBLING staging dir (same
    // parent → same filesystem → the final moves are atomic renames).
    // A sibling, NOT a subdir of the tree: a concurrent OPTIMIZE or
    // mutation swaps the whole tree dir aside and deletes it, which
    // would destroy an in-flight INSERT's staging written inside it
    // (review finding); the dot-prefixed sibling survives the swap.
    // first append may CREATE the tree (streaming ingest's first
    // micro-batch lands on a fresh path)
    fs.mkdirs(dir)
    val staging = s".${fs.name(dir)}.insert_" +
      java.util.UUID.randomUUID().toString.take(8)
    val stagingDir = fs.join(fs.parent(dir), staging)
    fs.mkdirs(stagingDir)
    val written =
      try writeParts(spark, df, stagingDir, cols, orderBy,
        base = 0, total, partitionBy, fs)
      catch { case e: Throwable => fs.deleteTree(stagingDir); throw e }
    // number allocation + rename are serialized per endpoint: the
    // QueryServer runs statements on a thread pool, and two unlocked
    // INSERTs could allocate the same part numbers (advisor finding)
    treeLock(dir).synchronized {
      // sweep only AGED staged leftovers — a concurrent statement's
      // fresh staging must survive the sweep (advisor finding)
      sweepStaged(fs, dir, olderThanMs = StagedSweepAgeMs, keep = staging)
      // the NEXT part starts above the durable block watermark (max of
      // MAX block fields + the sidecar surviving TRUNCATE) — an
      // appended part must never be "covered" by a merged part like
      // all_1_5_1 (advisor finding: real ClickHouse silently drops
      // covered parts' rows on ATTACH), nor reuse a pre-TRUNCATE name
      val next = 1 + blockWatermark(dir)
      val renamed = written.zipWithIndex.map { case ((staged, _), i) =>
        // preserve the staged part's partition-id prefix: blocks are
        // table-global (above the watermark regardless of partition),
        // which is stricter than CH's per-partition coverage rule and
        // therefore always safe
        val pid = MergeTreePartitioning.pidOf(staged)
        val name = s"${pid}_${next + i}_${next + i}_0"
        require(fs.moveInto(fs.join(stagingDir, staged), fs.join(dir, name)),
          s"$op: part rename collided under the endpoint lock — " +
            s"$staged onto block ${next + i}")
        name
      }
      fs.deleteTree(stagingDir)
      writeFormatVersion(fs, dir)
      writeWatermark(fs, dir, next + written.size - 1)
      // manifest publish = the INSERT's commit point (exactly these
      // parts become visible; debris never re-manifests)
      MergeTreePartWriter.writeHttpIndex(dir, fs, addParts = renamed)
    }
    spark.catalog.refreshByPath(dir)
    written.map(_._2).sum
  }

  /** `ALTER TABLE dst ATTACH PARTITION <pid> FROM src` — CH's
    * metadata-cost partition COPY: the source partition's parts are
    * file-copied into the destination tree under fresh block numbers
    * above the destination's watermark (a copied part must never be
    * "covered" by an existing merged part); the source is untouched
    * (CH's `ATTACH … FROM` copies — `MOVE PARTITION TO TABLE` is the
    * moving spelling). No data decode, no shuffle: at 100 TB this is
    * the inbound half of partition rotation, the same cost shape as
    * DROP PARTITION. The CALLER validates structural compatibility
    * (columns, sorting key, partition expression — CH refuses
    * mismatches too); this function validates the scheme mechanically.
    * Returns the copied row count (the parts' own count.txt sums). */
  def attachPartitionFrom(
      spark: SparkSession, dstDir0: String, srcDir0: String,
      pid: String): Long = {
    val (dst, dfs) = TreeFs.forWrite(dstDir0)
    val (src, sfs) = TreeFs.forWrite(srcDir0)
    require(dst != src,
      "ATTACH PARTITION FROM: source and destination are the same tree")
    require(pid != "all",
      "ATTACH PARTITION FROM: 'all' is the unpartitioned sentinel, not " +
        "a partition id")
    // only the DESTINATION locks: the source is read-only here, and
    // taking both monitors would deadlock against a concurrent
    // opposite-direction attach
    val rows = treeLock(dst).synchronized {
      val stf = TableFiles(src)
      val victims = stf.partDirs()
        .filter(p => MergeTreePartitioning.pidOf(p) == pid)
      if (victims.isEmpty) 0L
      else {
        val dstParts = TableFiles(dst).partDirs()
        require(dstParts.isEmpty ||
            MergeTreePartitioning.isPartitioned(dstParts),
          s"ATTACH PARTITION FROM: destination tree at '$dst' is " +
            "UNPARTITIONED — partitioned parts cannot mix into it")
        var next = 1 + blockWatermark(dst)
        var n = 0L
        val attached = Seq.newBuilder[String]
        victims.foreach { p =>
          n += stf.text(s"$p/count.txt").trim.toLong
          val staged = dfs.join(dst,
            s"tmp_a${java.util.UUID.randomUUID().toString.take(8)}")
          // per-file copy through the two filesystems' own APIs — the
          // source and destination may live on DIFFERENT filesystems
          // (hdfs -> local, local -> s3a); part files are bounded by
          // the ~1M-row part shape, so whole-file buffering is fine
          copyTree(sfs, sfs.join(src, p), dfs, staged)
          val name = s"${pid}_${next}_${next}_0"
          require(dfs.moveInto(staged, dfs.join(dst, name)),
            s"ATTACH PARTITION FROM: part rename collided under the " +
              s"endpoint lock — block $next")
          attached += name
          next += 1
        }
        writeFormatVersion(dfs, dst)
        writeWatermark(dfs, dst, next - 1)
        MergeTreePartWriter.writeHttpIndex(dst, dfs,
          addParts = attached.result())
        n
      }
    }
    spark.catalog.refreshByPath(dst)
    rows
  }

  private def copyTree(
      sfs: TreeFs, from: String, dfs: TreeFs, to: String): Unit = {
    dfs.mkdirs(to)
    sfs.walkFiles(from).foreach { rel =>
      val target = dfs.join(to, rel)
      if (rel.contains('/')) dfs.mkdirs(dfs.parent(target))
      dfs.write(target, sfs.readBytes(sfs.join(from, rel)))
    }
  }

  /** Root `format_version.txt` — MergeTree's own tree marker (real CH
    * writes `1`). Its presence is what lets a PARTLESS tree scan as an
    * empty table instead of refusing as a wrong path. */
  private def writeFormatVersion(fs: TreeFs, treeDir: String): Unit =
    fs.write(fs.join(treeDir, "format_version.txt"),
      "1\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private val StagedSweepAgeMs = 60L * 60 * 1000

  /** Block-number watermark: max over live part names AND the sidecar
    * file. Parts alone lose the watermark when a TRUNCATE (or
    * delete-all mutation) empties the tree — a refill that restarted
    * at 1 could reproduce a byte-identical `name:rows:granules:columns`
    * inventory and collide with a STALE projection fingerprint,
    * serving pre-TRUNCATE aggregates (review finding). */
  private val WatermarkFile = ".graft_max_block"

  private def blockWatermark(dir: String): Int = {
    val fs = TreeFs.forWrite(dir)._2
    // RAW directory listing, not the manifest view: an unmanifested
    // part dir (a crashed writer's debris, invisible to readers) must
    // still push allocation above its block numbers or the next
    // rename would collide with it
    val fromParts = (
        if (fs.isDir(dir)) fs.listStatus(dir).collect {
          case (name, true, _, _) if TableFiles.PartNameRe.matches(name) => name
        } else Seq.empty)
      .flatMap(TableFiles.maxBlock).maxOption.getOrElse(0)
    val fromFile =
      try {
        val p = fs.join(dir, WatermarkFile)
        if (fs.exists(p))
          new String(fs.readBytes(p),
            java.nio.charset.StandardCharsets.UTF_8).trim.toInt
        else 0
      } catch { case _: Exception => 0 }
    math.max(fromParts, fromFile)
  }

  private def writeWatermark(fs: TreeFs, treeDir: String, max: Int): Unit =
    fs.write(fs.join(treeDir, WatermarkFile),
      s"$max\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Delete AGED staging debris from crashed statements — `tmp_*` dirs
    * under the tree (the legacy in-tree staging) and dot-prefixed
    * `.<tree>.insert_*` siblings — never a concurrent writer's live
    * staging (those are seconds old; debris is hours). `keep` names
    * this statement's own staging dir, excluded regardless of age. */
  private def sweepStaged(
      fs: TreeFs, dir: String, olderThanMs: Long, keep: String = ""): Unit = {
    val cutoff = System.currentTimeMillis() - olderThanMs
    def aged(name: String, isDir: Boolean, mtime: Long): Boolean =
      isDir && name != keep && mtime < cutoff
    fs.listStatus(dir)
      .filter { case (n, d, _, m) => aged(n, d, m) && n.startsWith("tmp_") }
      .foreach { case (n, _, _, _) => fs.deleteTree(fs.join(dir, n)) }
    val parent = fs.parent(dir)
    fs.listStatus(parent)
      .filter { case (n, d, _, m) =>
        aged(n, d, m) && n.startsWith(s".${fs.name(dir)}.insert_") }
      .foreach { case (n, _, _, _) => fs.deleteTree(fs.join(parent, n)) }
  }

  /** One JVM-wide lock object per normalized tree dir. Remote-scheme
    * endpoints key on their own URI string (already normalized by
    * [[TreeFs.forWrite]]); local paths absolute-normalize. */
  private val treeLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def treeLock(dir: String): Object =
    treeLocks.computeIfAbsent(
      if (TreeFs.hadoopScheme(dir).isDefined) dir
      else java.nio.file.Paths.get(dir).toAbsolutePath.normalize.toString,
      _ => new Object)

  /** Run `f` holding the tree's write lock — for callers that need a
    * write plus follow-up metadata atomically against concurrent
    * INSERT/rewrite (e.g. OPTIMIZE's projection re-fingerprint: a part
    * appended between the merge and the re-stamp would be masked).
    * Reentrant — [[write]]/[[appendPart]] inside `f` take the same
    * monitor. */
  def withTreeLock[A](dir0: String)(f: => A): A =
    treeLock(localDir(dir0)).synchronized(f)

  /** Move a whole owned storage directory to a new endpoint (RENAME
    * TABLE of a CTAS table — advisor r12 high finding: re-keying the
    * catalog while the tree stays at `$warehouse/<old>` lets a later
    * `CREATE TABLE <old>` write into the renamed table's live storage).
    * One rename under the source tree's lock; refuses if the
    * destination exists. Works for MergeTree trees and sorted-parquet
    * CTAS dirs alike — it never looks inside. */
  def moveTree(srcEndpoint: String, dstEndpoint: String, op: String): Unit = {
    val (src, fs) = TreeFs.forWrite(srcEndpoint)
    val (dst, _) = TreeFs.forWrite(dstEndpoint)
    withTreeLock(src) {
      require(fs.exists(src), s"$op: storage '$src' does not exist")
      require(!fs.exists(dst),
        s"$op: destination storage '$dst' already exists")
      fs.mkdirs(fs.parent(dst))
      require(fs.moveInto(src, dst),
        s"$op: move '$src' -> '$dst' failed (destination appeared " +
          "concurrently)")
    }
  }

  /** Maintenance writes address trees by the ATTACH endpoint string,
    * which may carry a file: scheme in any rendering — `file:///p`,
    * `file:/p` (the hadoop Path/URI form the old literal `file://`
    * stripPrefix let through as a RELATIVE path — advisor finding) —
    * or a remote Hadoop scheme. [[TreeFs.forWrite]] is the one
    * normalizer. */
  private def localDir(dir: String): String = TreeFs.forWrite(dir)._1

  /** `name -> CH type` from an ATTACH-style column list. */
  private def parseDdl(ddl: String): Map[String, String] =
    graft.types.ChSchemaParser.columnPairs(ddl).toMap

  /** Validate and derive CH column types from the declared DDL
    * (maintenance) or the schema (CTAS) + observed nullability —
    * nullability comes from ONE distributed aggregate pass (row count,
    * per-column null flags, per-array-column element-null flags), not
    * a driver collect. Returns (total rows, name → CH type). */
  private def analyze(
      spark: SparkSession,
      df: DataFrame,
      orderBy: Seq[String],
      declaredDdl: Option[String] = None,
      op: String = "CTAS ENGINE=MergeTree"): (Long, Seq[(String, String)]) = {
    import org.apache.spark.sql.functions._
    val fields = df.schema.fields
    val declared: Map[String, String] = declaredDdl.map(parseDdl).getOrElse(Map.empty)
    orderBy.foreach { k =>
      require(fields.exists(_.name == k),
        s"$op: ORDER BY column '$k' is not in the SELECT")
    }
    // type support refuses from the SCHEMA, before any execution — an
    // unsupported column must not cost a data pass first (review
    // finding); a column covered by the declared DDL keeps ITS type
    // and needs no Spark-side derivation
    fields.foreach { f =>
      if (!declared.contains(f.name)) f.dataType match {
        case ArrayType(et, _) => chBase(et)
        case dt => chBase(dt)
      }
    }
    // one stats pass: _n = count, n<i> = column i saw a NULL row,
    // e<i> = array column i saw a NULL element (null array ELEMENTS
    // have no MergeTree encoding in the supported subset)
    val nullChecks = fields.zipWithIndex.map { case (f, i) =>
      max(when(col(s"`${f.name}`").isNull, 1).otherwise(0)).as(s"n$i")
    }
    val elemChecks = fields.zipWithIndex.collect {
      case (StructField(n, ArrayType(_, _), _, _), i) =>
        max(when(exists(col(s"`$n`"), x => x.isNull), 1).otherwise(0)).as(s"e$i")
    }
    val stat = df.agg(count(lit(1)).as("_n"), (nullChecks ++ elemChecks): _*)
      .collect().head
    val total = stat.getLong(0)
    def flag(name: String): Boolean = {
      val j = stat.fieldIndex(name)
      !stat.isNullAt(j) && stat.getInt(j) == 1
    }
    fields.zipWithIndex.foreach { case (f, i) =>
      if (f.dataType.isInstanceOf[ArrayType])
        require(!flag(s"e$i"),
          s"$op: column '${f.name}' has a NULL array element — " +
            "Nullable inside Array is outside the MergeTree subset; " +
            "coalesce the elements in the SELECT")
    }
    val cols: Seq[(String, String)] = fields.zipWithIndex.map { case (f, i) =>
      val hasNull = flag(s"n$i")
      declared.get(f.name) match {
        case Some(dt) =>
          // the table's own type is authoritative; NULLs into a
          // non-Nullable column refuse, as ClickHouse itself does — a
          // silently-Nullable rewrite would contradict the registered
          // view's schema and fold IS NULL to false (review finding).
          // Nullability may hide under a LowCardinality wrapper:
          // LowCardinality(Nullable(String)) IS nullable (r16 bug —
          // the bare startsWith refused legal NULLs)
          val declaredNullable = {
            val t = dt.trim
            t.startsWith("Nullable") ||
              (t.startsWith("LowCardinality(") &&
                t.stripPrefix("LowCardinality(").trim.startsWith("Nullable"))
          }
          require(!hasNull || declaredNullable,
            s"$op: cannot write NULL into non-Nullable column " +
              s"'${f.name}' ($dt) — ClickHouse refuses this too; " +
              "coalesce the value or declare the column Nullable")
          f.name -> dt
        case None =>
          val base = f.dataType match {
            case ArrayType(et, _) => s"Array(${chBase(et)})"
            case dt => chBase(dt)
          }
          val t =
            if (hasNull) {
              require(!f.dataType.isInstanceOf[ArrayType],
                s"$op: array column '${f.name}' has NULL rows " +
                  "— Nullable(Array) is outside the MergeTree subset")
              require(!orderBy.contains(f.name),
                s"$op: ORDER BY column '${f.name}' contains " +
                  "NULLs — a primary-key column must be non-null")
              s"Nullable($base)"
            } else base
          f.name -> t
      }
    }.toSeq
    (total, cols)
  }

  /** Rows per part: `spark.graft.mergeTreePartRows`, or
    * ceil(total/parallelism) clamped to [128k, 1M] — small frames land
    * in one part, big ones use the whole machine without dropping below
    * a granule-amortizing floor or above CH's ~1M part shape. */
  private def partRows(spark: SparkSession, total: Long): Long =
    Some(graft.service.Settings.MergeTreePartRows(spark)).filter(_ > 0).getOrElse {
      val par = math.max(spark.sparkContext.defaultParallelism, 1)
      math.min(math.max((total + par - 1) / par, MinPartRows), MaxPartRows)
    }

  /** Encode `df` as sorted parts under `treeDir` ON EXECUTORS: range
    * partition + per-partition sort on the ORDER BY key, one part per
    * non-empty partition, each staged under a `tmp_w` name and
    * atomic-renamed (a task retry either wins the rename or deletes
    * its duplicate — first writer wins, both wrote identical rows).
    * Returns (part name, rows) in block order — the written counts are
    * authoritative for the caller's row accounting. */
  /** A tree's write must keep its partition scheme: rewriting or
    * appending unpartitioned parts into a partitioned tree (or the
    * reverse) would mix `all_…` and `<pid>_…` parts — readable, but no
    * longer a coherent CH table (DROP PARTITION would miss rows).
    * Callers that address the table by NAME thread the catalog's
    * PARTITION BY; a path-addressed write on a mismatched tree refuses
    * with that guidance. */
  private def requireSchemeMatch(
      dir: String, partitionBy: Option[String], op: String): Unit = {
    val parts = TableFiles(dir).partDirs()
    if (parts.isEmpty) return
    val treePartitioned = MergeTreePartitioning.isPartitioned(parts)
    require(treePartitioned == partitionBy.isDefined,
      if (treePartitioned)
        s"$op: tree at '$dir' is PARTITIONED (ids: " +
          s"${MergeTreePartitioning.partitionIds(parts).take(5).mkString(", ")}…) " +
          "but no PARTITION BY is known — address the table by its " +
          "catalog name so the partition expression is applied"
      else
        s"$op: tree at '$dir' is UNPARTITIONED but a PARTITION BY was " +
          "supplied — partitioning an existing tree requires a rewrite " +
          "(CREATE a new partitioned table AS SELECT from this one)")
  }

  /** One task partition may span several PARTITION BY values (range
    * partitioning on (pid, key) keeps them contiguous): each run of one
    * pid becomes its own part named `<pid>_<block>_<block>_0`. Blocks
    * are unique per (task, run-set) because coverage is judged within a
    * partition — two parts of different pids may share a block number,
    * exactly CH's model. */
  private def writeParts(
      spark: SparkSession, df: DataFrame, treeDir: String,
      cols: Seq[(String, String)], orderBy: Seq[String],
      base: Int, total: Long,
      partitionBy: Option[String] = None,
      fs: TreeFs = NioTreeFs): Seq[(String, Long)] = {
    import org.apache.spark.sql.functions.col
    val perPart = partRows(spark, total)
    val nParts = math.max(1L, (total + perPart - 1) / perPart).toInt
    val orderCols = orderBy.map(c => col(s"`$c`"))
    val width = cols.size
    // partitioned: stage pid/pval columns and range on (pid, key) so
    // every task's rows are pid-contiguous and key-sorted within a pid
    val stagedOpt = partitionBy.map(pe => MergeTreePartitioning.stage(df, pe))
    val arranged = stagedOpt match {
      case Some((staged, _, _)) =>
        val pidC = col(MergeTreePartitioning.PidCol)
        staged.repartitionByRange(nParts, (pidC +: orderCols): _*)
          .sortWithinPartitions((pidC +: orderCols): _*)
      case None =>
        if (orderBy.nonEmpty)
          df.repartitionByRange(nParts, orderCols: _*)
            .sortWithinPartitions(orderCols: _*)
        else if (nParts == 1) df.coalesce(1)
        else df.repartition(nParts)
    }
    val pvalT = stagedOpt.map(_._2)
    // minmax subject: the partition expression's single source column,
    // when it is one of the table's own scalar columns
    val minmaxCol: Option[(Int, String, String)] = for {
      (_, _, srcOpt) <- stagedOpt
      src <- srcOpt
      ci = cols.indexWhere(_._1 == src) if ci >= 0
      ts = cols(ci)._2
      if scalarForMinmax(ts)
    } yield (ci, src, ts)
    val (dirB, colsB, obB, baseB) = (treeDir, cols, orderBy, base)
    val (partitionedB, pvalTB, minmaxB) = (stagedOpt.isDefined, pvalT, minmaxCol)
    // the filesystem handle rides the closure — executors on a remote
    // scheme carry the serialized Hadoop configuration with it
    val fsB = fs
    arranged.rdd.mapPartitionsWithIndex { (idx, it) =>
      val all = it.map(_.toSeq).toVector
      if (all.isEmpty) Iterator.empty
      else {
        // split the task's rows into runs of one partition id (the
        // whole task is one run when unpartitioned)
        val runs: Seq[(String, Vector[Seq[Any]])] =
          if (!partitionedB) Seq(("all", all))
          else {
            val pidIdx = all.head.size - 1
            val grouped = Vector.newBuilder[(String, Vector[Seq[Any]])]
            var runPid: String = null
            var run = Vector.newBuilder[Seq[Any]]
            all.foreach { r =>
              val pid = r(pidIdx)
              require(pid != null,
                "PARTITION BY expression evaluated to NULL — CH refuses " +
                  "NULL partition keys; coalesce the value in the SELECT")
              val p = pid.toString
              if (p != runPid) {
                if (runPid != null) grouped += ((runPid, run.result()))
                runPid = p; run = Vector.newBuilder[Seq[Any]]
              }
              run += r
            }
            if (runPid != null) grouped += ((runPid, run.result()))
            grouped.result()
          }
        runs.iterator.map { case (pid, runRows) =>
          val partName = s"${pid}_${baseB + idx + 1}_${baseB + idx + 1}_0"
          val staged = s"tmp_w${java.util.UUID.randomUUID().toString.take(8)}"
          val bare = if (partitionedB) runRows.map(_.take(colsB.size)) else runRows
          writeChunk(fsB, dirB, colsB, bare, staged, obB)
          if (partitionedB) {
            val pvalIdx = runRows.head.size - 2
            val pval = runRows.head(pvalIdx)
            val minmax = minmaxB.flatMap { case (ci, src, ts) =>
              val vs = runRows.view.map(_(ci))
              if (vs.exists(_ == null)) None
              else {
                // compare in the SAME domain the scan's pruning uses
                // (KeyOrdering: unsigned for UInt64, UTF-8 byte order
                // for strings) — JVM Comparable disagreed on both and
                // a too-small stored max prunes live rows (review
                // finding)
                val inner = ChType.parse(ts) match {
                  case ChType.LowCardinalityT(i) => i
                  case t => t
                }
                val ord = KeyOrdering(Seq(inner))
                var mn = vs.head; var mx = vs.head
                vs.foreach { v =>
                  if (ord.compareValues(inner, v, mn) < 0) mn = v
                  if (ord.compareValues(inner, v, mx) > 0) mx = v
                }
                Some((src, ts, mn, mx))
              }
            }
            MergeTreePartWriter.writePartitionMeta(
              fsB.join(dirB, staged), pvalTB.get, pval, minmax, fsB)
          }
          // a task retry either wins the rename or deletes its
          // duplicate — first writer wins, both wrote identical rows
          if (!fsB.moveInto(fsB.join(dirB, staged), fsB.join(dirB, partName)))
            fsB.deleteTree(fsB.join(dirB, staged))
          (idx, partName, runRows.size.toLong)
        }
      }
    }.collect().sortBy(t => (t._1, t._2)).map(t => (t._2, t._3)).toSeq
  }

  /** Types whose run min/max we can serialize into a `minmax_<col>.idx`
    * AND whose JVM row values order consistently with the index's
    * binary domain (enums order by CODE while rows surface names —
    * excluded; floats excluded with them: CH forbids float partition
    * keys outright). */
  private def scalarForMinmax(chTypeStr: String): Boolean =
    try {
      import ChType._
      (ChType.parse(chTypeStr) match {
        case LowCardinalityT(inner) => inner
        case t => t
      }) match {
        case FixedInt(_, _) | Str | Date16 | Date32T | DateTime32 |
            DateTime64T(_) => true
        case _ => false
      }
    } catch { case _: Exception => false }

  /** One chunk as one part — COMPACT below the granularity when its
    * types fit the compact subset (CH's min_bytes_for_wide_part rule;
    * a mixed wide/compact tree is the normal shape of a real table). */
  private def writeChunk(
      fs: TreeFs, treeDir: String, cols: Seq[(String, String)],
      chunk: Seq[Seq[Any]], partName: String, orderBy: Seq[String]): Unit = {
    val compactOk = chunk.size < Granularity &&
      cols.forall { case (_, ts) => CompactCodec.supported(ChType.parse(ts)) }
    if (compactOk)
      MergeTreePartWriter.writeCompactPart(
        treeDir, cols, chunk, granularity = Granularity,
        partName = partName, orderBy = orderBy, fs = fs)
    else
      MergeTreePartWriter.writePart(
        treeDir, cols, chunk, granularity = Granularity,
        partName = partName, orderBy = orderBy, fs = fs)
  }

}
