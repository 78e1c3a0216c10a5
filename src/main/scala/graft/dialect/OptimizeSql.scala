package graft.dialect

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Sinks

/** CH `OPTIMIZE TABLE t [FINAL]` re-expressed for parquet: compact a
  * table's files into few, large, sorted ones (the reference's
  * ClickHouse image merges parts the same way; here the enemy is the
  * small-files problem — a 100 TB table accreted from thousands of
  * INSERT batches scans at file-open cost, not byte cost).
  *
  * Behavior: read the table, repartition to
  * ceil(bytes / `spark.graft.optimize.targetFileBytes`, default
  * 512 MiB) files, re-sort by the catalog's ORDER BY key when one is
  * recorded (ATTACH/CTAS — restoring the row-group min/max clustering
  * that makes keyed scans prune), and swap atomically-ish: write to a
  * sibling temp dir, rename the original to `.bak`, promote, delete
  * the backup — a failure at any step leaves either the original or
  * the backup intact, never neither. The logical CONTENT is
  * unchanged; only the physical layout moves. Parquet companions'
  * projection fingerprints go stale by design (they revert to scans
  * until re-materialized — conservative, never wrong); MergeTree
  * targets do better: OPTIMIZE KNOWS content was preserved, so
  * companions that were fresh before the merge are re-fingerprinted in
  * place (stale ones stay stale — see
  * [[graft.plans.AggProjections.refingerprintMergeTree]]).
  *
  * `FINAL` is accepted and means the same thing (we always fully
  * compact). `OPTIMIZE TABLE t PARTITION <val|ID 'id'> [FINAL]` (r12)
  * merges ONE partition of a partitioned MergeTree table — the
  * collapsed partition materializes into a staging tree and swaps in
  * via the DROP+ATTACH PARTITION primitives under the tree lock, so
  * the rest of the table never rewrites (CH's own partition-scoped
  * merge economics); parquet tables refuse the clause (no partition
  * parts to merge). */
object OptimizeSql {

  private val StmtRe =
    """(?is)^\s*OPTIMIZE\s+TABLE\s+(?:'([^']+)'|([\w.`"]+))\s*(FINAL)?\s*$""".r
  private val PartitionStmtRe =
    ("""(?is)^\s*OPTIMIZE\s+TABLE\s+(?:'([^']+)'|([\w.`"]+))\s+""" +
      """PARTITION\s+(ID\s+)?('[^']*'|\S+)\s*(FINAL)?\s*$""").r
  private val HeadRe = """(?is)^\s*OPTIMIZE\s+TABLE\b.*$""".r

  def isOptimize(sql: String): Boolean = HeadRe.matches(sql)

  def run(spark: SparkSession, sql: String): DataFrame = {
    import spark.implicits._
    sql match {
      case PartitionStmtRe(pathLit, tableName, idKw, literal, finalKw) =>
        import graft.sources.mergetree.{MergeTree, MergeTreeCtas, MergeTreePartitioning}
        val name = Option(tableName).map(ProjectionSql.clean)
        val (ep, ddl, key) = name
          .flatMap(n => ProjectionSql.resolveMergeTree(spark, n))
          .getOrElse(throw new IllegalArgumentException(
            "OPTIMIZE TABLE … PARTITION targets a partitioned MergeTree " +
              "table by NAME (parquet tables have no partition parts — " +
              "OPTIMIZE the whole table)"))
        MergeTree.requireLocalForMaintenance(ep, "OPTIMIZE TABLE PARTITION")
        val partitionBy = MutateSql.partitionByOf(ep)
        require(partitionBy.isDefined,
          s"OPTIMIZE TABLE ${name.get} PARTITION: the table is not " +
            "partitioned")
        val pid = MergeTreePartitioning.renderDropId(literal, idKw != null)
        val pidParts = MergeTree.partsInfo(ep).map(_._1)
          .filter(p => MergeTreePartitioning.pidOf(p) == pid)
        if (pidParts.isEmpty)
          return Seq((name.get, 0, 0, 0L))
            .toDF("table", "files_before", "files_after", "bytes")
        // the partition's rows, engine-collapsed/TTL'd like a whole-table
        // OPTIMIZE would
        val df0 = MergeTree.read(spark, ep, ddl, key, parts = pidParts)
        val (dfT, _) = collapse(spark, df0, name, finalKw, partitionBy)
        // materialize into a sibling staging tree, then swap the
        // partition in via the DROP+ATTACH primitives — one lock scope,
        // nothing outside the partition rewrites
        val staging = s"${graft.sources.mergetree.MergeTree.localPath(ep)}" +
          s".optimize_${java.util.UUID.randomUUID().toString.take(8)}"
        try {
          MergeTreeCtas.write(spark, dfT, staging, key,
            declaredDdl = Some(ddl), op = "OPTIMIZE TABLE PARTITION",
            partitionBy = partitionBy)
          // crash-safe order (advisor r12): ATTACH the merged
          // replacements under fresh block numbers FIRST, then drop
          // the superseded originals BY NAME — a death between the
          // two steps leaves duplicates the next OPTIMIZE collapses,
          // never a lost partition; drop-by-name also spares parts a
          // concurrent INSERT appended after the merge read its input
          MergeTreeCtas.withTreeLock(ep) {
            MergeTreeCtas.attachPartitionFrom(spark, ep, staging, pid)
            MergeTree.dropParts(spark, ep, pidParts)
          }
        } finally {
          try {
            val sp = new Path(staging)
            sp.getFileSystem(spark.sessionState.newHadoopConf())
              .delete(sp, true); ()
          } catch { case scala.util.control.NonFatal(_) => () }
        }
        spark.catalog.refreshByPath(ep)
        val partsAfter = MergeTree.partsInfo(ep).map(_._1)
          .count(p => MergeTreePartitioning.pidOf(p) == pid)
        Seq((name.get, pidParts.size, partsAfter, 0L))
          .toDF("table", "files_before", "files_after", "bytes")
      case StmtRe(pathLit, tableName, finalKw) =>
        val name = Option(tableName).map(ProjectionSql.clean)
        // a MergeTree target compacts as a PART MERGE (CH's FINAL):
        // all parts rewrite into one merged tree through the
        // backup-staged swap. Local trees only — web disks are
        // read-only in CH's own contract. Named ATTACHed tables
        // resolve through the relation; bare paths by tree sniffing.
        import graft.sources.mergetree.MergeTree
        val mt: Option[(String, String, Seq[String])] =
          name.flatMap(n => ProjectionSql.resolveMergeTree(spark, n))
            .orElse(Option(pathLit).filter(MergeTree.looksLikeMergeTree)
              .map { p =>
                // a bare path has no ORDER BY key: compacting an
                // indexed tree would silently drop its primary.idx —
                // refuse and point at the named table (review finding)
                require(!MergeTree.hasPrimaryIndex(p),
                  s"OPTIMIZE TABLE on path '$p': this tree carries a " +
                    "primary index but a bare path has no ORDER BY key " +
                    "to preserve it — address the ATTACHed table by NAME")
                (p, MergeTree.ddlOf(p), Nil)
              })
        mt.foreach { case (ep, ddl, orderBy) =>
          MergeTree.requireLocalForMaintenance(ep, "OPTIMIZE TABLE")
          val partsBefore = MergeTree.partsInfo(ep).size
          // a PARTLESS tree has nothing to merge (and the path form
          // carries no schema, ddl = "") — no-op, as in CH
          if (partsBefore == 0 || ddl.isEmpty)
            return Seq((name.getOrElse(ep), partsBefore, partsBefore, 0L))
              .toDF("table", "files_before", "files_after", "bytes")
          val key = if (orderBy.nonEmpty) orderBy
            else name.map(graft.core.Catalog.sortKey).getOrElse(Nil)
          val df0 = MergeTree.read(spark, ep, ddl, key)
          // one read of the partition scheme for both the dedup window
          // and the rewrite — two reads could disagree under a
          // concurrent ATTACH of an aliasing table (review finding)
          val partitionBy = MutateSql.partitionByOf(ep)
          val (dfT, contentPreserved) =
            collapse(spark, df0, name, finalKw, partitionBy)
          val bytes = new Path(ep).getFileSystem(spark.sessionState.newHadoopConf())
            .getContentSummary(new Path(ep)).getLength
          // merge + projection re-stamp are one atomic unit under the
          // tree write lock: a content-preserving OPTIMIZE (parts
          // merge, rows don't change) re-fingerprints companions that
          // were fresh BEFORE the merge instead of falling back to a
          // full rebuild — a concurrent INSERT must not slip a part
          // into the stamped inventory (VERDICT r10 task #7). A
          // Replacing dedup CHANGES content, so its companions go
          // honestly stale instead.
          graft.sources.mergetree.MergeTreeCtas.withTreeLock(ep) {
            // the pre-merge fingerprint is only needed for the
            // content-preserving re-stamp — don't pay the inventory
            // scan under the write lock otherwise (review finding)
            val preFp =
              if (contentPreserved) Some(MergeTree.partsFingerprint(ep))
              else None
            graft.sources.mergetree.MergeTreeCtas.write(spark, dfT, ep, key,
              declaredDdl = Some(ddl), op = "OPTIMIZE TABLE",
              partitionBy = partitionBy)
            preFp.foreach(fp =>
              graft.plans.AggProjections.refingerprintMergeTree(spark, ep, fp))
          }
          val partsAfter = MergeTree.partsInfo(ep).size
          return Seq((name.getOrElse(ep), partsBefore, partsAfter, bytes))
            .toDF("table", "files_before", "files_after", "bytes")
        }
        val source = Option(pathLit)
          .getOrElse(ProjectionSql.resolvePath(spark, name.get))
        val sortKey = name.map(graft.core.Catalog.sortKey).getOrElse(Nil)

        val conf = spark.sessionState.newHadoopConf()
        val src = new Path(source)
        val fs = src.getFileSystem(conf)
        require(fs.exists(src), s"OPTIMIZE TABLE: $source does not exist")
        val bytes = fs.getContentSummary(src).getLength
        val filesBefore = dataFiles(fs, src)
        val nFiles = targetFiles(spark, bytes)

        val df = spark.read.parquet(source)
        swapRewrite(spark, source) { tmp =>
          if (sortKey.nonEmpty)
            Sinks.writeSorted(df, tmp.toString, sortKey, numFiles = nFiles)
          else df.repartition(nFiles).write.parquet(tmp.toString)
        }
        val filesAfter = dataFiles(fs, src)
        // a NAMED table's bare-scan view re-binds to the new file
        // listing; a derived view is left alone (re-binding would
        // silently widen its schema to the raw scan — review finding)
        name.filter(n => MutateSql.isBareScanView(spark, n)).foreach(n =>
          spark.read.parquet(source).createOrReplaceTempView(n))

        Seq((name.getOrElse(source), filesBefore, filesAfter, bytes))
          .toDF("table", "files_before", "files_after", "bytes")
      case other =>
        // PARTITION diagnosed only when the statement shape didn't parse:
        // a quoted PATH containing a 'partition' segment is a valid
        // whole-table compaction (review finding)
        if ("""(?i)\bPARTITION\b""".r.findFirstIn(other).isDefined)
          throw new IllegalArgumentException(
            "OPTIMIZE TABLE … PARTITION is not supported — this engine " +
              "compacts the whole table (parquet has no CH partition parts)")
        throw new IllegalArgumentException(s"unparseable OPTIMIZE statement: $other")
    }
  }


  /** The merge-time row transform a MergeTree OPTIMIZE applies: engine
    * collapse (Replacing dedup / Summing sum / VersionedCollapsing
    * cancellation — FINAL only) plus row-level TTL, all scoped within
    * (partition, sorting key). Returns (transformed frame, whether
    * CONTENT is preserved — parts merge but rows don't change). */
  private def collapse(
      spark: SparkSession,
      df0: org.apache.spark.sql.DataFrame,
      name: Option[String],
      finalKw: String,
      partitionBy: Option[String]): (org.apache.spark.sql.DataFrame, Boolean) = {
    // OPTIMIZE … FINAL on a ReplacingMergeTree physically
    // COLLAPSES versions — CH's merge-with-dedup: one row per
    // (partition, sorting key) survives, highest version wins.
    // The window partitions by the PARTITION BY expression too:
    // CH merges never cross partitions, so a key duplicated
    // across partitions keeps one row per partition (review
    // finding — the global window silently deleted CH-surviving
    // rows). Plain MergeTree (or no FINAL) merges without
    // touching rows. is_deleted rows are KEPT here (CH's plain
    // OPTIMIZE FINAL keeps them; only SELECT FINAL hides them).
    val replacing = if (finalKw == null) None
      else name.flatMap(graft.core.Catalog.replacingInfo)
    val summing = if (finalKw == null || replacing.isDefined) None
      else name.flatMap(graft.core.Catalog.summingInfo)
    val collapsing =
      if (finalKw == null || replacing.isDefined || summing.isDefined) None
      else name.flatMap(graft.core.Catalog.collapsingInfo)
    import org.apache.spark.sql.functions._
    def colOf(c: String) =
      if (c.contains("(")) expr(c) else col(s"`$c`")
    val df = replacing match {
      case Some(spec) =>
        import org.apache.spark.sql.expressions.Window
        // versionless Replacing: refuse, unless the session opted
        // into the deterministic payload-max tiebreak (the same
        // knob the FINAL read honors — `spark.graft.finalTiebreak`)
        val tie = spec.tieColumns.map(c => colOf(c).desc)
        val ord = spec.ver match {
          case Some(v) => colOf(v).desc +: tie
          case None =>
            val optIn = graft.service.Settings.FinalTiebreak(spark) == "payload"
            if (optIn && tie.nonEmpty) tie
            else throw new IllegalArgumentException(
              s"OPTIMIZE TABLE ${name.get} FINAL: ReplacingMergeTree " +
                "without a version column collapses to an " +
                "order-of-merges-dependent row per key — declare " +
                "ReplacingMergeTree(<version column>), or opt into " +
                "the deterministic payload-max tiebreak with SET " +
                s"${graft.service.Settings.FinalTiebreak.name} = 'payload'")
        }
        val partCols =
          partitionBy.map(expr).toSeq ++ spec.key.map(colOf)
        val w = Window.partitionBy(partCols: _*).orderBy(ord: _*)
        df0.withColumn("__graft_rn", row_number().over(w))
          .filter(col("__graft_rn") === 1).drop("__graft_rn")
      case None => summing match {
        case Some(sp) =>
          // SummingMergeTree merge: one row per (partition,
          // sorting key), sums summed in place (cast back to the
          // declared type so the tree re-encodes under its own
          // DDL), non-summed payload takes the deterministic max,
          // all-zero-sum rows deleted — CH's own merge rules
          // a bare-column partition expression IS a grouping
          // column — aggregating it too would alias-collide
          val pcol = partitionBy.filter(p => sp.columns.exists(_._1 == p))
          val groupCols = partitionBy.map(expr).toSeq ++
            sp.key.map(colOf)
          val aggs = sp.columns.filterNot(c =>
              sp.key.contains(c._1) || pcol.contains(c._1))
            .map { case (n, ct) =>
              if (sp.sumCols.contains(n)) {
                val st =
                  try Some(graft.types.ChSchemaParser.parseType(ct)._1)
                  catch { case _: Exception => None }
                st.map(t => sum(col(s"`$n`")).cast(t).as(n))
                  .getOrElse(sum(col(s"`$n`")).as(n))
              } else max(col(s"`$n`")).as(n)
            }
          require(aggs.nonEmpty,
            s"OPTIMIZE TABLE ${name.get} FINAL: every non-key " +
              "column is the partition key — nothing to sum")
          val merged = df0.groupBy(groupCols: _*)
            .agg(aggs.head, aggs.tail: _*)
            .where(sp.sumCols
              .map(c => coalesce(col(s"`$c`").cast("double"), lit(0d)) =!= 0d)
              .reduce(_ || _))
          merged.select(sp.columns.map(c => col(s"`${c._1}`")): _*)
        case None => collapsing match {
          case Some(cs) =>
            // VersionedCollapsing merge: +1/-1 pairs annihilate
            // within (partition, key, version); |sum(sign)| rows
            // of the majority sign survive (same window logic as
            // the FINAL read). Versionless Collapsing refuses —
            // its survivor is merge-order state in CH.
            import org.apache.spark.sql.expressions.Window
            val v = cs.ver.getOrElse(throw new IllegalArgumentException(
              s"OPTIMIZE TABLE ${name.get} FINAL: CollapsingMergeTree " +
                "collapses to an order-of-merges-dependent row per " +
                "key — use VersionedCollapsingMergeTree(sign, " +
                "version) for deterministic collapse"))
            val grp = partitionBy.map(expr).toSeq ++
              cs.key.map(colOf) :+ colOf(v)
            val signL = colOf(cs.sign).cast("long")
            val tie = cs.tieColumns.map(c => colOf(c).desc) match {
              case Nil => Seq(colOf(cs.sign).desc)
              case ts => ts
            }
            val wRank = Window.partitionBy(grp :+ colOf(cs.sign): _*)
              .orderBy(tie: _*)
            val wGrp = Window.partitionBy(grp: _*)
            df0.withColumn("__graft_rn", row_number().over(wRank))
              .withColumn("__graft_pos",
                sum(when(signL === 1, 1).otherwise(0)).over(wGrp))
              .withColumn("__graft_neg",
                sum(when(signL === -1, 1).otherwise(0)).over(wGrp))
              .filter(
                (col("__graft_pos") > col("__graft_neg") &&
                  signL === 1 &&
                  col("__graft_rn") <= col("__graft_pos") - col("__graft_neg")) ||
                (col("__graft_neg") > col("__graft_pos") &&
                  signL === -1 &&
                  col("__graft_rn") <= col("__graft_neg") - col("__graft_pos")))
              .drop("__graft_rn", "__graft_pos", "__graft_neg")
          case None =>
            if (finalKw != null &&
                name.exists(graft.core.Catalog.isAggregating))
              throw new IllegalArgumentException(
                s"OPTIMIZE TABLE ${name.get} FINAL: " +
                  "AggregatingMergeTree's merge combines aggregate " +
                  "STATES per key, which is not generic here — " +
                  "read with -Merge combinators (GROUP BY key), or " +
                  "OPTIMIZE without FINAL to compact parts")
            df0
        }
      }
    }
    // row-level TTL applies on EVERY merge (CH's model): rows
    // whose TTL expression has passed are dropped by the rewrite;
    // NULL TTL values are kept. current_timestamp() is fixed per
    // query, so one rewrite sees one instant.
    val ttl = name.flatMap(graft.core.Catalog.lookup).flatMap(_.ttl)
    val dfT = ttl match {
      case Some(t) =>
        val e = expr(t).cast("timestamp")
        df.filter(e.isNull || e > current_timestamp())
      case None => df
    }
    val contentPreserved = replacing.isEmpty && summing.isEmpty &&
      collapsing.isEmpty && ttl.isEmpty
    (dfT, contentPreserved)
  }

  /** ceil(bytes / target-file-size) — the output file count OPTIMIZE
    * and the mutations both aim for (a mutation must not fragment the
    * layout a compaction just built — review finding). */
  private[dialect] def targetFiles(spark: SparkSession, bytes: Long): Int = {
    val target = graft.service.Settings.OptimizeTargetFileBytes(spark)
    math.max(1, math.ceil(bytes.toDouble / target).toInt)
  }

  /** Table rewrite = [[graft.core.FsSwap]] with the table tag (shared
    * by OPTIMIZE and the ALTER DELETE/UPDATE mutations). */
  private[dialect] def swapRewrite(
      spark: SparkSession, source: String)(write: Path => Unit): Unit =
    graft.core.FsSwap.replace(spark, source, "rewrite")(write)

  private def dataFiles(fs: org.apache.hadoop.fs.FileSystem, p: Path): Int =
    if (fs.getFileStatus(p).isFile) 1
    else fs.listStatus(p).count(s => s.isFile && !s.getPath.getName.startsWith("_")
      && !s.getPath.getName.startsWith("."))

}
