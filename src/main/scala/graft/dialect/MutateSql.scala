package graft.dialect

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.Sinks

/** CH mutations re-expressed for parquet (reference analog: `ALTER
  * TABLE … DELETE/UPDATE` rewrite whole parts in ClickHouse; here the
  * whole table rewrites through [[OptimizeSql.swapRewrite]]'s
  * backup-staged swap — the same all-or-nothing posture). The
  * flagship 100 TB use is PII/contamination removal: pair
  * [[graft.operators.TextAnalysis]]'s detectors with a DELETE.
  *
  *   - `ALTER TABLE <t> DELETE WHERE <cond>` — drop rows where the
  *     condition is TRUE; NULL-condition rows are KEPT (CH's
  *     tri-valued contract: only a true predicate deletes).
  *   - `DELETE FROM <t> WHERE <cond>` — CH's lightweight-delete
  *     spelling, same semantics (the rewrite IS the mutation here —
  *     there is no mask column to defer to).
  *   - `ALTER TABLE <t> UPDATE c1 = e1[, c2 = e2 …] WHERE <cond>` —
  *     assignments apply where the condition is TRUE, cast back to the
  *     column's type (CH casts assignments to the column type);
  *     non-matching and NULL-condition rows keep their values.
  *
  * Conditions and assignment expressions run through the dialect front
  * door, so the full CH function surface works inside them. Tables
  * with a recorded ORDER BY key are re-sorted on rewrite (mutations
  * must not destroy the clustered layout). `<t>` is a session
  * table/view over parquet or a quoted path. */
object MutateSql {

  private val DeleteRe =
    """(?is)^\s*ALTER\s+TABLE\s+(?:'([^']+)'|([\w.`"]+))\s+DELETE\s+WHERE\s+(.+?)\s*$""".r
  private val LightDeleteRe =
    """(?is)^\s*DELETE\s+FROM\s+(?:'([^']+)'|([\w.`"]+))\s+WHERE\s+(.+?)\s*$""".r
  private val UpdateRe =
    """(?is)^\s*ALTER\s+TABLE\s+(?:'([^']+)'|([\w.`"]+))\s+UPDATE\s+(.+?)\s*$""".r
  private val TruncateRe =
    """(?is)^\s*TRUNCATE\s+TABLE\s+(IF\s+EXISTS\s+)?(?:'([^']+)'|([\w.`"]+))\s*$""".r
  private val DropPartitionRe =
    """(?is)^\s*ALTER\s+TABLE\s+(?:'([^']+)'|([\w.`"]+))\s+DROP\s+PARTITION\s+(ID\s+)?('[^']*'|\S+)\s*$""".r
  private val AttachPartitionRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+(?:'([^']+)'|([\w.`"]+))\s+""" +
      """(ATTACH|REPLACE)\s+PARTITION\s+(ID\s+)?('[^']*'|\S+)\s+""" +
      """FROM\s+(?:'([^']+)'|([\w.`"]+))\s*$""").r
  private val MaterializeTtlRe =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.`"]+)\s+MATERIALIZE\s+TTL\s*$""".r
  private val MovePartitionRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+(?:'([^']+)'|([\w.`"]+))\s+""" +
      """MOVE\s+PARTITION\s+(ID\s+)?('[^']*'|\S+)\s+""" +
      """TO\s+TABLE\s+(?:'([^']+)'|([\w.`"]+))\s*$""").r

  def isMutation(sql: String): Boolean =
    DeleteRe.matches(sql) || LightDeleteRe.matches(sql) ||
      UpdateRe.matches(sql) || TruncateRe.matches(sql) ||
      DropPartitionRe.matches(sql) || AttachPartitionRe.matches(sql) ||
      MaterializeTtlRe.matches(sql) || MovePartitionRe.matches(sql)

  /** CH partition rotation between structurally identical tables:
    * `ATTACH PARTITION … FROM` copies, `REPLACE … FROM` drops the
    * destination's partition first, `MOVE PARTITION TO TABLE` copies
    * then drops the source's — all at metadata cost (block renumber,
    * no data decode). CH refuses structural mismatches; so does this. */
  private def transferPartition(
      spark: SparkSession, dstPathLit: String, dstTableName: String,
      srcPathLit: String, srcTableName: String,
      isId: Boolean, literal: String, verb: String): DataFrame = {
    import spark.implicits._
    import graft.sources.mergetree.{MergeTree, MergeTreePartitioning}
    val op = s"ALTER TABLE … $verb PARTITION"
    val (label, ep, ddl, key) =
      resolveMt(spark, dstPathLit, dstTableName, op).getOrElse(
        throw new IllegalArgumentException(
          s"$op targets a MergeTree table"))
    val (srcLabel, srcEp, srcDdl, srcKey) =
      resolveMt(spark, srcPathLit, srcTableName, op).getOrElse(
        throw new IllegalArgumentException(
          s"$op: source is not a MergeTree table"))
    def cols(d: String) =
      try graft.types.ChSchemaParser.columnPairs(d)
      catch { case _: Exception => Nil }
    require(cols(ddl) == cols(srcDdl) && cols(ddl).nonEmpty,
      s"$op: '$srcLabel' and '$label' have different structures " +
        "— CH requires identical column lists")
    require(key == srcKey,
      s"$op: sorting keys differ (${srcKey.mkString(", ")} vs " +
        s"${key.mkString(", ")})")
    val dstPb = partitionByOf(ep)
    val srcPb = partitionByOf(srcEp)
    require(dstPb.isDefined && dstPb == srcPb,
      s"$op: partition expressions differ or are missing " +
        s"(${srcPb.getOrElse("none")} vs ${dstPb.getOrElse("none")})")
    val pid = MergeTreePartitioning.renderDropId(literal, isId)
    // REPLACE = drop-then-attach as ONE unit under the destination's
    // write lock (reentrant monitor) so no reader-visible window where
    // a concurrent INSERT slots parts between the two steps
    val copied = graft.sources.mergetree.MergeTreeCtas.withTreeLock(ep) {
      if (verb == "REPLACE") MergeTree.dropPartition(spark, ep, pid)
      graft.sources.mergetree.MergeTreeCtas
        .attachPartitionFrom(spark, ep, srcEp, pid)
    }
    // MOVE drops the source AFTER the copy landed — a failure before
    // this line leaves both tables intact (copy-then-delete, never a
    // window with the partition nowhere)
    if (verb == "MOVE") MergeTree.dropPartition(spark, srcEp, pid)
    Seq((label, s"${verb.toLowerCase}_partition $pid", copied))
      .toDF("table", "mutation", "rows_affected")
  }

  def run(spark: SparkSession, sql: String,
      macros: Map[String, String] = ChSql.defaultMacros): DataFrame = {
    import spark.implicits._
    sql match {
      case TruncateRe(ifExists, pathLit, tableName) =>
        // a MergeTree TRUNCATE rewrites to a PARTLESS tree — valid
        // since r11 (a table IS its metadata; format_version.txt marks
        // the root), matching CH where TRUNCATE leaves an empty table
        // that scans as zero rows and accepts INSERT
        resolveMt(spark, pathLit, tableName, op = "TRUNCATE TABLE")
          .foreach { case (label, ep, ddl, key) =>
            // rows_affected from part metadata (count.txt sums) — CH's
            // TRUNCATE is metadata-time; a distributed count would scan
            // the whole tree just for the report (review finding). An
            // already-empty tree (ddl = "" for the path form) no-ops.
            val n = graft.sources.mergetree.MergeTree.partsInfo(ep).map(_._2).sum
            if (n > 0 && ddl.nonEmpty) {
              val df = graft.sources.mergetree.MergeTree.read(spark, ep, ddl, key)
              rewriteMt(spark, ep, ddl, key, df.limit(0))
            }
            return Seq((label, "truncated", n))
              .toDF("table", "mutation", "rows_affected")
          }
        // TRUNCATE = keep the schema, drop every row — an empty
        // same-schema parquet write through the usual swap. IF EXISTS
        // no-ops on a missing table/path (review finding: the clause
        // was parsed but a missing target still threw)
        val resolved =
          try {
            val r = resolve(spark, pathLit, tableName)
            // a quoted path resolves without touching storage — probe
            // existence here so IF EXISTS can catch it
            val p = new org.apache.hadoop.fs.Path(r._2)
            val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
            if (!fs.exists(p))
              throw new IllegalArgumentException(s"${r._2} does not exist")
            Some(r)
          } catch {
            case _: Exception if ifExists != null => None
            case e: Exception => throw e
          }
        resolved match {
          case None =>
            Seq((Option(tableName).getOrElse(pathLit), "not_found", 0L))
              .toDF("table", "mutation", "rows_affected")
          case Some((name, source)) =>
            val df = spark.read.parquet(source)
            val n = df.count()
            // an empty rewrite needs ONE file, not ceil(bytes/target)
            // empties (review finding)
            rewrite(spark, source, name, df.limit(0), nFilesOverride = Some(1))
            Seq((name.getOrElse(source), "truncated", n))
              .toDF("table", "mutation", "rows_affected")
        }
      case DropPartitionRe(pathLit, tableName, idKw, literal) =>
        // CH's instant-retention statement: the partition's parts are
        // REMOVED, no rewrite of anything else — metadata-time cost at
        // any table size, which is exactly why production tables
        // partition in the first place
        import graft.sources.mergetree.{MergeTree, MergeTreePartitioning}
        val (label, ep, _, _) = resolveMt(spark, pathLit, tableName,
          op = "ALTER TABLE … DROP PARTITION").getOrElse(
          throw new IllegalArgumentException(
            "ALTER TABLE … DROP PARTITION targets a MergeTree table " +
              "(parquet tables have no partitions — use DELETE WHERE)"))
        val pid = MergeTreePartitioning.renderDropId(literal, idKw != null)
        val dropped = MergeTree.dropPartition(spark, ep, pid)
        Seq((label, s"drop_partition $pid", dropped))
          .toDF("table", "mutation", "rows_affected")
      case AttachPartitionRe(pathLit, tableName, verb, idKw, literal,
          srcPathLit, srcTableName) =>
        transferPartition(spark, pathLit, tableName, srcPathLit,
          srcTableName, idKw != null, literal, verb.toUpperCase)
      case MovePartitionRe(srcPathLit, srcTableName, idKw, literal,
          dstPathLit, dstTableName) =>
        // CH's `MOVE PARTITION TO TABLE`: the first table is the
        // SOURCE; the transfer is an attach into the destination plus
        // a drop from the source
        transferPartition(spark, dstPathLit, dstTableName, srcPathLit,
          srcTableName, idKw != null, literal, "MOVE")
      case MaterializeTtlRe(tableName) =>
        // CH's on-demand TTL application: rewrite the tree dropping
        // rows whose TTL expression has passed (NULL TTL kept). The
        // instant is captured ONCE so the count and the rewrite agree.
        import org.apache.spark.sql.functions.{expr, lit}
        val name = ProjectionSql.clean(tableName)
        val ttl = graft.core.Catalog.lookup(name).flatMap(_.ttl)
          .getOrElse(throw new IllegalArgumentException(
            s"ALTER TABLE $name MATERIALIZE TTL: the table declares no " +
              "TTL — add it in the CREATE/ATTACH DDL"))
        val (label, ep, ddl, key) = resolveMt(spark, null, tableName,
          op = "ALTER TABLE … MATERIALIZE TTL").getOrElse(
          throw new IllegalArgumentException(
            "ALTER TABLE … MATERIALIZE TTL targets a MergeTree table " +
              "(parquet tables have no merges — use DELETE WHERE)"))
        val now = new java.sql.Timestamp(System.currentTimeMillis())
        val df = graft.sources.mergetree.MergeTree.read(spark, ep, ddl, key)
        val e = expr(ttl).cast("timestamp")
        val expired = df.filter(e.isNotNull && e <= lit(now)).count()
        if (expired > 0)
          rewriteMt(spark, ep, ddl, key, df.filter(e.isNull || e > lit(now)))
        Seq((label, "materialize_ttl", expired))
          .toDF("table", "mutation", "rows_affected")
      case DeleteRe(pathLit, tableName, cond) =>
        delete(spark, pathLit, tableName, cond, macros)
      case LightDeleteRe(pathLit, tableName, cond) =>
        delete(spark, pathLit, tableName, cond, macros)
      case UpdateRe(pathLit, tableName, assignsAndCond) =>
        // the assignments/condition split locates the first TOP-LEVEL
        // WHERE (outside quotes and parens) with a real scan — the
        // previous lazy-regex split broke on an assignment whose string
        // literal contained the word WHERE (advisor r9)
        val (assigns, cond) = splitAtTopLevelWhere(assignsAndCond).getOrElse(
          throw new IllegalArgumentException(
            "ALTER TABLE … UPDATE requires a WHERE clause " +
              "(use WHERE 1 to update every row)"))
        // syntax-check the assignment list BEFORE touching storage
        val parsedAssigns = splitAssignments(assigns)
        val mt = resolveMt(spark, pathLit, tableName)
        // a validated PARTLESS tree addressed by path has no schema
        // (ddl = "") and no rows: the mutation is a no-op, as in CH
        mt.filter(_._3.isEmpty).foreach { case (label, _, _, _) =>
          return Seq((label, "updated", 0L))
            .toDF("table", "mutation", "rows_affected")
        }
        val (name, source) = mt match {
          case Some((label, ep, _, _)) => (Some(label), ep)
          case None => resolve(spark, pathLit, tableName)
        }
        val df = mt match {
          case Some((_, ep, ddl, key)) =>
            graft.sources.mergetree.MergeTree.read(spark, ep, ddl, key)
          case None => spark.read.parquet(source)
        }
        df.createOrReplaceTempView("__mutate_src")
        // case-insensitive like the rest of the SQL surface (review
        // finding: the schema map was exact-case)
        val fieldByLower = df.schema.fields
          .map(f => f.name.toLowerCase -> f).toMap
        val setList = parsedAssigns.map { case (c0, e) =>
          val f = fieldByLower.getOrElse(c0.toLowerCase,
            throw new IllegalArgumentException(
              s"UPDATE: column '$c0' does not exist in ${name.getOrElse(source)}"))
          val c = f.name
          // assignment applies where cond is TRUE; cast back to the
          // column's type (CH's contract); NULL cond keeps the old value
          c -> (s"CAST(CASE WHEN coalesce(($cond), false) THEN ($e) " +
            s"ELSE `$c` END AS ${f.dataType.sql}) AS `$c`")
        }.toMap
        val selectList = df.schema.fieldNames.map(c =>
          setList.getOrElse(c, s"`$c`")).mkString(", ")
        val updated = ChSql.sql(spark,
          s"SELECT $selectList FROM __mutate_src", macros)
        val matched = ChSql.sql(spark,
          s"SELECT count(*) FROM __mutate_src WHERE coalesce(($cond), false)", macros)
          .collect().head.getLong(0)
        mt match {
          case Some((_, ep, ddl, key)) => rewriteMt(spark, ep, ddl, key, updated)
          case None => rewrite(spark, source, name, updated)
        }
        Seq((name.getOrElse(source), "updated", matched))
          .toDF("table", "mutation", "rows_affected")
      case other =>
        throw new IllegalArgumentException(s"unparseable mutation: ${other.take(120)}…")
    }
  }

  private def delete(spark: SparkSession, pathLit: String, tableName: String,
      cond: String, macros: Map[String, String]): DataFrame = {
    import spark.implicits._
    // one shared flow; only the source frame and the rewrite target
    // differ between parquet and MergeTree (review finding: the two
    // branches had drifted into near-copies)
    val mt = resolveMt(spark, pathLit, tableName)
    // a validated PARTLESS tree addressed by path has no schema
    // (ddl = "") and no rows: the delete is a no-op, as in CH
    mt.filter(_._3.isEmpty).foreach { case (l, _, _, _) =>
      return Seq((l, "deleted", 0L)).toDF("table", "mutation", "rows_affected")
    }
    val (label, source) = mt match {
      case Some((l, ep, _, _)) => (Some(l), ep)
      case None => resolve(spark, pathLit, tableName)
    }
    val df = mt match {
      case Some((_, ep, ddl, key)) =>
        graft.sources.mergetree.MergeTree.read(spark, ep, ddl, key)
      case None => spark.read.parquet(source)
    }
    df.createOrReplaceTempView("__mutate_src")
    // keep rows where cond is NOT true — coalesce, or NULL-cond rows
    // would be silently deleted by NOT(NULL)
    val kept = ChSql.sql(spark,
      s"SELECT * FROM __mutate_src WHERE NOT coalesce(($cond), false)", macros)
    // one filtered count, like the UPDATE path — before/after full
    // counts cost two extra whole-table scans (review finding)
    val matched = ChSql.sql(spark,
      s"SELECT count(*) FROM __mutate_src WHERE coalesce(($cond), false)", macros)
      .collect().head.getLong(0)
    mt match {
      case Some((_, ep, ddl, key)) => rewriteMt(spark, ep, ddl, key, kept)
      case None => rewrite(spark, source, label, kept)
    }
    Seq((label.getOrElse(source), "deleted", matched))
      .toDF("table", "mutation", "rows_affected")
  }

  /** Mutation target resolution for MergeTree trees (local only — web
    * disks are read-only in CH's own contract): a named ATTACHed table
    * via its relation, or a quoted path that IS a part tree. The
    * rewrite is CH's own mutation cost model — parts rewrite — done
    * whole-tree through the executor-parallel CTAS materializer and
    * the backup-staged swap. A mutation that deletes EVERY row leaves
    * a valid PARTLESS tree (r11), like CH. */
  private def resolveMt(spark: SparkSession, pathLit: String, tableName: String,
      op: String = "ALTER TABLE mutation")
      : Option[(String, String, String, Seq[String])] = {
    import graft.sources.mergetree.MergeTree
    val name = Option(tableName).map(ProjectionSql.clean)
    name.flatMap(n => ProjectionSql.resolveMergeTree(spark, n))
      .map { case (ep, ddl, key) => (name.get, ep, ddl, key) }
      .orElse(Option(pathLit).filter(MergeTree.looksLikeMergeTree)
        .map { p =>
          // a bare path carries no ORDER BY key: rewriting an indexed
          // tree would silently drop its primary.idx and clustering —
          // refuse and point at the named table (review finding)
          require(!MergeTree.hasPrimaryIndex(p),
            s"$op on path '$p': this tree carries a primary index but a " +
              "bare path has no ORDER BY key to preserve it — address " +
              "the ATTACHed table by NAME so the key is known")
          (p, p, MergeTree.ddlOf(p), Nil: Seq[String])
        })
      .map { case t @ (_, ep, _, _) =>
        MergeTree.requireLocalForMaintenance(ep, op)
        t
      }
  }

  private def rewriteMt(spark: SparkSession, ep: String, ddl: String,
      key: Seq[String], out: org.apache.spark.sql.DataFrame): Unit =
    graft.sources.mergetree.MergeTreeCtas.write(spark, out, ep, key,
      declaredDdl = Some(ddl), op = "ALTER TABLE mutation",
      partitionBy = partitionByOf(ep))

  /** The catalog's PARTITION BY for the table whose endpoint this is —
    * a mutation rewrite must re-apply it or the rewritten tree would
    * silently come back unpartitioned. */
  private[dialect] def partitionByOf(ep: String): Option[String] =
    graft.core.Catalog.partitionByForEndpoint(ep)

  private def resolve(spark: SparkSession, pathLit: String,
      tableName: String): (Option[String], String) = {
    val name = Option(tableName).map(ProjectionSql.clean)
    // refuse BEFORE the rewrite: a dot-qualified name would mutate the
    // data and then throw from the single-part-only temp-view re-bind,
    // reporting failure for a mutation that committed (review finding)
    name.filter(_.contains('.')).foreach { n =>
      throw new IllegalArgumentException(
        s"mutation on '$n': multi-part names are not supported — use a " +
          "simple session view name or a quoted path")
    }
    (name, Option(pathLit).getOrElse(ProjectionSql.resolvePath(spark, name.get)))
  }

  private def rewrite(spark: SparkSession, source: String,
      name: Option[String], out: DataFrame,
      nFilesOverride: Option[Int] = None): Unit = {
    val sortKey = name.map(graft.core.Catalog.sortKey).getOrElse(Nil)
    // aim for OPTIMIZE's file count: the default writeSorted
    // repartition would fragment a just-compacted table into
    // shuffle-partition-many files (review finding). Source bytes are
    // an upper bound for the rewritten size — a delete only shrinks.
    val src = new org.apache.hadoop.fs.Path(source)
    val bytes = src.getFileSystem(spark.sessionState.newHadoopConf())
      .getContentSummary(src).getLength
    val nFiles = nFilesOverride.getOrElse(OptimizeSql.targetFiles(spark, bytes))
    OptimizeSql.swapRewrite(spark, source) { tmp =>
      if (sortKey.nonEmpty)
        Sinks.writeSorted(out, tmp.toString, sortKey, numFiles = nFiles)
      else out.repartition(nFiles).write.parquet(tmp.toString)
    }
    // re-bind ONLY a bare-scan view: a derived view (column-pruned or
    // computed) must not be silently replaced by a full-width scan
    // (review finding) — its next use fails loudly on the stale file
    // listing instead, which is the honest outcome
    name.filter(n => isBareScanView(spark, n)).foreach(n =>
      spark.read.parquet(source).createOrReplaceTempView(n))
  }

  /** True when the session view is nothing but a scan of its relation
    * (every relation output column, unrenamed). */
  private[dialect] def isBareScanView(spark: SparkSession, n: String): Boolean = try {
    import org.apache.spark.sql.catalyst.plans.logical._
    def bare(p: LogicalPlan): Boolean = p match {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => true
      case Project(projList, c) =>
        val outNames = projList.map(_.name)
        projList.forall(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.AttributeReference]) &&
          outNames == c.output.map(_.name) && bare(c)
      case SubqueryAlias(_, c) => bare(c)
      case v: View => bare(v.child)
      case _ => false
    }
    bare(spark.table(n).queryExecution.analyzed)
  } catch { case scala.util.control.NonFatal(_) => false }

  private val WhereKw = """(?i)\bWHERE\b""".r
  // an assignment's `=`: not part of <=, >=, ==, !=
  private val AssignEq = """(?<![<>!=])=(?!=)""".r

  /** First top-level `WHERE` keyword with text on both sides, splitting
    * `<assignments> WHERE <condition>`. None when no top-level WHERE
    * exists (a quoted or parenthesized WHERE does not count). */
  private def splitAtTopLevelWhere(s: String): Option[(String, String)] =
    SqlLex(s).topLevelMatches(WhereKw).iterator
      .map(m => (s.substring(0, m.start).trim, s.substring(m.end).trim))
      .find { case (assigns, cond) => assigns.nonEmpty && cond.nonEmpty }

  /** Split `a = e1, b = e2` on top-level commas — an expression like
    * `concat(x, ',')` must not split — and each assignment at its first
    * top-level `=`. */
  private def splitAssignments(s: String): Seq[(String, String)] =
    SqlLex(s).splitTopLevel(',').map(_.trim).filter(_.nonEmpty).map { a =>
      val eq = SqlLex(a).topLevelMatches(AssignEq).headOption.map(_.start)
        .filter(_ > 0).getOrElse(throw new IllegalArgumentException(
          s"UPDATE: malformed assignment '$a' (expected col = expr)"))
      val colName = a.substring(0, eq).trim
        .stripPrefix("`").stripSuffix("`").stripPrefix("\"").stripSuffix("\"")
      (colName, a.substring(eq + 1).trim)
    }
}
