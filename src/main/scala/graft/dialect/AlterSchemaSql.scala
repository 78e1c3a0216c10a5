package graft.dialect

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Catalog

/** Schema evolution for MergeTree tables — the ALTERs a ClickHouse
  * estate lives by (reference analog: any long-lived table accretes
  * columns):
  *
  *   - `ALTER TABLE t ADD COLUMN [IF NOT EXISTS] c T [FIRST|AFTER d]` —
  *     METADATA cost, like CH: the recorded DDL gains the column and
  *     the view re-registers; existing parts simply lack the column's
  *     streams and the scan reads NULL for them, which is why the added
  *     type must be Nullable once the tree holds parts (a non-Nullable
  *     add would read NULLs CH would render as type defaults — refuse
  *     rather than diverge; a partless tree accepts any type).
  *     `DEFAULT` expressions refuse with guidance (backfill with
  *     `ALTER TABLE … UPDATE c = <expr> WHERE c IS NULL`).
  *   - `ALTER TABLE t DROP COLUMN [IF EXISTS] c` — METADATA cost: the
  *     DDL shrinks and reads stop projecting the column; part files
  *     linger until the next OPTIMIZE rewrite drops them physically
  *     (CH deletes them eagerly — same visible result, lazier disk).
  *     Sorting-key / partition / engine-argument / TTL columns refuse.
  *   - `ALTER TABLE t MODIFY COLUMN c T` — a REWRITE (CH mutates parts
  *     too): the tree re-encodes with the column cast to the new type.
  *   - `ALTER TABLE t RENAME COLUMN a TO b` — a REWRITE here (CH is
  *     metadata-cost; this engine's parts are addressed by column name
  *     inside each part, so a pure-metadata rename would read NULLs).
  *   - `RENAME TABLE a TO b` — catalog re-key + view re-registration;
  *     storage never moves.
  */
object AlterSchemaSql {

  private val AddColRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+([\w.`"]+)\s+ADD\s+COLUMN\s+""" +
      """(IF\s+NOT\s+EXISTS\s+)?([`"]?[\w]+[`"]?)\s+(.+?)""" +
      """(\s+FIRST|\s+AFTER\s+[\w`"]+)?\s*$""").r
  private val DropColRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+([\w.`"]+)\s+DROP\s+COLUMN\s+""" +
      """(IF\s+EXISTS\s+)?([`"]?[\w]+[`"]?)\s*$""").r
  private val ModifyColRe =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.`"]+)\s+MODIFY\s+COLUMN\s+([`"]?[\w]+[`"]?)\s+(.+?)\s*$""".r
  private val RenameColRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+([\w.`"]+)\s+RENAME\s+COLUMN\s+""" +
      """(IF\s+EXISTS\s+)?([`"]?[\w]+[`"]?)\s+TO\s+([`"]?[\w]+[`"]?)\s*$""").r
  private val RenameTableRe =
    """(?is)^\s*RENAME\s+TABLE\s+([\w.`"]+)\s+TO\s+([\w.`"]+)\s*$""".r
  private val ExchangeRe =
    """(?is)^\s*EXCHANGE\s+TABLES\s+([\w.`"]+)\s+AND\s+([\w.`"]+)\s*$""".r

  def isAlterSchema(sql: String): Boolean =
    AddColRe.matches(sql) || DropColRe.matches(sql) ||
      ModifyColRe.matches(sql) || RenameColRe.matches(sql) ||
      RenameTableRe.matches(sql) || ExchangeRe.matches(sql)

  def run(spark: SparkSession, sql: String): DataFrame = {
    import spark.implicits._
    sql match {
      case AddColRe(rawName, ifNot, rawCol, typeStr0, pos) =>
        val (name, t, ep) = resolve(spark, rawName, "ADD COLUMN")
        val col = clean(rawCol)
        val typeStr = typeStr0.trim
        require(!typeStr.toUpperCase.contains("DEFAULT "),
          s"ALTER TABLE $name ADD COLUMN: DEFAULT expressions are not " +
            "supported — add the column, then backfill with ALTER TABLE " +
            s"$name UPDATE $col = <expr> WHERE $col IS NULL")
        val cols = pairs(t.schemaDdl, name)
        if (cols.exists(_._1 == col)) {
          require(ifNot != null,
            s"ALTER TABLE $name ADD COLUMN: column '$col' already exists " +
              "(use IF NOT EXISTS to no-op)")
          return Seq((name, s"add_column $col", 0L))
            .toDF("table", "mutation", "rows_affected")
        }
        // validate the type against the MergeTree subset NOW, not at
        // the next write
        graft.sources.mergetree.MergeTree.validateType(typeStr)
        val hasParts = graft.sources.mergetree.MergeTree.partsInfo(ep).nonEmpty
        require(!hasParts || typeStr.trim.startsWith("Nullable"),
          s"ALTER TABLE $name ADD COLUMN: the tree already holds parts, " +
            s"whose rows read NULL for '$col' — declare Nullable(…) " +
            "(CH would render type defaults; this engine refuses the " +
            "divergence rather than faking it)")
        val entry = (col, typeStr)
        val newCols = pos match {
          case null => cols :+ entry
          case p if p.trim.equalsIgnoreCase("FIRST") => entry +: cols
          case p =>
            val after = clean(p.trim.split("\\s+").last)
            val i = cols.indexWhere(_._1 == after)
            require(i >= 0,
              s"ALTER TABLE $name ADD COLUMN: AFTER column '$after' " +
                "does not exist")
            (cols.take(i + 1) :+ entry) ++ cols.drop(i + 1)
        }
        updateDdl(spark, t, newCols)
        Seq((name, s"add_column $col", 0L))
          .toDF("table", "mutation", "rows_affected")

      case DropColRe(rawName, ifExists, rawCol) =>
        val (name, t, _) = resolve(spark, rawName, "DROP COLUMN")
        val col = clean(rawCol)
        val cols = pairs(t.schemaDdl, name)
        if (!cols.exists(_._1 == col)) {
          require(ifExists != null,
            s"ALTER TABLE $name DROP COLUMN: no column '$col' " +
              "(use IF EXISTS to no-op)")
          return Seq((name, s"drop_column $col", 0L))
            .toDF("table", "mutation", "rows_affected")
        }
        requireUnreferenced(t, col, "DROP COLUMN")
        require(cols.size > 1,
          s"ALTER TABLE $name DROP COLUMN: cannot drop the only column")
        updateDdl(spark, t, cols.filterNot(_._1 == col))
        Seq((name, s"drop_column $col", 0L))
          .toDF("table", "mutation", "rows_affected")

      case ModifyColRe(rawName, rawCol, typeStr0) =>
        val (name, t, ep) = resolve(spark, rawName, "MODIFY COLUMN")
        val col = clean(rawCol)
        val typeStr = typeStr0.trim
        val cols = pairs(t.schemaDdl, name)
        require(cols.exists(_._1 == col),
          s"ALTER TABLE $name MODIFY COLUMN: no column '$col'")
        requireUnreferenced(t, col, "MODIFY COLUMN")
        graft.sources.mergetree.MergeTree.validateType(typeStr)
        val newCols = cols.map { case (n, ts) =>
          if (n == col) (n, typeStr) else (n, ts) }
        // a REWRITE, like CH's own mutation: re-encode with the column
        // cast to the new type's Spark equivalent; a cast that cannot
        // hold the data fails the task loudly (ANSI), never truncates
        rewriteAs(spark, t, ep, cols, newCols,
          renames = Map.empty, casts = Map(col -> typeStr))
        Seq((name, s"modify_column $col $typeStr", 0L))
          .toDF("table", "mutation", "rows_affected")

      case RenameColRe(rawName, ifExists, rawFrom, rawTo) =>
        val (name, t, ep) = resolve(spark, rawName, "RENAME COLUMN")
        val from = clean(rawFrom); val to = clean(rawTo)
        val cols = pairs(t.schemaDdl, name)
        if (!cols.exists(_._1 == from)) {
          require(ifExists != null,
            s"ALTER TABLE $name RENAME COLUMN: no column '$from' " +
              "(use IF EXISTS to no-op)")
          return Seq((name, s"rename_column $from", 0L))
            .toDF("table", "mutation", "rows_affected")
        }
        require(!cols.exists(_._1 == to),
          s"ALTER TABLE $name RENAME COLUMN: column '$to' already exists")
        requireUnreferenced(t, from, "RENAME COLUMN")
        val newCols = cols.map { case (n, ts) =>
          if (n == from) (to, ts) else (n, ts) }
        rewriteAs(spark, t, ep, cols, newCols,
          renames = Map(from -> to), casts = Map.empty)
        Seq((name, s"rename_column $from -> $to", 0L))
          .toDF("table", "mutation", "rows_affected")

      case RenameTableRe(rawFrom, rawTo) =>
        val from = clean(rawFrom); val to = clean(rawTo)
        require(!to.contains('.'),
          s"RENAME TABLE: multi-part name '$to' is not supported")
        val t = Catalog.lookup(from).getOrElse(
          throw new IllegalArgumentException(
            s"RENAME TABLE: no catalog table '$from' (plain session " +
              "views rename by re-CREATE)"))
        require(Catalog.lookup(to).isEmpty,
          s"RENAME TABLE: '$to' already exists")
        // Owned CTAS storage lives at $warehouse/<name> — move it WITH
        // the name (r12 advisor, high): otherwise a later CREATE TABLE
        // <from> computes the same path and writes into the renamed
        // table's live tree, and DROP of either name deletes the
        // other's data. ATTACHed external endpoints are location-pinned
        // and keep their path.
        val view = spark.table(from)
        val nt = if (t.ownsStorage && t.endpoint.isDefined) {
          val warehouse = graft.service.Settings.WarehouseDir(spark)
          val newEp = s"$warehouse/$to"
          graft.sources.mergetree.MergeTreeCtas.moveTree(
            t.endpoint.get, newEp, s"RENAME TABLE $from TO $to")
          t.copy(name = to, endpoint = Some(newEp))
        } else t.copy(name = to)
        Catalog.detach(from)
        Catalog.update(nt)
        if (nt.endpoint == t.endpoint) view.createOrReplaceTempView(to)
        else Catalog.register(spark, nt) // old view lists the old files
        spark.catalog.dropTempView(from)
        // materialized views and dictionaries referencing the old name
        // follow the rename (their triggers/probes keep working)
        graft.core.MatViews.retarget(from, to)
        graft.core.Dictionaries.retarget(from, to)
        Seq((to, s"renamed_from $from", 0L))
          .toDF("table", "mutation", "rows_affected")

      case ExchangeRe(rawA, rawB) =>
        // CH's atomic name swap — blue/green table rollover: readers of
        // either name see the OTHER table's data afterwards; storage
        // never moves
        val a = clean(rawA); val b = clean(rawB)
        require(a != b, "EXCHANGE TABLES: the two names are the same table")
        val ta = Catalog.lookup(a).getOrElse(throw new IllegalArgumentException(
          s"EXCHANGE TABLES: no catalog table '$a'"))
        val tb = Catalog.lookup(b).getOrElse(throw new IllegalArgumentException(
          s"EXCHANGE TABLES: no catalog table '$b'"))
        val va = spark.table(a); val vb = spark.table(b)
        Catalog.update(ta.copy(name = b))
        Catalog.update(tb.copy(name = a))
        va.createOrReplaceTempView(b)
        vb.createOrReplaceTempView(a)
        // MV/dictionary references swap via a temp name (a -> tmp,
        // b -> a, tmp -> b) so the two retargets never collide
        val tmp = s"__exchange_${java.util.UUID.randomUUID().toString.take(8)}"
        graft.core.MatViews.retarget(a, tmp)
        graft.core.MatViews.retarget(b, a)
        graft.core.MatViews.retarget(tmp, b)
        graft.core.Dictionaries.retarget(a, tmp)
        graft.core.Dictionaries.retarget(b, a)
        graft.core.Dictionaries.retarget(tmp, b)
        Seq((a, s"exchanged_with $b", 0L))
          .toDF("table", "mutation", "rows_affected")
    }
  }

  // ---- helpers ----

  private def clean(s: String): String =
    s.trim.stripPrefix("`").stripSuffix("`").stripPrefix("\"").stripSuffix("\"")

  /** The target must be a catalog-recorded MergeTree table with a
    * known column list — schema evolution needs an authoritative DDL. */
  private def resolve(spark: SparkSession, rawName: String,
      op: String): (String, Catalog.AttachedTable, String) = {
    val name = clean(rawName)
    val t = Catalog.lookup(name).getOrElse(
      throw new IllegalArgumentException(
        s"ALTER TABLE $name $op: not a catalog table — schema evolution " +
          "applies to ATTACHed/CTAS MergeTree tables"))
    require(t.kind == Catalog.Kind.MergeTree,
      s"ALTER TABLE $name $op: table is ${t.kind}-backed — column DDL " +
        "applies to MergeTree tables (rewrite parquet tables with CTAS)")
    val ep = t.endpoint.getOrElse(throw new IllegalArgumentException(
      s"ALTER TABLE $name $op: table has no endpoint"))
    graft.sources.mergetree.MergeTree
      .requireLocalForMaintenance(ep, s"ALTER TABLE … $op")
    (name, t, ep)
  }

  private def pairs(ddl: String, name: String): Seq[(String, String)] = {
    val cols =
      try graft.types.ChSchemaParser.columnPairs(ddl)
      catch { case _: Exception => Nil }
    require(cols.nonEmpty,
      s"ALTER TABLE $name: the table's column list is not recorded — " +
        "re-ATTACH with explicit columns")
    cols
  }

  /** Sorting-key / partition / engine-argument / TTL columns anchor the
    * table's physical contract — altering them refuses, as CH does. */
  private def requireUnreferenced(t: Catalog.AttachedTable, col: String,
      op: String): Unit = {
    require(!t.orderBy.contains(col),
      s"ALTER TABLE ${t.name} $op: '$col' is in the sorting key")
    def refs(s: String): Boolean =
      s"""\\b${java.util.regex.Pattern.quote(col)}\\b""".r
        .findFirstIn(s).isDefined
    require(!t.partitionBy.exists(refs),
      s"ALTER TABLE ${t.name} $op: '$col' is referenced by PARTITION BY")
    require(!refs(t.engine.dropWhile(_ != '(')),
      s"ALTER TABLE ${t.name} $op: '$col' is an engine argument " +
        s"(${t.engine})")
    require(!t.ttl.exists(refs),
      s"ALTER TABLE ${t.name} $op: '$col' is referenced by TTL")
    require(!t.sampleBy.exists(refs),
      s"ALTER TABLE ${t.name} $op: '$col' is referenced by SAMPLE BY")
  }

  private def render(cols: Seq[(String, String)]): String =
    cols.map { case (n, ts) => s"`$n` $ts" }.mkString(", ")

  /** Metadata-cost DDL update: new catalog entry + re-registered view. */
  private def updateDdl(spark: SparkSession, t: Catalog.AttachedTable,
      newCols: Seq[(String, String)]): Unit = {
    val nt = t.copy(schemaDdl = render(newCols))
    Catalog.update(nt)
    graft.sources.mergetree.MergeTree
      .read(spark, nt.endpoint.get, nt.schemaDdl, nt.orderBy)
      .createOrReplaceTempView(nt.name)
  }

  /** Rewrite-cost evolution (MODIFY/RENAME COLUMN): read under the OLD
    * DDL, rename/cast, re-encode under the NEW DDL through the same
    * backup-staged swap every mutation uses. */
  private def rewriteAs(spark: SparkSession, t: Catalog.AttachedTable,
      ep: String, oldCols: Seq[(String, String)],
      newCols: Seq[(String, String)], renames: Map[String, String],
      casts: Map[String, String]): Unit = {
    import org.apache.spark.sql.functions.col
    val df0 = graft.sources.mergetree.MergeTree
      .read(spark, ep, render(oldCols), t.orderBy)
    val projected = oldCols.map { case (n, _) =>
      val c = col(s"`$n`")
      val target = renames.getOrElse(n, n)
      val cast = casts.get(n).map { ts =>
        val (dt, _, _) = graft.types.ChSchemaParser.parseType(ts)
        c.cast(dt)
      }.getOrElse(c)
      cast.as(target)
    }
    val out = df0.select(projected: _*)
    graft.sources.mergetree.MergeTreeCtas.withTreeLock(ep) {
      graft.sources.mergetree.MergeTreeCtas.write(spark, out, ep,
        t.orderBy, declaredDdl = Some(render(newCols)),
        op = "ALTER TABLE schema rewrite",
        partitionBy = t.partitionBy)
    }
    updateDdl(spark, t, newCols)
  }
}
