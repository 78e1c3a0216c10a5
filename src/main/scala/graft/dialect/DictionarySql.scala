package graft.dialect

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Dictionaries

/** CH dictionaries, Spark-first (SURVEY-adjacent: `dictGet` is the
  * bread-and-butter enrichment primitive of real CH queries):
  *
  *   - `CREATE DICTIONARY d (k T, a T [DEFAULT lit], …) PRIMARY KEY k
  *     SOURCE(CLICKHOUSE(TABLE 't')) [LAYOUT(…)] [LIFETIME(…)]` —
  *     registers a keyed lookup over a session table. LAYOUT/LIFETIME
  *     are accepted no-ops: Spark plans the lookup per query (the
  *     HASHED-layout analog is a broadcast join, chosen by size).
  *   - `dictGet('d', 'attr', k)` (and the typed `dictGetString`/
  *     `dictGetUInt64`/… spellings) → a correlated scalar subquery
  *     `coalesce(CAST((SELECT attr FROM src WHERE key = (k)) AS T),
  *     <default>)` — Catalyst rewrites it to a left join, broadcast
  *     when the source is small; the attribute's declared DEFAULT (or
  *     CH's type default) fills misses, exactly CH's contract.
  *   - `dictGetOrDefault('d', 'attr', k, def)` — the caller's default.
  *   - `dictGetOrNull('d', 'attr', k)` — NULL on miss.
  *   - `dictHas('d', k)` — UInt8 0/1.
  *   - `DROP DICTIONARY [IF EXISTS] d`.
  *
  * A duplicate key in the source fails the query loudly (Spark's
  * more-than-one-row scalar-subquery error) — CH's HASHED layout would
  * keep an arbitrary row; this engine refuses the nondeterminism. */
object DictionarySql {

  private val CreateRe =
    ("""(?is)^\s*CREATE\s+DICTIONARY\s+(IF\s+NOT\s+EXISTS\s+)?""" +
      """([`"]?[\w.]+[`"]?)\s*\((.+)\)\s*(PRIMARY\s+KEY\s+.*)$""").r
  private val DropRe =
    """(?is)^\s*DROP\s+DICTIONARY\s+(IF\s+EXISTS\s+)?([`"]?[\w.]+[`"]?)\s*$""".r
  private val PrimaryKeyRe =
    """(?is)\bPRIMARY\s+KEY\s+([`"]?\w+[`"]?)""".r
  private val SourceTableRe =
    """(?is)\bSOURCE\s*\(\s*CLICKHOUSE\s*\([^)]*?TABLE\s+'([^']+)'[^)]*\)\s*\)""".r
  private val SourceAnyRe = """(?is)\bSOURCE\s*\(\s*(\w+)""".r
  private val AttrRe =
    """(?is)^\s*([`"]?\w+[`"]?)\s+(.+?)(?:\s+DEFAULT\s+(.+?))?\s*$""".r

  def isDictionary(sql: String): Boolean =
    CreateRe.matches(sql) || DropRe.matches(sql)

  private def clean(s: String): String =
    s.trim.stripPrefix("`").stripSuffix("`").stripPrefix("\"").stripSuffix("\"")

  def run(spark: SparkSession, sql: String): DataFrame = {
    import spark.implicits._
    sql match {
      case CreateRe(ifNot, rawName, cols, tail) =>
        val name = clean(rawName)
        if (Dictionaries.lookup(name).isDefined) {
          require(ifNot != null,
            s"CREATE DICTIONARY $name: already exists " +
              "(use IF NOT EXISTS, or DROP DICTIONARY first)")
          return Seq((name, "exists")).toDF("dictionary", "status")
        }
        val key = PrimaryKeyRe.findFirstMatchIn(tail).map(m => clean(m.group(1)))
          .getOrElse(throw new IllegalArgumentException(
            s"CREATE DICTIONARY $name: PRIMARY KEY <column> is required " +
              "(single-column keys; COMPLEX_KEY layouts are not supported)"))
        val src = SourceTableRe.findFirstMatchIn(tail).map(_.group(1))
          .getOrElse {
            val kind = SourceAnyRe.findFirstMatchIn(tail)
              .map(_.group(1)).getOrElse("none")
            throw new IllegalArgumentException(
              s"CREATE DICTIONARY $name: SOURCE($kind(…)) is not " +
                "supported — use SOURCE(CLICKHOUSE(TABLE '<session " +
                "table>')) after ATTACHing/creating the data as a table")
          }
        require(spark.catalog.tableExists(src),
          s"CREATE DICTIONARY $name: source table '$src' does not exist")
        val attrs = SqlLex(cols).splitTopLevel(',')
          .map(_.trim).filter(_.nonEmpty).map {
            case AttrRe(n, t, dflt) =>
              // validate the type parses to a Spark type now
              graft.types.ChSchemaParser.parseType(t.trim)
              Dictionaries.Attr(clean(n), t.trim,
                Option(dflt).map(_.trim).filter(_.nonEmpty))
            case other => throw new IllegalArgumentException(
              s"CREATE DICTIONARY $name: unparseable attribute '$other'")
          }
        require(attrs.exists(_.name == key),
          s"CREATE DICTIONARY $name: PRIMARY KEY '$key' is not a " +
            "declared column")
        val srcCols = spark.table(src).columns.toSet
        attrs.foreach(a => require(srcCols.contains(a.name),
          s"CREATE DICTIONARY $name: column '${a.name}' is not in " +
            s"source table '$src'"))
        Dictionaries.register(
          Dictionaries.Dict(name, key, attrs, src, sql.trim))
        Seq((name, "created")).toDF("dictionary", "status")
      case DropRe(ifExists, rawName) =>
        val name = clean(rawName)
        Dictionaries.drop(name) match {
          case Some(_) => Seq((name, "dropped")).toDF("dictionary", "status")
          case None =>
            require(ifExists != null,
              s"DROP DICTIONARY $name: no such dictionary")
            Seq((name, "not_found")).toDF("dictionary", "status")
        }
    }
  }

  // ---- dictGet-family text rewrite ----

  private val DictFnRe =
    ("""\b(dictGetOrDefault|dictGetOrNull|dictHas|dictGet""" +
      """(?:String|UInt8|UInt16|UInt32|UInt64|Int8|Int16|Int32|Int64|""" +
      """Float32|Float64|Date|DateTime)?)\s*\(""").r

  /** Rewrite every dictGet-family call (quote-aware, innermost-first
    * via recursion on the argument text) into its scalar-subquery
    * form. Unknown dictionaries refuse loudly at rewrite time. */
  def rewriteFunctions(sql: String): String = {
    if (!sql.contains("dict")) return sql
    val lx = SqlLex(sql)
    lx.splice(DictFnRe) { m =>
      val close = lx.matchParen(m.end - 1)
      if (close < 0) None
      else {
        val inner = rewriteFunctions(sql.substring(m.end, close))
        Some((close + 1, render(m.group(1),
          SqlLex(inner).splitTopLevel(',').map(_.trim).filter(_.nonEmpty))))
      }
    }
  }

  private def render(fn: String, args: Seq[String]): String = {
    def dictOf(lit: String): Dictionaries.Dict = {
      val n = lit.trim.stripPrefix("'").stripSuffix("'")
      require(lit.trim.startsWith("'"),
        s"$fn: the dictionary name must be a string literal — got $lit")
      Dictionaries.lookup(n).getOrElse(throw new IllegalArgumentException(
        s"$fn('$n', …): no such dictionary — CREATE DICTIONARY first"))
    }
    def attrOf(d: Dictionaries.Dict, lit: String): Dictionaries.Attr = {
      val a = lit.trim.stripPrefix("'").stripSuffix("'")
      require(lit.trim.startsWith("'"),
        s"$fn: the attribute name must be a string literal — got $lit")
      d.attrs.find(_.name == a).getOrElse(
        throw new IllegalArgumentException(
          s"$fn('${d.name}', '$a', …): no such attribute"))
    }
    // the inner scope must expose NO source column names, or an outer
    // key expression naming one would resolve INNERMOST-first and
    // decorrelate the probe (`cid = cid` always-true — caught by spec);
    // the nested projection renames key/value to reserved names
    def probe(d: Dictionaries.Dict, a: Dictionaries.Attr, k: String): String = {
      val t = graft.types.ChSchemaParser.parseType(a.chType)._1.sql
      s"CAST((SELECT __dval FROM (SELECT `${a.name}` AS __dval, " +
        s"`${d.key}` AS __dkey FROM ${d.sourceTable}) " +
        s"WHERE __dkey = ($k)) AS $t)"
    }
    fn match {
      case "dictHas" =>
        require(args.size == 2, s"dictHas takes (dict, key) — got ${args.size} args")
        val d = dictOf(args.head)
        s"CAST((SELECT count(*) FROM (SELECT `${d.key}` AS __dkey " +
          s"FROM ${d.sourceTable}) WHERE __dkey = (${args(1)})) > 0 AS INT)"
      case "dictGetOrDefault" =>
        require(args.size == 4,
          s"dictGetOrDefault takes (dict, attr, key, default) — got ${args.size}")
        val d = dictOf(args.head); val a = attrOf(d, args(1))
        s"coalesce(${probe(d, a, args(2))}, (${args(3)}))"
      case "dictGetOrNull" =>
        require(args.size == 3,
          s"dictGetOrNull takes (dict, attr, key) — got ${args.size}")
        val d = dictOf(args.head); val a = attrOf(d, args(1))
        probe(d, a, args(2))
      case _ => // dictGet and the typed spellings (declared type wins)
        require(args.size == 3,
          s"$fn takes (dict, attr, key) — got ${args.size} args")
        val d = dictOf(args.head); val a = attrOf(d, args(1))
        s"coalesce(${probe(d, a, args(2))}, ${defaultOf(a)})"
    }
  }

  /** The miss value: the attribute's declared DEFAULT literal, else
    * CH's type default (0 / '' / epoch). */
  private def defaultOf(a: Dictionaries.Attr): String =
    a.default.getOrElse {
      val base = a.chType.trim
        .replaceAll("(?i)^LowCardinality\\s*\\(\\s*(.*)\\s*\\)$", "$1")
      if (base.startsWith("Nullable")) "NULL"
      else if (base.matches("(?i)U?Int\\d+|Float\\d+|Decimal.*|Bool(ean)?"))
        s"CAST(0 AS ${graft.types.ChSchemaParser.parseType(a.chType)._1.sql})"
      else if (base.matches("(?i)String|FixedString.*")) "''"
      else if (base.matches("(?i)Date(32)?")) "DATE '1970-01-01'"
      else if (base.matches("(?i)DateTime.*"))
        "TIMESTAMP '1970-01-01 00:00:00'"
      else "NULL"
    }
}
