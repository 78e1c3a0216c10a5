package graft.types

import org.apache.spark.sql.types._

import graft.dialect.SqlLex

/** ClickHouse schema-string → Spark `StructType`.
  *
  * The reference embeds schema-on-read DDL strings in every CSV table
  * function call (`'pickup_date Date, id UInt64, vendor_id String, …'`,
  * reference `temporal/workflow_query_executor_test.go:44`) and a full
  * 63-column CREATE column list in the `github_events` ATTACH
  * (`temporal/workflow_query_executor_test.go:85`). This parser covers
  * every type observed there (SURVEY §1.2) plus the common CH scalar
  * types, mapped per the table in SURVEY §1.2:
  *
  *   - unsigned ints widen to the next signed Spark type (UInt8→Short,
  *     UInt16→Int, UInt32→Long); UInt64→Long with a documented range
  *     caveat (DecimalType(20,0) is the lossless escape hatch).
  *   - `LowCardinality(T)` is a storage hint — unwrap (Parquet dictionary
  *     encoding plays the same role transparently).
  *   - `Enum8/16('name'=code,…)` → StringType; the name↔code map is kept
  *     in column metadata so `CAST(enum AS Int)` compat can be layered on.
  *   - `Nullable(T)` → T with nullable=true; bare columns are modeled
  *     nullable too (CSV-on-read reality), but the flag is recorded.
  */
object ChSchemaParser {

  /** `name -> PURE CH type string` pairs of a `col Type, col Type`
    * list — BOTH name spellings (backquoted and bare), shared by the
    * schema parse, the CTAS/maintenance DDL reader, and DESCRIBE
    * (review finding: a hand-rolled copy assumed backquotes and threw
    * on the bare spelling). Column OPTIONS (`DEFAULT expr`,
    * `CODEC(…)`, `COMMENT '…'`) are validated and STRIPPED — every
    * consumer of the type string (wire headers, columns.txt, casts)
    * needs the bare type; [[columnDefs]] keeps the options. */
  def columnPairs(schema: String): Seq[(String, String)] =
    columnDefs(schema).map { case (n, t, _) => (n, t) }

  /** `(name, pure type, options)` triples. Supported options:
    * `DEFAULT <expr>` (applied by INSERT for unmentioned columns),
    * `CODEC(…)` (a storage hint — recorded, compression is the
    * engine's own), `COMMENT '…'` (cosmetic). `MATERIALIZED`/`ALIAS`/
    * column-level `TTL` refuse loudly: always-computed columns,
    * query-time aliases, and merge-time value expiry are semantics
    * this engine does not implement — silently dropping them would
    * corrupt reads. */
  def columnDefs(schema: String): Seq[(String, String, Map[String, String])] =
    SqlLex(schema).splitTopLevel(',').filter(_.trim.nonEmpty).map { colDef =>
      val t = colDef.trim
      val (name, rest) =
        if (t.startsWith("`")) {
          val end = t.indexOf('`', 1)
          require(end > 0, s"unterminated backquote in column def: $t")
          (t.substring(1, end), t.substring(end + 1).trim)
        } else {
          val sp = t.indexWhere(_.isWhitespace)
          require(sp > 0, s"missing type in column def: $t")
          (t.substring(0, sp), t.substring(sp + 1).trim)
        }
      val (tpe, opts) = typeAndOptions(rest)
      require(tpe.nonEmpty,
        s"column $name: an explicit type is required (CH's type-less " +
          "DEFAULT inference is not supported)")
      Seq("materialized", "alias", "ttl").foreach { bad =>
        if (opts.contains(bad)) throw new IllegalArgumentException(
          s"column $name: ${bad.toUpperCase} columns are not supported " +
            "(always-computed columns / query-time aliases / per-column " +
            "TTL are unimplemented semantics — refusing beats silently " +
            "dropping them)")
      }
      (name, tpe, opts)
    }

  private val OptionKw =
    """(?i)\b(DEFAULT|MATERIALIZED|ALIAS|CODEC|TTL|COMMENT)\b""".r

  /** Split a column-def TAIL (after the name) into the pure type and
    * its options — the option keywords are matched at paren depth 0
    * outside quotes, so `Enum8('DEFAULT' = 1)` and `lower(comment)`
    * stay part of the type/expression. */
  def typeAndOptions(rest0: String): (String, Map[String, String]) = {
    val rest = rest0.trim
    val hits = SqlLex(rest).topLevelMatches(OptionKw)
      .filter(m => m.start == 0 || rest.charAt(m.start - 1).isWhitespace)
    if (hits.isEmpty) (rest, Map.empty)
    else {
      val tpe = rest.substring(0, hits.head.start).trim
      val opts = hits.zipWithIndex.map { case (m, idx) =>
        val end = if (idx + 1 < hits.length) hits(idx + 1).start else rest.length
        m.group(1).toLowerCase -> rest.substring(m.end, end).trim
      }.toMap
      (tpe, opts)
    }
  }

  /** Parse a full `col Type, col Type` list. Column names may be
    * backquoted. Throws IllegalArgumentException on malformed input with
    * the offending fragment — misuse fails fast, not at scan time. */
  def parse(schema: String): StructType = {
    val fields = columnDefs(schema).map { case (name, tpe, opts) =>
      val (dt, declaredNullable, meta) = parseType(tpe)
      // schema-on-read pragmatism: the Spark field is always nullable
      // (CSV rows may omit values), but the DECLARED nullability is
      // recorded so catalog layers can surface CH's contract
      meta.putBoolean("ch.nullable", declaredNullable)
      // the declared DEFAULT expr (CH dialect) — INSERT applies it to
      // unmentioned columns
      opts.get("default").foreach(meta.putString("ch.default", _))
      StructField(name, dt, nullable = true, metadata = meta.build())
    }
    StructType(fields)
  }

  /** Parse a single CH type expression into (sparkType, declaredNullable,
    * metadata). */
  def parseType(ch: String): (DataType, Boolean, MetadataBuilder) = {
    val t = ch.trim
    val meta = new MetadataBuilder()
    val paren = t.indexOf('(')
    val (head, args) =
      if (paren >= 0 && t.endsWith(")"))
        (t.substring(0, paren).trim, t.substring(paren + 1, t.length - 1))
      else (t, "")
    head match {
      case "Nullable" =>
        val (dt, _, m) = parseType(args); (dt, true, m)
      case "LowCardinality" =>
        // a storage hint for Spark (parquet dictionary encoding plays
        // the role), but RECORDED in field metadata: the native door
        // re-emits the LC transport for result columns that declared
        // it (r15 — r14 decoded LC inbound but always emitted plain)
        val (dt, n, m) = parseType(args)
        (dt, n, m.putBoolean("ch.lowcardinality", true))
      case "Array" =>
        val (el, elNull, _) = parseType(args)
        (ArrayType(el, containsNull = elNull), false, meta)
      case "Map" =>
        val kv = SqlLex(args).splitTopLevel(',')
        require(kv.length == 2, s"Map needs 2 type args: $t")
        val (k, _, _) = parseType(kv(0)); val (v, vNull, _) = parseType(kv(1))
        (MapType(k, v, valueContainsNull = vNull), false, meta)
      case "Tuple" =>
        val els = SqlLex(args).splitTopLevel(',').map(_.trim)
        val fields = els.zipWithIndex.map { case (el, i) =>
          // named tuple element: `name Type`; positional: `_1 .. _n` like CH
          val sp = el.indexWhere(_.isWhitespace)
          val looksNamed = sp > 0 && !el.contains("(") ||
            (sp > 0 && el.indexOf('(') > sp)
          if (looksNamed) {
            val (dt, n, _) = parseType(el.substring(sp + 1)); StructField(el.substring(0, sp), dt, n)
          } else {
            val (dt, n, _) = parseType(el); StructField(s"_${i + 1}", dt, n)
          }
        }
        (StructType(fields), false, meta)
      case "Enum8" | "Enum16" =>
        // 'Name' = code, … — keep the map for CAST(enum AS Int) compat
        val pairs = SqlLex(args).splitTopLevel(',').map { p =>
          // the `=` separating an enum name from its code
          val eq = SqlLex(p).codeMatches("=".r).toSeq.lastOption.fold(-1)(_.start)
          require(eq > 0, s"malformed enum entry: $p")
          val name = unquote(p.substring(0, eq).trim)
          val code = p.substring(eq + 1).trim.toInt
          (name, code)
        }
        meta.putString("ch.type", head)
        meta.putStringArray("ch.enum.names", pairs.map(_._1).toArray)
        meta.putLongArray("ch.enum.codes", pairs.map(_._2.toLong).toArray)
        (StringType, false, meta)
      case "FixedString" => (StringType, false, meta)
      case "Decimal" =>
        val ps = SqlLex(args).splitTopLevel(',').map(_.trim.toInt)
        (DecimalType(ps(0), if (ps.length > 1) ps(1) else 0), false, meta)
      case "Decimal32"  => (DecimalType(9, args.trim.toInt), false, meta)
      case "Decimal64"  => (DecimalType(18, args.trim.toInt), false, meta)
      case "Decimal128" => (DecimalType(38, args.trim.toInt), false, meta)
      case "DateTime64" => (TimestampType, false, meta)
      case "DateTime" | "DateTime32" => (TimestampType, false, meta)
      case "Date" | "Date32" => (DateType, false, meta)
      case "String"  => (StringType, false, meta)
      case "UUID"    => (StringType, false, meta)
      case "Bool" | "Boolean" => (BooleanType, false, meta)
      case "Int8"    => (ByteType, false, meta)
      case "Int16"   => (ShortType, false, meta)
      case "Int32"   => (IntegerType, false, meta)
      case "Int64"   => (LongType, false, meta)
      case "Int128" | "Int256" => (DecimalType(38, 0), false, meta)
      case "UInt8"   => (ShortType, false, meta)   // next-wider signed
      case "UInt16"  => (IntegerType, false, meta)
      case "UInt32"  => (LongType, false, meta)
      case "UInt64"  => // Long covers CH's observed use; lossy past 2^63-1
        meta.putString("ch.type", "UInt64"); (LongType, false, meta)
      case "UInt128" | "UInt256" => (DecimalType(38, 0), false, meta)
      case "Float32" => (FloatType, false, meta)
      case "Float64" => (DoubleType, false, meta)
      case other =>
        throw new IllegalArgumentException(s"unsupported ClickHouse type: $other")
    }
  }

  private def unquote(s: String): String = {
    val t = s.trim
    if (t.startsWith("'") && t.endsWith("'"))
      t.substring(1, t.length - 1).replace("\\'", "'")
    else t
  }
}
