package graft.dialect

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.sources.Sinks

/** SQL write front door (SURVEY §2.1 S11; VERDICT r9 task #3): the
  * reference returns results through the driver envelope and hints at a
  * result offload to object storage (`workflow_query_executor.go:94`
  * TODO "Return S3 url"); every real pipeline needs the write path as a
  * STATEMENT, not just the [[Sinks]] API. Supported statements:
  *
  *   - `INSERT INTO '<path>' [FORMAT <fmt>] SELECT …`
  *   - `INSERT INTO FUNCTION file('<path>'[, '<fmt>']) SELECT …`
  *     (CH's own table-function spelling)
  *   - `CREATE TABLE <name> [ENGINE = MergeTree] [ORDER BY (k, …)] AS
  *     SELECT …` — materialized under the warehouse dir
  *     (`spark.graft.warehouseDir`, default `<java.io.tmpdir>/
  *     graft_warehouse`), ORDER BY becoming [[Sinks.writeSorted]]'s
  *     clustered layout (the MergeTree primary-index parity story) and
  *     the result registered as a queryable view + catalog entry.
  *
  * The SELECT body goes through the full dialect rewrite, so every CH
  * clause/function works inside a write. Formats mirror the READ
  * surface: Parquet (default), CSVWithNames/CSV, TSVWithNames/TSV,
  * JSONEachRow; `.gz` compression by extension for the text formats.
  *
  * Scale posture: the write is `df.write` — executor-parallel, never
  * driver-gathered; `INSERT INTO FUNCTION s3(…)` with an http(s) URL is
  * refused loudly (no credentialed object-store egress here) rather
  * than half-written.
  */
object ChWrites {

  private val InsertFnRe =
    """(?is)^\s*INSERT\s+INTO\s+FUNCTION\s+(file|s3)\s*\(\s*'([^']+)'\s*(?:,\s*'([^']+)')?\s*\)\s*(.*)$""".r
  // write-side federation: INSERT INTO FUNCTION remote(…) SELECT …
  // (r18 verdict missing #1) — the SELECT runs here, rows stream out
  // executor-parallel over the native protocol (RemoteNative.write)
  private val InsertRemoteRe =
    """(?is)^\s*INSERT\s+INTO\s+FUNCTION\s+(remote|remoteSecure)\s*\(([^)]*)\)\s*(.*)$""".r
  private val InsertPathRe =
    """(?is)^\s*INSERT\s+INTO\s+'([^']+)'\s*(.*)$""".r
  private val InsertTableSelectRe =
    """(?is)^\s*INSERT\s+INTO\s+(?:TABLE\s+)?([`"\w.]+)\s+((?:SELECT|WITH)\b.*)$""".r
  // CH's column-list INSERT SELECT: listed columns take the SELECT's
  // output positionally, unmentioned columns take NULL. The list
  // capture admits quoted identifiers containing `,`/`)`/`(` (r15 —
  // the native door's opener got the same treatment; `[^)]*` was the
  // r14 fragility finding), split later by the quote-aware tokenizer.
  private val InsertTableColsSelectRe =
    ("""(?is)^\s*INSERT\s+INTO\s+(?:TABLE\s+)?([`"\w.]+)\s*""" +
      """\(((?:[^()`"]|`[^`]*`|"[^"]*")*)\)\s*((?:SELECT|WITH)\b.*)$""").r
  private val InsertTableRe =
    """(?is)^\s*INSERT\s+INTO\s+(\S+).*$""".r
  private val CtasRe =
    """(?is)^\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?([`"]?[\w.]+[`"]?)\s*(.*?)\s*\bAS\s+((?:SELECT|WITH)\b.*)$""".r
  // `CREATE TABLE t2 AS t1` — CH's schema-clone spelling: t2 gets t1's
  // columns, engine, keys, partitioning, and TTL, EMPTY. A bare
  // identifier after AS (the SELECT/WITH forms match CtasRe first, and
  // anything with arguments has parens so it never matches here).
  private val CloneRe =
    """(?is)^\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([`"]?[\w.]+[`"]?)\s+AS\s+([`"]?[\w.]+[`"]?)\s*(ENGINE\s*=.*?)?\s*;?\s*$""".r
  // CH's plain DDL: an EMPTY table with a declared column list — the
  // most basic statement a CH estate ports. Greedy `(.+)\)` pins the
  // column list to the LAST close-paren before ENGINE (types nest
  // parens: Nullable(…), Enum8('a' = 1)). Engine args allow one
  // nesting level like the ATTACH parser.
  private val CreateEmptyRe =
    ("""(?is)^\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([`"]?[\w.]+[`"]?)\s*""" +
      """\((.+)\)\s*ENGINE\s*=\s*(\w+(?:\s*\((?:[^()]|\([^()]*\))*\))?)(.*)$""").r
  private val SampleByRe =
    """(?is)\bSAMPLE\s+BY\s+(\w+\([^)]*\)|\([^)]*\)|[\w.]+)""".r
  private val InsertValuesRe =
    ("""(?is)^\s*INSERT\s+INTO\s+(?:TABLE\s+)?([`"\w.]+)\s*""" +
      """(?:\(((?:[^()`"]|`[^`]*`|"[^"]*")*)\)\s*)?VALUES\s+(.+)$""").r
  // CH's inline-data INSERT: `INSERT INTO t [(cols)] FORMAT <fmt>`
  // followed by the rows themselves — the standard HTTP bulk-load
  // spelling (`curl -d 'INSERT INTO t FORMAT CSV
  // 1,a' http://host/`) and what `cat data.csv | clickhouse-client
  // --query="INSERT … FORMAT CSV"` sends
  private val InsertTableFormatRe =
    ("""(?is)^\s*INSERT\s+INTO\s+(?:TABLE\s+)?([`"\w.]+)\s*""" +
      """(?:\(((?:[^()`"]|`[^`]*`|"[^"]*")*)\)\s*)?FORMAT\s+(\w+)\s+(.+)$""").r
  // CH materialized views — INSERT TRIGGERS, not retroactive views:
  // the TO form appends into an existing table; the ENGINE form owns a
  // backing table (`<name>__inner`, CH's `.inner.<uuid>` analog) and
  // may POPULATE it from the pre-existing source rows (CH forbids
  // POPULATE with TO; so does this parser by shape)
  private val CreateMvToRe =
    ("""(?is)^\s*CREATE\s+MATERIALIZED\s+VIEW\s+(IF\s+NOT\s+EXISTS\s+)?""" +
      """([`"]?[\w.]+[`"]?)\s+TO\s+([`"]?[\w.]+[`"]?)\s+AS\s+""" +
      """((?:SELECT|WITH)\b.*)$""").r
  private val CreateMvEngineRe =
    ("""(?is)^\s*CREATE\s+MATERIALIZED\s+VIEW\s+(IF\s+NOT\s+EXISTS\s+)?""" +
      """([`"]?[\w.]+[`"]?)\s+(ENGINE\s*=.*?)\s+(POPULATE\s+)?AS\s+""" +
      """((?:SELECT|WITH)\b.*)$""").r
  private val MvPrefixRe =
    """(?is)^\s*CREATE\s+MATERIALIZED\s+VIEW\b.*$""".r
  // plain (non-materialized) views — a lazy named query, re-planned
  // per referencing query
  private val CreateViewRe =
    ("""(?is)^\s*CREATE\s+(OR\s+REPLACE\s+)?VIEW\s+""" +
      """(IF\s+NOT\s+EXISTS\s+)?([`"]?[\w.]+[`"]?)\s+AS\s+""" +
      """((?:SELECT|WITH)\b.*)$""").r
  private val FormatPrefixRe = """(?is)^FORMAT\s+(\w+)\s+(.*)$""".r
  private val EngineRe = """(?i)\bENGINE\s*=\s*(\w+)(\s*\(([^)]*)\))?""".r

  // `ENGINE = Replicated<Family>MergeTree('/zk', '{replica}'[, …])` —
  // quoted args + one paren nesting level (the Summing tuple)
  private val ReplicatedClauseRe =
    ("""(?is)\bENGINE\s*=\s*""" +
      """(Replicated\w*MergeTree\s*(?:\((?:[^()']|'[^']*'|\([^()]*\))*\))?)""").r

  /** Normalize a CREATE TABLE tail's Replicated engine spelling via
    * [[graft.core.Catalog.normalizeEngine]]; returns the verbatim
    * declared spec when it changed (recorded for SHOW CREATE). */
  private def stripReplicated(text: String): (String, Option[String]) =
    ReplicatedClauseRe.findFirstMatchIn(text) match {
      case None => (text, None)
      case Some(m) =>
        val declared = m.group(1).trim
        val norm = graft.core.Catalog.normalizeEngine(declared)
        (text.substring(0, m.start) + s"ENGINE = $norm" +
          text.substring(m.end), Some(declared))
    }
  private val OrderByRe = """(?is)\bORDER\s+BY\s*\(([^)]*)\)""".r
  private val OrderByBareRe = """(?is)\bORDER\s+BY\s+([\w`."]+)""".r

  private def unquoteArg(s: String): String =
    if (s.length >= 2 && s.startsWith("'") && s.endsWith("'"))
      s.substring(1, s.length - 1).replace("\\'", "'")
    else s

  def isWrite(sql: String): Boolean = {
    val t = sql.trim
    t.regionMatches(true, 0, "INSERT INTO", 0, "INSERT INTO".length) ||
      CtasRe.matches(t) || CreateEmptyRe.matches(t) ||
      CloneRe.matches(t) ||
      MvPrefixRe.matches(t) || CreateViewRe.matches(t)
  }

  /** Execute a write statement; returns a one-row status frame (the
    * statement analog of the ATTACH status row). */
  def run(spark: SparkSession, sql: String,
      macros: Map[String, String]): DataFrame = {
    import spark.implicits._
    sql match {
      case InsertRemoteRe(fn, argStr, rest) =>
        val lit = SqlLex(argStr).splitTopLevel(',')
          .map(_.trim).map(unquoteArg)
        require(lit.size >= 2,
          s"INSERT INTO FUNCTION $fn(…) needs (addresses, table) at least")
        // same argument grammar as the read spelling:
        // (addrs, db.table | db, table [, user[, password]])
        val (db, tbl, user, pw) =
          if (lit(1).contains(".")) {
            val Array(d, t) = lit(1).split("\\.", 2)
            (d, t, lit.lift(2).getOrElse("default"), lit.lift(3).getOrElse(""))
          } else if (lit.size >= 3)
            (lit(1), lit(2), lit.lift(3).getOrElse("default"),
              lit.lift(4).getOrElse(""))
          else ("default", lit(1), "default", "")
        val body = rest.trim
        require(body.nonEmpty,
          s"INSERT INTO FUNCTION $fn(…) takes a SELECT body")
        val df = selectDfGoverned(spark, body, macros)
        val n = graft.sources.RemoteNative.write(spark, lit(0), db, tbl, df,
          user, pw, secure = fn.equalsIgnoreCase("remotesecure"))
        Seq((s"${lit(0)}/$db.$tbl", "remote", n)).toDF("path", "format", "rows")
      case InsertFnRe(fn, path, fmt, rest) =>
        if (fn.equalsIgnoreCase("s3") &&
            (path.startsWith("http://") || path.startsWith("https://")))
          throw new IllegalArgumentException(
            s"INSERT INTO FUNCTION s3('$path', …): writing to an http(s) " +
              "endpoint is not supported — write to a local/file path and " +
              "publish it, or use INSERT INTO '<path>'")
        val (fmtName, body) = formatAndBody(Option(fmt), rest)
        val n = writeSelect(spark, body, macros, path, fmtName)
        Seq((path, fmtName, n)).toDF("path", "format", "rows")
      case InsertPathRe(path, rest) =>
        val (fmtName, body) = formatAndBody(None, rest)
        val n = writeSelect(spark, body, macros, path, fmtName)
        Seq((path, fmtName, n)).toDF("path", "format", "rows")
      case CloneRe(ifNot, rawName, rawSrc, engineTail) =>
        // synthesize the clone's own CREATE from the source's recorded
        // declaration — one code path (CreateEmpty) owns table
        // creation. A trailing `ENGINE = … [PARTITION BY …][ORDER BY
        // …]` (CH's engine-override clone) replaces the source's
        // layout clauses verbatim.
        val name = ProjectionSql.clean(rawName)
        val src = ProjectionSql.clean(rawSrc)
        if (ifNot != null && graft.core.Catalog.lookup(name).isDefined)
          return Seq((name, "already_exists", 0L))
            .toDF("table", "status", "rows")
        val t = graft.core.Catalog.lookup(src)
          .orElse(graft.core.Catalog.all.find(_.name.equalsIgnoreCase(src)))
          .getOrElse(throw new IllegalArgumentException(
            s"CREATE TABLE $name AS $src: no catalog table '$src' to " +
              "clone (only catalog-recorded tables carry the declared " +
              "DDL; use CREATE TABLE … AS SELECT * FROM <view> for " +
              "session views)"))
        require(t.schemaDdl.nonEmpty,
          s"CREATE TABLE $name AS $src: '$src' has no recorded column " +
            "DDL to clone")
        val tail = Option(engineTail).map(_.trim).filter(_.nonEmpty)
          .getOrElse {
            val ob =
              if (t.orderBy.nonEmpty) s"ORDER BY (${t.orderBy.mkString(", ")})"
              else "ORDER BY tuple()"
            val pb = t.partitionBy.map(e => s"PARTITION BY $e ").getOrElse("")
            val ttlC = t.ttl.map(e => s" TTL $e").getOrElse("")
            s"ENGINE = ${t.engineShown} $pb$ob$ttlC"
          }
        run(spark, s"CREATE TABLE $name (${t.schemaDdl}) $tail", macros)
      case CtasRe(rawName, middle, body) =>
        val name = rawName.stripPrefix("`").stripSuffix("`")
          .stripPrefix("\"").stripSuffix("\"")
        // temp views cannot be multi-part — refuse BEFORE executing the
        // SELECT, not after the data landed (review finding)
        require(!name.contains('.'),
          s"CREATE TABLE $name: multi-part names are not supported — " +
            "use a simple table name (registered as a session view)")
        val sortKey = parseOrderBy(middle)
        val partitionBy = parsePartitionBy(middle)
        val ttl = parseTtl(middle)
        val warehouse = graft.service.Settings.WarehouseDir(spark)
        val path = s"$warehouse/$name"
        graft.core.Catalog.requireEndpointFree(path, name, "CREATE TABLE")
        val df = selectDfGoverned(spark, body, macros)
        // Replicated* spellings normalize (replication args stripped —
        // driver-as-coordinator, same posture as ON CLUSTER) so
        // verbatim production DDL ports run; declared spelling kept
        // for SHOW CREATE
        val (middleN, declaredEngine) = stripReplicated(middle)
        val engineM = EngineRe.findFirstMatchIn(middleN)
        val engine = engineM.map(_.group(1).toLowerCase)
        val mtFamily = engine.exists(e =>
          e == "mergetree" || e == "replacingmergetree" ||
            e == "summingmergetree" || e == "collapsingmergetree" ||
            e == "versionedcollapsingmergetree" ||
            e == "aggregatingmergetree")
        require(partitionBy.isEmpty || mtFamily,
          s"CREATE TABLE $name: PARTITION BY needs a MergeTree-family " +
            "ENGINE (clustered parquet CTAS expresses layout via ORDER BY)")
        require(ttl.isEmpty || mtFamily,
          s"CREATE TABLE $name: TTL needs a MergeTree-family ENGINE " +
            "(TTL is merge-time retention; parquet CTAS has no merges)")
        if (mtFamily) {
          // ENGINE = MergeTree writes a REAL wide-part tree (VERDICT r9
          // task #8) — ATTACH-able by the q160 data path, locally or
          // over http. Executor-parallel since r11 (range-partitioned,
          // per-task part encode); plain CTAS (no ENGINE) keeps the
          // sorted-parquet path. ReplacingMergeTree(ver) writes the
          // SAME tree (rows multiversion; CH stores them too) — FINAL
          // reads and OPTIMIZE FINAL apply the dedup semantics.
          val engineSpec = engineM.map { m =>
            val word = m.group(1)
            Option(m.group(3)).map(a => s"$word(${a.trim})").getOrElse(word)
          }.getOrElse("MergeTree")
          if (engine.contains("replacingmergetree")) {
            require(sortKey.nonEmpty,
              s"CREATE TABLE $name: ReplacingMergeTree needs ORDER BY " +
                "(the sorting key IS the dedup key)")
            // args: (ver[, is_deleted]) — both must be SELECT columns;
            // more than two refuse (CH rejects them too, and silently
            // dropping one would misassign the version/delete roles)
            val eArgs = Option(engineM.get.group(3)).toSeq
              .flatMap(_.split(",").toSeq)
              .map(_.replaceAll("[`\"]", "").trim).filter(_.nonEmpty)
            require(eArgs.size <= 2,
              s"CREATE TABLE $name: ReplacingMergeTree takes at most " +
                s"(version[, is_deleted]) — got (${eArgs.mkString(", ")})")
            eArgs.foreach { v =>
              require(df.columns.contains(v),
                s"CREATE TABLE $name: ReplacingMergeTree engine " +
                  s"column '$v' is not in the SELECT")
            }
          }
          if (engine.exists(_.endsWith("collapsingmergetree"))) {
            // CollapsingMergeTree(sign) / VersionedCollapsing(sign, ver)
            // — columns must be in the SELECT; arity per engine (CH's
            // rule). The versionless form stores fine but FINAL refuses
            // (merge-order semantics), same posture as versionless
            // Replacing.
            require(sortKey.nonEmpty,
              s"CREATE TABLE $name: CollapsingMergeTree needs ORDER BY " +
                "(the sorting key IS the cancellation key)")
            val versioned = engine.contains("versionedcollapsingmergetree")
            val eArgs = Option(engineM.get.group(3)).toSeq
              .flatMap(_.split(",").toSeq)
              .map(_.replaceAll("[`\"]", "").trim).filter(_.nonEmpty)
            require(eArgs.size == (if (versioned) 2 else 1),
              s"CREATE TABLE $name: ${if (versioned)
                "VersionedCollapsingMergeTree takes (sign, version)"
              else "CollapsingMergeTree takes (sign)"} — " +
                s"got (${eArgs.mkString(", ")})")
            eArgs.foreach { c =>
              require(df.columns.contains(c),
                s"CREATE TABLE $name: engine column '$c' is not in the SELECT")
            }
          }
          if (engine.contains("summingmergetree")) {
            // SummingMergeTree((c1, …)) — the tuple names the columns
            // summed on merge; they must be SELECT columns outside the
            // sorting key (CH's rules; the full numeric/type check runs
            // against the derived DDL at FINAL/OPTIMIZE time)
            require(sortKey.nonEmpty,
              s"CREATE TABLE $name: SummingMergeTree needs ORDER BY " +
                "(the sorting key IS the merge key)")
            val eArgs = Option(engineM.get.group(3)).toSeq
              .flatMap(_.split(",").toSeq)
              .map(_.replaceAll("[`\"()]", "").trim).filter(_.nonEmpty)
            eArgs.foreach { c =>
              require(df.columns.contains(c),
                s"CREATE TABLE $name: SummingMergeTree summing " +
                  s"column '$c' is not in the SELECT")
              require(!sortKey.contains(c),
                s"CREATE TABLE $name: SummingMergeTree summing " +
                  s"column '$c' is in the sorting key — CH refuses " +
                  "summing key columns")
            }
          }
          val (rows, ddl) = graft.sources.mergetree.MergeTreeCtas
            .write(spark, df, path, sortKey, partitionBy = partitionBy)
          graft.sources.mergetree.MergeTree.read(spark, path, ddl, sortKey)
            .createOrReplaceTempView(name)
          graft.core.Catalog.recordCtas(name, path, sortKey, ddl,
            graft.core.Catalog.Kind.MergeTree, partitionBy, engineSpec, ttl,
            declaredEngine = declaredEngine.getOrElse(""))
          Seq((name, path, rows)).toDF("table", "path", "rows")
        } else {
          engine.filterNot(_ == "mergetree").foreach { e =>
            require(Set("log", "memory", "file", "tinylog").contains(e),
              s"CREATE TABLE … ENGINE = $e is not supported " +
                "(MergeTree writes a part tree; no ENGINE writes clustered parquet)")
          }
          if (sortKey.nonEmpty) Sinks.writeSorted(df, path, sortKey)
          else Sinks.writeParquet(df, path)
          val back = spark.read.parquet(path)
          back.createOrReplaceTempView(name)
          // EVERY CTAS records in the catalog (sorted or not): the
          // entry is how DROP TABLE knows it owns the warehouse
          // storage — unrecorded unsorted CTAS leaked its directory on
          // drop (review finding); a sort key additionally documents
          // the clustered-layout contract like an ATTACH would (W7)
          graft.core.Catalog.recordCtas(name, path, sortKey)
          Seq((name, path, back.count())).toDF("table", "path", "rows")
        }
      case CreateViewRe(orReplace, ifNot, rawName, body) =>
        val name = rawName.stripPrefix("`").stripSuffix("`")
          .stripPrefix("\"").stripSuffix("\"")
        require(!name.contains('.'),
          s"CREATE VIEW $name: multi-part names are not supported")
        if (spark.catalog.tableExists(name) && orReplace == null) {
          require(ifNot != null,
            s"CREATE VIEW $name: already exists (use OR REPLACE or " +
              "IF NOT EXISTS)")
          return Seq((name, "exists", 0L)).toDF("view", "target", "rows")
        }
        // the dialect-rewritten SELECT becomes the view's logical plan:
        // lazy (nothing materializes) and re-planned per query, so new
        // parts of an underlying table stay visible
        selectDf(spark, body, macros).createOrReplaceTempView(name)
        graft.core.MatViews.registerPlain(name, body.trim)
        Seq((name, "view", 0L)).toDF("view", "target", "rows")
      case CreateMvToRe(ifNot, rawName, rawTarget, body) =>
        createMv(spark, ifNot != null, rawName, Some(rawTarget),
          engineClause = "", populate = false, body, macros)
      case CreateMvEngineRe(ifNot, rawName, engineClause, populateKw, body) =>
        createMv(spark, ifNot != null, rawName, None,
          engineClause, populateKw != null, body, macros)
      case CreateEmptyRe(ifNot, rawName, colsDdl, engineSpec0, tail) =>
        // EMPTY MergeTree-family table from plain DDL: a partless tree
        // (format_version.txt marks the root), a catalog entry carrying
        // the declared columns/keys/partitioning/TTL, and an empty view
        // — INSERT then fills it, CH's own create-then-load flow
        val name = rawName.stripPrefix("`").stripSuffix("`")
          .stripPrefix("\"").stripSuffix("\"")
        require(!name.contains('.'),
          s"CREATE TABLE $name: multi-part names are not supported — " +
            "use a simple table name (registered as a session view)")
        if (graft.core.Catalog.lookup(name).isDefined) {
          require(ifNot != null,
            s"CREATE TABLE $name: table already exists " +
              "(use IF NOT EXISTS to no-op, or DROP TABLE first)")
          return Seq((name, "exists", 0L)).toDF("table", "path", "rows")
        }
        // Replicated* spellings normalize (replication args stripped)
        val engineSpecN = graft.core.Catalog.normalizeEngine(engineSpec0.trim)
        val declaredEngine0 =
          if (engineSpecN != engineSpec0.trim) engineSpec0.trim else ""
        val engineWord = engineSpecN.takeWhile(_ != '(').trim.toLowerCase
        require(engineWord.endsWith("mergetree"),
          s"CREATE TABLE $name: ENGINE = $engineSpec0 — empty-table DDL " +
            "supports the MergeTree family (use CREATE TABLE … AS SELECT " +
            "for materialized parquet tables)")
        val sortKey = parseOrderBy(tail)
        val partitionBy = parsePartitionBy(tail)
        val ttl = parseTtl(tail)
        val sampleBy = SampleByRe.findFirstMatchIn(tail).map(_.group(1).trim)
        val schema = graft.types.ChSchemaParser.parse(colsDdl)
        sortKey.foreach(k => require(schema.fieldNames.contains(k),
          s"CREATE TABLE $name: ORDER BY column '$k' is not declared"))
        val warehouse = graft.service.Settings.WarehouseDir(spark)
        val path = s"$warehouse/$name"
        graft.core.Catalog.requireEndpointFree(path, name, "CREATE TABLE")
        val empty = spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        graft.sources.mergetree.MergeTreeCtas.write(spark, empty, path,
          sortKey, declaredDdl = Some(colsDdl.trim), op = "CREATE TABLE",
          partitionBy = partitionBy)
        graft.sources.mergetree.MergeTree
          .read(spark, path, colsDdl.trim, sortKey)
          .createOrReplaceTempView(name)
        graft.core.Catalog.update(graft.core.Catalog.AttachedTable(
          name, colsDdl.trim, sortKey, Some(path), sampleBy = sampleBy,
          kind = graft.core.Catalog.Kind.MergeTree, ownsStorage = true,
          partitionBy = partitionBy, engine = engineSpecN, ttl = ttl,
          declaredEngine = declaredEngine0))
        Seq((name, path, 0L)).toDF("table", "path", "rows")
      case InsertTableFormatRe(rawName, colList, fmtName, data0) =>
        // The inline text parses against the TARGET's declared column
        // types and rides the same INSERT … SELECT path as every other
        // insert (part append on MergeTree, MV triggers, the
        // NULL-into-non-Nullable refusal). Inline data is driver-side
        // by nature — it IS the request body; bulk loads at scale use
        // the native door's streamed batches or INSERT … SELECT over
        // files.
        val name = ProjectionSql.clean(rawName)
        val fmt = fmtName.toLowerCase
        if (fmt == "values")
          // CH treats FORMAT Values as the VALUES literal spelling
          run(spark, s"INSERT INTO `$name` " +
            Option(colList).map(c => s"($c) ").getOrElse("") +
            s"VALUES ${data0.trim}", macros)
        else {
          val fields = spark.table(name).schema.fields
          val targets = Option(colList)
            .map(SqlLex(_).splitTopLevel(',')
              .map(ProjectionSql.clean).filter(_.nonEmpty).toSeq)
            .getOrElse(fields.map(_.name).toSeq)
          targets.foreach(c => require(fields.exists(_.name == c),
            s"INSERT INTO $name: unknown column '$c'"))
          // typed positional schema for header-less formats; WithNames
          // formats read their OWN header (all-string columns) and map
          // by name — the recursive INSERT … SELECT casts either way
          val schema = org.apache.spark.sql.types.StructType(
            targets.map(c => fields.find(_.name == c).get).toArray)
          import spark.implicits._
          // CSV rows may carry NEWLINES inside quoted fields (legal CH
          // CSV) — split quote-aware, not on every newline (review
          // finding); TSV escapes newlines as \n and JSONEachRow
          // strings escape them, so those stay line-split
          val rawRows =
            if (fmt.startsWith("csv")) splitCsvRows(data0)
            else data0.split("\r?\n").toIndexedSeq
          val lines = spark.createDataset(rawRows.filter(_.trim.nonEmpty))
          val withNames = fmt.endsWith("withnames")
          val parsed = fmt match {
            case "jsoneachrow" | "ndjson" =>
              // FAILFAST: malformed rows refuse the INSERT, as CH does
              // (PERMISSIVE would silently land NULL rows)
              spark.read.schema(schema)
                .option("mode", "FAILFAST").json(lines)
            case "csv" | "csvwithnames" =>
              val r = spark.read
                .option("sep", ",")
                .option("header", withNames)
                .option("nullValue", "\\N") // CH's text NULL
                .option("mode", "FAILFAST")
              (if (withNames) r else r.schema(schema)).csv(lines)
            case "tsv" | "tabseparated" |
                 "tsvwithnames" | "tabseparatedwithnames" =>
              // CH TSV escapes \t \n \r \\ \0 \b \f … WITHIN fields —
              // Spark's csv reader keeps them as literal two-char text
              // (advisor r14), so decode per field AFTER splitting on
              // real tabs, driver-side (inline data IS the request
              // body); unescaped `\N` is NULL. The all-string frame is
              // cast by the recursive INSERT … SELECT, same as the
              // WithNames csv path. Only truly EMPTY lines drop: a
              // line of one tab is a real all-empty-fields row (review
              // r15 — trim-filtering silently discarded it; CH inserts
              // ('',''))
              val all = rawRows.filter(_.nonEmpty)
              // a clean caller-fault message, not all.head's
              // NoSuchElementException (advisor r16; the CSV/JSON
              // paths already fail gracefully on empty data)
              require(!withNames || all.nonEmpty,
                s"INSERT INTO $name FORMAT $fmtName: inline data is empty")
              val colNames: Seq[String] =
                if (withNames) all.head.split("\t", -1)
                  .map(unescapeTsvField).toSeq
                else schema.fieldNames.toSeq
              val body = if (withNames) all.tail else all
              val rows = body.map { ln =>
                val cells = ln.split("\t", -1)
                require(cells.length == colNames.length,
                  s"INSERT INTO $name FORMAT $fmtName: row has " +
                    s"${cells.length} fields, expected ${colNames.length}")
                org.apache.spark.sql.Row.fromSeq(cells.toSeq.map(f =>
                  if (f == "\\N") null else unescapeTsvField(f)))
              }
              val strSchema = org.apache.spark.sql.types.StructType(
                colNames.map(n => org.apache.spark.sql.types.StructField(
                  n, org.apache.spark.sql.types.StringType)))
              spark.createDataFrame(
                new java.util.ArrayList[org.apache.spark.sql.Row](
                  scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
                strSchema)
            case other => throw new IllegalArgumentException(
              s"INSERT INTO $name FORMAT $other: inline data supports " +
                "CSV[WithNames], TSV[WithNames], JSONEachRow, Values")
          }
          targets.foreach(c => require(parsed.columns.contains(c),
            s"INSERT INTO $name FORMAT $fmtName: inline data has no " +
              s"column '$c' (found: ${parsed.columns.mkString(", ")})"))
          val df = parsed.select(targets.map(c =>
            org.apache.spark.sql.functions.col(s"`$c`")): _*)
          val view = s"__insert_inline_${java.util.UUID.randomUUID().toString.replace("-", "")}"
          df.createOrReplaceTempView(view)
          val cols = targets.map(c => s"`$c`").mkString(", ")
          try run(spark,
            s"INSERT INTO `$name` ($cols) SELECT $cols FROM $view", macros)
          finally spark.catalog.dropTempView(view)
        }
      case InsertValuesRe(rawName, colList, tuples) =>
        // CH's literal-rows spelling: rewrite to the INSERT … SELECT
        // part-append path via Spark's inline VALUES table, each value
        // cast to its column's own type; unmentioned columns take
        // their declared DEFAULT expr (r14) or NULL (the writer
        // refuses NULL into non-Nullable columns — CH semantics:
        // absent a declared default we never fake one)
        val name = ProjectionSql.clean(rawName)
        val fields = spark.table(name).schema.fields
        val targets = Option(colList)
          .map(SqlLex(_).splitTopLevel(',')
              .map(ProjectionSql.clean).filter(_.nonEmpty).toSeq)
          .getOrElse(fields.map(_.name).toSeq)
        targets.foreach(c => require(fields.exists(_.name == c),
          s"INSERT INTO $name: unknown column '$c'"))
        val aliases = targets.indices.map(i => s"__c$i")
        val defaults = declaredDefaults(name)
        val sel = fields.map(f =>
          unmentionedOrAlias(f, targets, defaults)).mkString(", ")
        run(spark,
          s"INSERT INTO $name SELECT $sel FROM VALUES $tuples " +
            s"AS __vals(${aliases.mkString(", ")})", macros)
      case InsertTableColsSelectRe(rawName, colList, body) =>
        // same column algebra as the VALUES form, with the SELECT as a
        // column-aliased subquery
        val name = ProjectionSql.clean(rawName)
        val fields = spark.table(name).schema.fields
        val targets = SqlLex(colList).splitTopLevel(',')
          .map(ProjectionSql.clean).filter(_.nonEmpty).toSeq
        targets.foreach(c => require(fields.exists(_.name == c),
          s"INSERT INTO $name: unknown column '$c'"))
        val aliases = targets.indices.map(i => s"__c$i")
        val defaults = declaredDefaults(name)
        val sel = fields.map(f =>
          unmentionedOrAlias(f, targets, defaults)).mkString(", ")
        run(spark,
          s"INSERT INTO $name SELECT $sel FROM ($body) " +
            s"AS __cols(${aliases.mkString(", ")})", macros)
      case InsertTableSelectRe(rawName, body) =>
        // a LOCAL MergeTree table accepts INSERT as a PART APPEND —
        // CH's own write model: every INSERT batch becomes a part,
        // merges come later (OPTIMIZE). Web-disk endpoints stay
        // read-only, like CH web disks.
        val name = ProjectionSql.clean(rawName)
        ProjectionSql.resolveMergeTree(spark, name) match {
          case Some((ep, ddl, orderBy)) =>
            graft.sources.mergetree.MergeTree
              .requireLocalForMaintenance(ep, "INSERT INTO")
            val df0 = selectDfGoverned(spark, body, macros)
            val table = spark.table(name)
            // the named view must BE the table — a column-pruned or
            // renamed view over the relation would append a part shaped
            // by the VIEW into the base tree (review finding); the
            // declared DDL is the authoritative column list
            val ddlFields = graft.types.ChSchemaParser.parse(ddl).fields
            require(table.schema.fields.map(_.name).toSeq ==
                ddlFields.map(_.name).toSeq,
              s"INSERT INTO $name: the view does not expose the table's " +
                "own columns (pruned/renamed view?) — INSERT through the " +
                "table view itself")
            require(df0.columns.length == ddlFields.length,
              s"INSERT INTO $name: the SELECT produces " +
                s"${df0.columns.length} columns; the table has " +
                s"${ddlFields.length}")
            // positional mapping, cast to the table's types — CH's
            // INSERT … SELECT contract. Rename FIRST (toDF is purely
            // positional), then cast: selecting by name broke on a
            // SELECT with duplicate output names (two bare literals)
            val renamed = df0.toDF(ddlFields.map(_.name).toIndexedSeq: _*)
            val aligned = renamed.select(ddlFields.map { f =>
              org.apache.spark.sql.functions.col(s"`${f.name}`")
                .cast(f.dataType).as(f.name)
            }.toIndexedSeq: _*)
            // a partitioned table's INSERT partitions its batch the
            // same way the CTAS did — the expression lives on the
            // catalog entry
            val pb = graft.core.Catalog.lookup(name)
              .orElse(graft.core.Catalog.all.find(_.name.equalsIgnoreCase(name)))
              .flatMap(_.partitionBy)
            val n = graft.sources.mergetree.MergeTreeCtas
              .appendPart(spark, aligned, ep, orderBy, declaredDdl = Some(ddl),
                partitionBy = pb)
            // materialized views fire on the BATCH (CH's insert-trigger
            // contract): each registered view's SELECT runs over the
            // just-inserted rows and appends into its target — which may
            // itself feed further views (cascade, cycle-capped)
            fireMatViews(spark, name, aligned, macros)
            Seq((name, "MergeTreePart", n)).toDF("path", "format", "rows")
          case None =>
            throw new IllegalArgumentException(
              s"INSERT INTO $name: only path targets and local MergeTree " +
                "tables are writable (INSERT INTO '<path>' [FORMAT f] " +
                "SELECT …, INSERT INTO FUNCTION file('<path>', '<format>') " +
                "SELECT …, or INSERT INTO <mergetree table> SELECT … — a " +
                "part append); parquet views and attached web-disk tables " +
                "are read-only, like CH web disks")
        }
      case InsertTableRe(target) =>
        throw new IllegalArgumentException(
          s"INSERT INTO $target: only path targets and local MergeTree " +
            "tables are writable (INSERT INTO '<path>' [FORMAT f] SELECT …, " +
            "INSERT INTO FUNCTION file('<path>', '<format>') SELECT …, or " +
            "INSERT INTO <mergetree table> SELECT …); attached web-disk " +
            "tables and views are read-only, like CH web disks")
      case other =>
        throw new IllegalArgumentException(s"unparseable write statement: ${other.take(120)}…")
    }
  }

  /** CTAS ORDER BY: `tuple()` (CH's canonical no-key spelling) → no
    * key; a parenthesized or bare COLUMN list → those columns;
    * expression keys (`ORDER BY cityHash64(id)`) refuse loudly — a
    * function name silently taken as a column would crash deep inside
    * the write (review finding). */
  /** `PARTITION BY <expr>` from the CTAS middle clause — the expression
    * runs up to the next clause keyword (ORDER BY / SAMPLE BY /
    * SETTINGS) or the end; parens inside (toYYYYMM(d)) are fine because
    * the stop condition is keyword-based, not paren-based. */
  private val PartitionByRe =
    """(?is)\bPARTITION\s+BY\s+((?:(?!\s+ORDER\s+BY\b|\s+SAMPLE\s+BY\b|\s+TTL\b|\s+SETTINGS\b).)+)""".r
  private def parsePartitionBy(middle: String): Option[String] =
    PartitionByRe.findFirstMatchIn(middle).map(_.group(1).trim)
      .filter(_.nonEmpty)
      // CH's own "unpartitioned" spelling (SHOW CREATE emits it)
      .filterNot(graft.sources.mergetree.MergeTreePartitioning.isNoPartition)

  /** Row-level `TTL <expr>` — merge-time retention, recorded in the
    * catalog and applied by OPTIMIZE / ALTER … MATERIALIZE TTL. */
  private val TtlRe =
    """(?is)\bTTL\s+((?:(?!\s+SETTINGS\b).)+)""".r
  private def parseTtl(middle: String): Option[String] =
    TtlRe.findFirstMatchIn(middle).map(_.group(1).trim).filter(_.nonEmpty)

  private val IdentRe = """[A-Za-z_][A-Za-z0-9_]*""".r
  private def parseOrderBy(middle: String): Seq[String] = {
    if ("""(?is)\bORDER\s+BY\s+tuple\s*\(\s*\)""".r.findFirstIn(middle).isDefined)
      return Nil
    val keys = OrderByRe.findFirstMatchIn(middle)
      .map(_.group(1).split(",").map(_.trim.stripPrefix("`").stripSuffix("`")).toSeq)
      .orElse(OrderByBareRe.findFirstMatchIn(middle)
        .map(m => Seq(m.group(1).stripPrefix("`").stripSuffix("`")
          .stripPrefix("\"").stripSuffix("\""))))
      .getOrElse(Nil)
    keys.filter(_.nonEmpty).map { k =>
      require(IdentRe.matches(k),
        s"CREATE TABLE … ORDER BY: expression key '$k' is not supported — " +
          "order by plain column names (compute the expression as a column " +
          "in the SELECT first), or ORDER BY tuple() for no key")
      k
    }
  }

  /** The declared `DEFAULT <expr>` per column of a catalog table —
    * CH-dialect expressions from the recorded DDL; INSERT's
    * column-subset paths splice them for unmentioned columns (the
    * generated SELECT runs back through the dialect front door, so
    * `now()`/`toUInt32(0)`-style defaults resolve). */
  private def declaredDefaults(name: String): Map[String, String] =
    graft.core.Catalog.lookup(name)
      .orElse(graft.core.Catalog.all.find(_.name.equalsIgnoreCase(name)))
      .filter(_.schemaDdl.nonEmpty)
      .map(t => scala.util.Try(
          graft.types.ChSchemaParser.columnDefs(t.schemaDdl)
            .flatMap { case (n, _, o) => o.get("default").map(n -> _) }
            .toMap)
        .getOrElse(Map.empty[String, String]))
      .getOrElse(Map.empty)

  /** One SELECT item for the column-subset INSERT algebra: a mentioned
    * column takes the aliased input positionally; an unmentioned one
    * takes its declared DEFAULT (cast to the column type) or NULL. */
  private def unmentionedOrAlias(
      f: org.apache.spark.sql.types.StructField,
      targets: Seq[String],
      defaults: Map[String, String]): String =
    targets.indexOf(f.name) match {
      case -1 => defaults.get(f.name) match {
        case Some(expr) => s"CAST(($expr) AS ${f.dataType.sql}) AS `${f.name}`"
        case None => s"CAST(NULL AS ${f.dataType.sql}) AS `${f.name}`"
      }
      case i => s"CAST(__c$i AS ${f.dataType.sql}) AS `${f.name}`"
    }

  /** Decode CH TSV field escapes (`\t \n \r \0 \b \f \a \v`; any other
    * `\x` keeps the char, dropping the backslash — CH's own escape
    * parser does the same, which also covers `\\ \' \"`). Called per
    * field AFTER the tab split: an escaped `\t` is literal
    * backslash-t text on the wire, never a real tab (advisor r14: the
    * csv reader stored the two-char sequences verbatim). */
  private def unescapeTsvField(s: String): String = {
    if (s.indexOf('\\') < 0) return s
    val b = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        i += 1
        s.charAt(i) match {
          case 'n' => b.append('\n')
          case 't' => b.append('\t')
          case 'r' => b.append('\r')
          case '0' => b.append('\u0000')
          case 'b' => b.append('\b')
          case 'f' => b.append('\f')
          case 'a' => b.append('\u0007')
          case 'v' => b.append('\u000B')
          case other => b.append(other)
        }
      } else b.append(c)
      i += 1
    }
    b.toString
  }

  /** Split CSV text into rows, treating newlines inside double-quoted
    * fields as data ("" is the escaped quote). */
  private def splitCsvRows(data: String): IndexedSeq[String] = {
    val rows = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var inQuote = false
    var i = 0
    val n = data.length
    while (i < n) {
      val c = data.charAt(i)
      if (c == '"') {
        if (inQuote && i + 1 < n && data.charAt(i + 1) == '"') {
          cur.append("\"\"") // escaped quote stays inside the field
          i += 1
        } else {
          inQuote = !inQuote
          cur.append(c)
        }
      } else if (!inQuote && (c == '\n' || c == '\r')) {
        if (c == '\r' && i + 1 < n && data.charAt(i + 1) == '\n') i += 1
        rows += cur.toString
        cur.clear()
      } else cur.append(c)
      i += 1
    }
    if (cur.nonEmpty) rows += cur.toString
    rows.toIndexedSeq
  }

  private def formatAndBody(explicit: Option[String], rest: String): (String, String) =
    explicit match {
      case Some(f) => (normalizeFormat(f), rest.trim)
      case None => rest.trim match {
        case FormatPrefixRe(f, body) => (normalizeFormat(f), body)
        case body => ("Parquet", body)
      }
    }

  private def normalizeFormat(f: String): String = f.toLowerCase match {
    case "parquet" => "Parquet"
    case "csvwithnames" => "CSVWithNames"
    case "csv" => "CSV"
    case "tsvwithnames" | "tabseparatedwithnames" => "TSVWithNames"
    case "tsv" | "tabseparated" => "TSV"
    case "jsoneachrow" | "ndjson" => "JSONEachRow"
    case other => throw new IllegalArgumentException(
      s"unsupported INSERT format '$other' (Parquet, CSV[WithNames], " +
        "TSV[WithNames], JSONEachRow)")
  }

  private def selectDf(spark: SparkSession, body: String,
      macros: Map[String, String]): DataFrame = {
    val r = ChSql.rewrite(spark, body, macros)
    ChSql.applySettings(spark, r.settings)
    ChSql.finish(spark, r)
  }

  /** [[selectDf]] + the `max_bytes_to_read` scan gate — for the
    * WRITE-DRIVING selects only (CH applies the read budget to
    * INSERT … SELECT / CTAS reads; review r14 round 2: putting the
    * gate inside selectDf itself made CREATE VIEW — lazy, zero-scan
    * DDL — refuse too). */
  private def selectDfGoverned(spark: SparkSession, body: String,
      macros: Map[String, String]): DataFrame = {
    val df = selectDf(spark, body, macros)
    graft.service.Governance.checkScanBudget(df)
    df
  }

  /** Write and return the row count. Parquet counts the WRITTEN footers
    * (a metadata job). Text formats persist the frame first so the
    * reported count and the written bytes come from ONE execution — a
    * separate count() run could disagree with the write for any
    * non-deterministic SELECT, and paid a second source scan even for
    * deterministic ones (review finding). */
  private def writeSelect(spark: SparkSession, body: String,
      macros: Map[String, String], path: String, fmt: String): Long = {
    val df = selectDfGoverned(spark, body, macros)
    val gz = if (path.endsWith(".gz")) Some("gzip") else None
    fmt match {
      case "Parquet" =>
        Sinks.writeParquet(df, path)
        spark.read.parquet(path).count()
      case _ =>
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val n = df.count()
          fmt match {
            case "CSVWithNames" | "CSV" =>
              Sinks.writeCsv(df, path, header = fmt == "CSVWithNames", compression = gz)
            case "TSVWithNames" | "TSV" =>
              val w = df.write.mode(SaveMode.Overwrite)
                .option("header", (fmt == "TSVWithNames").toString)
                .option("sep", "\t").option("escape", "\"")
              gz.foreach(c => w.option("compression", c))
              w.csv(path)
            case "JSONEachRow" =>
              Sinks.writeJsonEachRow(df, path, compression = gz)
            case other => throw new IllegalArgumentException(s"format $other")
          }
          n
        } finally df.unpersist(blocking = false)
    }
  }

  // ---- materialized views (CH insert triggers) ----

  private val MvFromRe =
    """(?i)\b(FROM|JOIN)\s+([A-Za-z_][\w]*)""".r

  /** The single named table an MV's SELECT reads — CH's own contract
    * (a view triggers on ONE source; joined dimensions are allowed but
    * the trigger binds to the first FROM). Quote-aware: a string
    * literal containing "from x" never counts. */
  private def mvSource(select: String): String = {
    var found: Option[String] = None
    SqlLex(select).replace(MvFromRe) { m =>
      if (found.isEmpty && m.group(1).equalsIgnoreCase("FROM"))
        found = Some(m.group(2))
      None
    }
    found.getOrElse(throw new IllegalArgumentException(
      "CREATE MATERIALIZED VIEW: the SELECT must read FROM a named " +
        "table (the view's insert-trigger source)"))
  }

  private def createMv(spark: SparkSession, ifNot: Boolean,
      rawName: String, rawTarget: Option[String], engineClause: String,
      populate: Boolean, body: String,
      macros: Map[String, String]): DataFrame = {
    import spark.implicits._
    def clean(s: String) = s.trim.stripPrefix("`").stripSuffix("`")
      .stripPrefix("\"").stripSuffix("\"")
    val name = clean(rawName)
    require(!name.contains('.'),
      s"CREATE MATERIALIZED VIEW $name: multi-part names are not supported")
    if (graft.core.MatViews.lookup(name).isDefined) {
      require(ifNot,
        s"CREATE MATERIALIZED VIEW $name: already exists " +
          "(use IF NOT EXISTS to no-op, or DROP TABLE first)")
      return Seq((name, "exists", 0L)).toDF("view", "target", "rows")
    }
    val source = mvSource(body)
    require(spark.catalog.tableExists(source),
      s"CREATE MATERIALIZED VIEW $name: source table '$source' does not exist")
    val (target, inner) = rawTarget match {
      case Some(t) =>
        val tn = clean(t)
        require(spark.catalog.tableExists(tn),
          s"CREATE MATERIALIZED VIEW $name TO $tn: target table does " +
            "not exist — create it first (CH requires this too)")
        (tn, false)
      case None =>
        // ENGINE form: the view owns a backing table, built partless
        // from the SELECT's own schema (CH's `.inner.<uuid>` analog);
        // POPULATE backfills it from the pre-existing source rows
        val tn = s"${name}__inner"
        require(graft.core.Catalog.lookup(tn).isEmpty,
          s"CREATE MATERIALIZED VIEW $name: backing table '$tn' already exists")
        run(spark,
          s"CREATE TABLE $tn $engineClause AS " +
            s"SELECT * FROM ($body) __mv_shape WHERE 1 = 0", macros)
        if (populate)
          run(spark, s"INSERT INTO $tn $body", macros)
        (tn, true)
    }
    graft.core.MatViews.register(
      graft.core.MatViews.MatView(name, source, target, body, inner))
    // reading FROM the view reads its target (CH's contract)
    spark.table(target).createOrReplaceTempView(name)
    Seq((name, target, 0L)).toDF("view", "target", "rows")
  }

  /** Run every view registered on `source` over the just-inserted
    * batch, appending results into the views' targets. The batch is
    * exposed under a unique temp-view name and the view's SELECT has
    * its source token substituted (quote-aware) — CH evaluates the
    * trigger over the inserted block, never the whole table. */
  private def fireMatViews(spark: SparkSession, source: String,
      batch: DataFrame, macros: Map[String, String]): Unit = {
    val mvs = graft.core.MatViews.onSource(source)
    if (mvs.isEmpty) return
    val batchView = s"__mv_batch_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    batch.createOrReplaceTempView(batchView)
    try mvs.foreach { mv =>
      graft.core.MatViews.cascade(mv.name) {
        // CH substitutes ONLY the trigger (FROM) side: a JOIN back to
        // the source reads the FULL table (dedup-against-history MV
        // shapes depend on it), so only the first FROM occurrence
        // becomes the batch; JOIN-side and later FROM references keep
        // reading the table (advisor r12 — the old FROM|JOIN regex
        // silently computed self-join MVs over the batch twice).
        val re = ("""(?i)\b(FROM)\s+(""" +
          java.util.regex.Pattern.quote(mv.source) + """)\b""").r
        var substituted = false
        val rewritten = SqlLex(mv.select).replace(re) { m =>
          if (substituted) None
          else { substituted = true; Some(s"${m.group(1)} $batchView") }
        }
        require(substituted,
          s"MATERIALIZED VIEW ${mv.name}: trigger source '${mv.source}' " +
            "has no FROM occurrence in the view's SELECT — cannot " +
            "scope the insert trigger to the batch")
        run(spark, s"INSERT INTO ${mv.target} $rewritten", macros)
      }
    } finally spark.catalog.dropTempView(batchView)
  }
}
