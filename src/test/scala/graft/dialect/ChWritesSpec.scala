package graft.dialect

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** SQL write front door (S11 statement forms): INSERT INTO path /
  * FUNCTION file(…), format surface, CTAS with ORDER BY clustering,
  * and the read-only refusals. */
class ChWritesSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark

  private def freshView(): Unit = {
    import spark.implicits._
    Seq((1L, "a", 10.5), (2L, "b", 20.0), (3L, "a", 30.25), (4L, "c", 5.0))
      .toDF("id", "k", "v").createOrReplaceTempView("wsrc")
  }

  test("INSERT INTO '<path>' FORMAT Parquet writes the SELECT and reports rows") {
    freshView()
    val out = Files.createTempDirectory("graft_w").toString + "/p"
    val st = ChSql.sql(spark,
      s"INSERT INTO '$out' FORMAT Parquet SELECT id, k, v FROM wsrc WHERE id % 2 = 1")
    val row = st.collect().head
    assert(row.getString(0) == out && row.getString(1) == "Parquet" && row.getLong(2) == 2L)
    val back = spark.read.parquet(out).orderBy("id").collect()
    assert(back.map(_.getLong(0)).toSeq == Seq(1L, 3L))
  }

  test("INSERT INTO FUNCTION file(path, fmt) — CH's spelling; CSVWithNames/JSONEachRow formats") {
    freshView()
    val csv = Files.createTempDirectory("graft_w").toString + "/c"
    ChSql.sql(spark,
      s"INSERT INTO FUNCTION file('$csv', 'CSVWithNames') SELECT id, k FROM wsrc").collect()
    val backCsv = spark.read.option("header", "true").csv(csv)
    assert(backCsv.count() == 4 && backCsv.columns.toSeq == Seq("id", "k"))
    val jl = Files.createTempDirectory("graft_w").toString + "/j"
    ChSql.sql(spark,
      s"INSERT INTO FUNCTION file('$jl', 'JSONEachRow') SELECT id, v FROM wsrc").collect()
    assert(spark.read.json(jl).count() == 4)
  }

  test("the SELECT body goes through the dialect (count(), combinators, SETTINGS)") {
    freshView()
    val out = Files.createTempDirectory("graft_w").toString + "/d"
    ChSql.sql(spark,
      s"INSERT INTO '$out' SELECT k, count() AS n, sumIf(v, id % 2 = 1) AS s FROM wsrc GROUP BY k").collect()
    val back = spark.read.parquet(out).orderBy("k").collect()
    assert(back.length == 3)
    assert(back(0).getAs[Long]("n") == 2L && back(0).getAs[Double]("s") == 40.75)
  }

  test("CREATE TABLE … ENGINE=MergeTree ORDER BY … AS SELECT writes REAL parts") {
    freshView()
    val wh = Files.createTempDirectory("graft_wh").toString
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    try {
      val st = ChSql.sql(spark,
        "CREATE TABLE ctas_t ENGINE = MergeTree ORDER BY (k) AS SELECT k, v FROM wsrc")
      val row = st.collect().head
      assert(row.getString(0) == "ctas_t" && row.getLong(2) == 4L)
      // a REAL part tree landed (VERDICT r9 task #8): 4 rows is far
      // under the granularity, so CH's small-part rule applies — a
      // COMPACT part (one interleaved data.bin + data.mrk3), plus
      // primary.idx and the .index listing that makes it servable
      // over http
      val tree = new java.io.File(s"$wh/ctas_t/all_1_1_0")
      assert(tree.isDirectory, s"expected a part dir under $wh/ctas_t")
      val names = tree.listFiles().map(_.getName).toSet
      assert(names.contains("data.bin") && names.contains("data.mrk3"))
      assert(names.contains("columns.txt") && names.contains("primary.idx"))
      assert(new java.io.File(s"$wh/ctas_t/.index").isFile)
      // registered: queryable through the dialect, with catalog sort key
      val q = ChSql.sql(spark, "SELECT k, count() AS n FROM ctas_t GROUP BY k ORDER BY k")
      assert(q.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
        Seq(("a", 2L), ("b", 1L), ("c", 1L)))
      assert(graft.core.Catalog.sortKey("ctas_t") == Seq("k"))
      // ATTACH-able by the q160 data path: the tree reads back through
      // an independent ATTACH and hash-matches the source
      graft.core.Catalog.attach(spark,
        s"""ATTACH TABLE ctas_back (`k` String, `v` Float64)
           |ENGINE = MergeTree ORDER BY (k)
           |SETTINGS disk = disk(type = web, endpoint = '$wh/ctas_t')""".stripMargin)
      val back = spark.table("ctas_back").orderBy("k", "v")
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
      assert(back == Seq(("a", 10.5), ("a", 30.25), ("b", 20.0), ("c", 5.0)))
      // plain CTAS (no ENGINE) keeps the parquet path
      ChSql.sql(spark,
        "CREATE TABLE ctas_pq ORDER BY (k) AS SELECT k, v FROM wsrc").collect()
      assert(new java.io.File(s"$wh/ctas_pq").listFiles()
        .exists(_.getName.endsWith(".parquet")))
    } finally spark.conf.unset(graft.service.Settings.WarehouseDir.name)
  }

  test("INSERT INTO a local MergeTree table appends parts (CH's part-per-batch write model)") {
    freshView()
    val wh = Files.createTempDirectory("graft_wh_ins").toString
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    try {
      ChSql.sql(spark,
        "CREATE TABLE ins_mt ENGINE = MergeTree ORDER BY (k) AS SELECT k, v FROM wsrc")
      assert(graft.sources.mergetree.MergeTree.partsInfo(s"$wh/ins_mt").size == 1)
      // positional mapping + cast to the table's types (v: Int → Float64)
      val st = ChSql.sql(spark,
        "INSERT INTO ins_mt SELECT 'z' AS a, 99 AS b").collect().head
      assert(st.getString(1) == "MergeTreePart" && st.getLong(2) == 1L)
      assert(graft.sources.mergetree.MergeTree.partsInfo(s"$wh/ins_mt").size == 2)
      val back = spark.table("ins_mt").orderBy("k", "v").collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSeq
      assert(back == Seq(("a", 10.5), ("a", 30.25), ("b", 20.0), ("c", 5.0), ("z", 99.0)))
      // the append is exactly the incremental-refresh delta: a
      // projection on the table re-materializes by merging the new part
      spark.conf.set("spark.graft.projectionDir",
        Files.createTempDirectory("graft_wh_ins_proj").toString)
      ChSql.sql(spark,
        "ALTER TABLE ins_mt ADD PROJECTION ins_p (SELECT k, sum(v), count() GROUP BY k)")
      ChSql.sql(spark, "INSERT INTO ins_mt SELECT 'z', 1").collect()
      val mat = ChSql.sql(spark,
        "ALTER TABLE ins_mt MATERIALIZE PROJECTION ins_p").collect().head
      assert(mat.getString(1) == "merged_incremental")
      // an empty SELECT appends nothing (no empty part)
      val none = ChSql.sql(spark,
        "INSERT INTO ins_mt SELECT k, v FROM wsrc WHERE id < 0").collect().head
      assert(none.getLong(2) == 0L)
      assert(graft.sources.mergetree.MergeTree.partsInfo(s"$wh/ins_mt").size == 3)
      // a PRUNED/renamed view over the table must not append a
      // view-shaped part into the base tree (review finding)
      spark.table("ins_mt").select("k").createOrReplaceTempView("ins_mt_k")
      val ev = intercept[IllegalArgumentException] {
        ChSql.sql(spark, "INSERT INTO ins_mt_k SELECT 'q'")
      }
      assert(ev.getMessage.contains("own columns"), ev.getMessage)
    } finally spark.conf.unset(graft.service.Settings.WarehouseDir.name)
  }

  test("INSERT INTO t FORMAT <fmt> with INLINE data: CSV/TSV/JSONEachRow/Values (CH's HTTP bulk-load)") {
    val wh = Files.createTempDirectory("graft_wh_inline").toString
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    try {
      ChSql.sql(spark, "CREATE TABLE inline_mt (id Int64, s String, " +
        "v Float64) ENGINE = MergeTree ORDER BY id")
      // CSV, positional against the declared types
      ChSql.sql(spark, "INSERT INTO inline_mt FORMAT CSV\n1,a,1.5\n2,b,2.5")
      // TSV with \N null into a column subset (v takes NULL → refuses?
      // v is non-Nullable in CH terms but the Spark view is nullable —
      // give all three columns)
      ChSql.sql(spark, "INSERT INTO inline_mt FORMAT TSV\n3\tc\t3.5")
      // JSONEachRow by name
      ChSql.sql(spark, "INSERT INTO inline_mt FORMAT JSONEachRow\n" +
        """{"id": 4, "s": "d", "v": 4.5}""")
      // CSVWithNames maps by HEADER name, any column order
      ChSql.sql(spark,
        "INSERT INTO inline_mt FORMAT CSVWithNames\nv,id,s\n5.5,5,e")
      // FORMAT Values = the literal spelling
      ChSql.sql(spark, "INSERT INTO inline_mt FORMAT Values (6, 'f', 6.5)")
      // column-subset insert: unmentioned column takes NULL → the
      // Spark-side table accepts it (declared nullable on the view)
      val got = ChSql.sql(spark,
        "SELECT id, s, v FROM inline_mt ORDER BY id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
      assert(got == Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "c", 3.5),
        (4L, "d", 4.5), (5L, "e", 5.5), (6L, "f", 6.5)), got)
      // a NEWLINE inside a quoted CSV field is data, not a row break
      // (review r14: a naive line split broke the quoted field)
      ChSql.sql(spark,
        "INSERT INTO inline_mt FORMAT CSV\n7,\"two\nlines\",7.5")
      val multi = ChSql.sql(spark,
        "SELECT s FROM inline_mt WHERE id = 7").collect()
      assert(multi.head.getString(0) == "two\nlines", multi.toSeq)
      // TSV escape sequences decode per CH's text format: \t \n \\
      // inside a field are DATA, not two-char literals (advisor r14);
      // \N stays NULL-only when unescaped
      ChSql.sql(spark,
        "INSERT INTO inline_mt FORMAT TSV\n8\tta\\tb nl\\nc bs\\\\d\t8.5")
      val esc = ChSql.sql(spark,
        "SELECT s FROM inline_mt WHERE id = 8").collect()
      assert(esc.head.getString(0) == "ta\tb nl\nc bs\\d", esc.toSeq)
      // TSVWithNames: the header maps by NAME in any order, and field
      // escapes decode in the body rows
      ChSql.sql(spark,
        "INSERT INTO inline_mt FORMAT TSVWithNames\nv\tid\ts\n9.5\t9\tz\\tz")
      val byName = ChSql.sql(spark,
        "SELECT s, v FROM inline_mt WHERE id = 9").collect()
      assert(byName.head.getString(0) == "z\tz" &&
        byName.head.getDouble(1) == 9.5, byName.toSeq)
      // malformed inline rows refuse the INSERT (FAILFAST, as CH)
      intercept[Exception] {
        ChSql.sql(spark,
          "INSERT INTO inline_mt FORMAT CSV\nnot_a_number,x,y")
      }
      // TSV arity mismatch refuses too
      intercept[Exception] {
        ChSql.sql(spark, "INSERT INTO inline_mt FORMAT TSV\n10\tonly_two")
      }
      // an all-empty-fields TSV row is DATA, not a blank line (review
      // r15: trim-filtering silently discarded it; CH inserts '')
      ChSql.sql(spark, "CREATE TABLE inline_tsv_empty (a String, b String) " +
        "ENGINE = MergeTree ORDER BY a")
      ChSql.sql(spark, "INSERT INTO inline_tsv_empty FORMAT TSV\n\t")
      val emp = ChSql.sql(spark,
        "SELECT count() AS n FROM inline_tsv_empty WHERE a = '' AND b = ''")
        .collect()
      assert(emp.head.getLong(0) == 1L, emp.toSeq)
      ChSql.sql(spark, "DROP TABLE inline_tsv_empty")
      // unknown inline format refuses with guidance
      val e = intercept[IllegalArgumentException] {
        ChSql.sql(spark, "INSERT INTO inline_mt FORMAT Arrow\nxx")
      }
      assert(e.getMessage.contains("inline data supports"), e.getMessage)
      ChSql.sql(spark, "DROP TABLE inline_mt")
    } finally spark.conf.unset(graft.service.Settings.WarehouseDir.name)
  }

  test("CREATE TABLE t2 AS t1 clones schema, engine, keys, partitioning — empty") {
    val wh = Files.createTempDirectory("graft_wh_clone").toString
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    try {
      ChSql.sql(spark, "CREATE TABLE clone_src (d Date, k Int64, " +
        "v Float64 DEFAULT 1.5) ENGINE = ReplacingMergeTree(k) " +
        "PARTITION BY toYear(d) ORDER BY k")
      ChSql.sql(spark, "INSERT INTO clone_src (d, k) VALUES ('2024-03-01', 1)")
      ChSql.sql(spark, "CREATE TABLE clone_dst AS clone_src")
      // empty, same shape — DESCRIBE matches, engine/keys carried
      val s = ChSql.sql(spark, "DESCRIBE TABLE clone_src").collect().toSeq
      val d = ChSql.sql(spark, "DESCRIBE TABLE clone_dst").collect().toSeq
      assert(s.map(_.toSeq) == d.map(_.toSeq), (s, d))
      assert(ChSql.sql(spark, "SELECT count() FROM clone_dst")
        .collect().head.getLong(0) == 0L)
      val dst = graft.core.Catalog.lookup("clone_dst").get
      assert(dst.engineShown == "ReplacingMergeTree(k)", dst.engineShown)
      assert(dst.partitionBy.contains("toYear(d)"), dst.partitionBy)
      assert(dst.orderBy == Seq("k"), dst.orderBy)
      // the clone accepts INSERT with the inherited defaults
      ChSql.sql(spark, "INSERT INTO clone_dst (d, k) VALUES ('2025-01-02', 7)")
      val back = ChSql.sql(spark,
        "SELECT k, v FROM clone_dst").collect().head
      assert(back.getLong(0) == 7L && back.getDouble(1) == 1.5)
      // IF NOT EXISTS is a no-op on an existing name
      ChSql.sql(spark, "CREATE TABLE IF NOT EXISTS clone_dst AS clone_src")
      // the engine-override clone spelling replaces the layout clauses
      ChSql.sql(spark,
        "CREATE TABLE clone_plain AS clone_src ENGINE = MergeTree ORDER BY k")
      val cp = graft.core.Catalog.lookup("clone_plain").get
      assert(cp.engineShown == "MergeTree", cp.engineShown)
      assert(cp.partitionBy.isEmpty, cp.partitionBy)
      ChSql.sql(spark, "DROP TABLE clone_plain")
      // unknown source refuses with guidance
      val e = intercept[IllegalArgumentException] {
        ChSql.sql(spark, "CREATE TABLE c2 AS no_such_table")
      }
      assert(e.getMessage.contains("clone"), e.getMessage)
      ChSql.sql(spark, "DROP TABLE clone_dst")
      ChSql.sql(spark, "DROP TABLE clone_src")
    } finally spark.conf.unset(graft.service.Settings.WarehouseDir.name)
  }

  test("DEFAULT column expressions: declared in DDL, applied by column-subset INSERTs") {
    val wh = Files.createTempDirectory("graft_wh_default").toString
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    try {
      ChSql.sql(spark, "CREATE TABLE def_mt (id Int64, " +
        "s String DEFAULT 'none' COMMENT 'label', " +
        "v Float64 DEFAULT 2.5 CODEC(ZSTD(3)), " +
        "w Float64 DEFAULT toFloat64(4) * 2) ENGINE = MergeTree ORDER BY id")
      // VALUES with a column subset: s/v/w take their declared
      // defaults (self-contained CH-dialect expressions; a default
      // referencing a SIBLING column refuses at analysis — loud, the
      // documented limitation — rather than faking CH's block-scoped
      // default resolution)
      ChSql.sql(spark, "INSERT INTO def_mt (id) VALUES (1)")
      // inline-data INSERT subset rides the same algebra
      ChSql.sql(spark, "INSERT INTO def_mt (id, s) FORMAT CSV\n2,x")
      val got = ChSql.sql(spark,
        "SELECT id, s, v, w FROM def_mt ORDER BY id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3))).toSeq
      assert(got == Seq((1L, "none", 2.5, 8.0), (2L, "x", 2.5, 8.0)), got)
      // DESCRIBE surfaces the declared default/comment/codec
      val d = ChSql.sql(spark, "DESCRIBE TABLE def_mt").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2),
          r.getString(3), r.getString(4), r.getString(5)))
      assert(d.exists(r => r._1 == "s" && r._2 == "String" &&
        r._3 == "DEFAULT" && r._4 == "'none'" && r._5 == "label"), d.toSeq)
      assert(d.exists(r => r._1 == "v" && r._3 == "DEFAULT" &&
        r._6 == "CODEC(ZSTD(3))"), d.toSeq)
      // unsupported column options refuse loudly, never silently drop
      val e = intercept[Exception] {
        ChSql.sql(spark, "CREATE TABLE bad_mat (id Int64, " +
          "m Int64 MATERIALIZED id * 2) ENGINE = MergeTree ORDER BY id")
      }
      assert(e.getMessage.contains("MATERIALIZED"), e.getMessage)
      ChSql.sql(spark, "DROP TABLE def_mt")
    } finally spark.conf.unset(graft.service.Settings.WarehouseDir.name)
  }

  test("INSERT INTO a view/table name refuses with guidance; s3 http refuses") {
    freshView()
    val e = intercept[IllegalArgumentException] {
      ChSql.sql(spark, "INSERT INTO wsrc SELECT 1, 'x', 2.0")
    }
    assert(e.getMessage.contains("read-only"))
    val e2 = intercept[IllegalArgumentException] {
      ChSql.sql(spark, "INSERT INTO FUNCTION s3('http://example.invalid/x', 'Parquet') SELECT 1")
    }
    assert(e2.getMessage.contains("http"))
  }

  test("unsupported format refuses loudly") {
    freshView()
    val e = intercept[IllegalArgumentException] {
      ChSql.sql(spark, "INSERT INTO '/tmp/graft_w_nope' FORMAT Arrow SELECT id FROM wsrc")
    }
    assert(e.getMessage.toLowerCase.contains("format"))
  }
}
