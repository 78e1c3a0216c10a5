package graft.dialect

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** ENGINE = ReplacingMergeTree(ver): FINAL's real dedup semantics —
  * raw multiversion rows without the modifier, one-row-per-key highest
  * version with it, physical collapse via OPTIMIZE FINAL, and the
  * deterministic-engine refusal for the versionless form. */
class ReplacingMergeTreeSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark

  private def fresh(): Unit = {
    import spark.implicits._
    Seq((1L, "a", 0L, 10.0), (2L, "b", 0L, 20.0), (3L, "c", 0L, 30.0))
      .toDF("id", "k", "ver", "v").createOrReplaceTempView("rsrc")
    Seq((1L, "a2", 1L, 11.0), (3L, "c2", 2L, 33.0))
      .toDF("id", "k", "ver", "v").createOrReplaceTempView("rupd")
  }

  test("FINAL dedups by sorting key on the highest version; raw reads stay multiversion") {
    fresh()
    val wh = Files.createTempDirectory("graft_repl").toString
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    try {
      ChSql.sql(spark,
        "CREATE TABLE repl_t ENGINE = ReplacingMergeTree(ver) ORDER BY (id) AS " +
          "SELECT id, k, ver, v FROM rsrc").collect()
      ChSql.sql(spark,
        "INSERT INTO repl_t SELECT id, k, ver, v FROM rupd").collect()
      // WITHOUT FINAL: all five version rows are visible (CH contract)
      assert(ChSql.sql(spark, "SELECT count() AS n FROM repl_t")
        .collect().head.getLong(0) == 5L)
      // WITH FINAL: one row per id, the highest ver
      val fin = ChSql.sql(spark,
        "SELECT id, k, v FROM repl_t FINAL ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
      assert(fin == Seq((1L, "a2", 11.0), (2L, "b", 20.0), (3L, "c2", 33.0)))
      // FINAL composes with aggregation
      assert(ChSql.sql(spark,
        "SELECT CAST(round(sum(v)) AS BIGINT) AS s FROM repl_t FINAL")
        .collect().head.getLong(0) == 64L)
      // OPTIMIZE FINAL physically collapses the versions
      ChSql.sql(spark, "OPTIMIZE TABLE repl_t FINAL").collect()
      assert(ChSql.sql(spark, "SELECT count() AS n FROM repl_t")
        .collect().head.getLong(0) == 3L)
      assert(ChSql.sql(spark,
        "SELECT CAST(round(sum(v)) AS BIGINT) AS s FROM repl_t")
        .collect().head.getLong(0) == 64L)
      // SHOW CREATE renders the declared engine
      val create = ShowSql.run(spark, "SHOW CREATE TABLE repl_t")
        .collect().head.getString(0)
      assert(create.contains("ReplacingMergeTree(ver)"), create)
      ChSql.sql(spark, "DROP TABLE repl_t").collect()
    } finally spark.conf.unset(graft.service.Settings.WarehouseDir.name)
  }

  test("an independently ATTACHed Replacing tree carries the engine; versionless FINAL refuses") {
    fresh()
    val wh = Files.createTempDirectory("graft_repl2").toString
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    try {
      ChSql.sql(spark,
        "CREATE TABLE repl_src ENGINE = ReplacingMergeTree(ver) ORDER BY (id) AS " +
          "SELECT id, k, ver, v FROM rsrc").collect()
      ChSql.sql(spark,
        "INSERT INTO repl_src SELECT id, k, ver, v FROM rupd").collect()
      graft.core.Catalog.attach(spark,
        s"""ATTACH TABLE repl_back (`id` Int64, `k` String, `ver` Int64, `v` Float64)
           |ENGINE = ReplacingMergeTree(ver) ORDER BY (id)
           |SETTINGS disk = disk(type = web, endpoint = '$wh/repl_src')""".stripMargin)
      assert(ChSql.sql(spark, "SELECT count() AS n FROM repl_back FINAL")
        .collect().head.getLong(0) == 3L)
      // versionless Replacing: FINAL refuses with guidance (CH keeps an
      // order-of-merges-dependent row; a deterministic engine won't fake it)
      graft.core.Catalog.attach(spark,
        s"""ATTACH TABLE repl_nover (`id` Int64, `k` String, `ver` Int64, `v` Float64)
           |ENGINE = ReplacingMergeTree ORDER BY (id)
           |SETTINGS disk = disk(type = web, endpoint = '$wh/repl_src')""".stripMargin)
      val e = intercept[IllegalArgumentException] {
        ChSql.sql(spark, "SELECT count() AS n FROM repl_nover FINAL").collect()
      }
      assert(e.getMessage.contains("version column"), e.getMessage)
      Seq("repl_back", "repl_nover").foreach { n =>
        graft.core.Catalog.detach(n); spark.catalog.dropTempView(n)
      }
      ChSql.sql(spark, "DROP TABLE repl_src").collect()
    } finally spark.conf.unset(graft.service.Settings.WarehouseDir.name)
  }

  test("ReplacingMergeTree(ver, is_deleted): FINAL hides deleted rows; OPTIMIZE keeps them") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft_repl3").toString
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    try {
      Seq((1L, 0L, 0L, 10.0), (2L, 0L, 0L, 20.0))
        .toDF("id", "ver", "del", "v").createOrReplaceTempView("rdsrc")
      ChSql.sql(spark,
        "CREATE TABLE repl_del ENGINE = ReplacingMergeTree(ver, del) " +
          "ORDER BY (id) AS SELECT id, ver, del, v FROM rdsrc").collect()
      // a newer version flags id=2 deleted
      ChSql.sql(spark,
        "INSERT INTO repl_del SELECT 2 AS id, 1 AS ver, 1 AS del, 20.0 AS v").collect()
      assert(ChSql.sql(spark, "SELECT count() AS n FROM repl_del")
        .collect().head.getLong(0) == 3L)
      // FINAL: the surviving highest-version row of id=2 is deleted →
      // only id=1 remains (CH's lightweight-delete spelling)
      val fin = ChSql.sql(spark, "SELECT id FROM repl_del FINAL ORDER BY id")
        .collect().map(_.getLong(0)).toSeq
      assert(fin == Seq(1L), fin.mkString(", "))
      // OPTIMIZE FINAL collapses versions but KEEPS the deleted row
      // (CH's plain OPTIMIZE FINAL posture; only SELECT FINAL hides it)
      ChSql.sql(spark, "OPTIMIZE TABLE repl_del FINAL").collect()
      assert(ChSql.sql(spark, "SELECT count() AS n FROM repl_del")
        .collect().head.getLong(0) == 2L)
      assert(ChSql.sql(spark, "SELECT count() AS n FROM repl_del FINAL")
        .collect().head.getLong(0) == 1L)
      ChSql.sql(spark, "DROP TABLE repl_del").collect()
    } finally spark.conf.unset(graft.service.Settings.WarehouseDir.name)
  }

  test("bare ORDER BY in ATTACH carries the dedup key; FINAL composes with SAMPLE") {
    fresh()
    val wh = Files.createTempDirectory("graft_repl4").toString
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    try {
      ChSql.sql(spark,
        "CREATE TABLE repl_s2 ENGINE = ReplacingMergeTree(ver) ORDER BY (id) AS " +
          "SELECT id, k, ver, v FROM rsrc").collect()
      ChSql.sql(spark,
        "INSERT INTO repl_s2 SELECT id, k, ver, v FROM rupd").collect()
      // CH's own SHOW CREATE spelling for a single-column key is
      // unparenthesized — the ATTACH must still record it
      graft.core.Catalog.attach(spark,
        s"""ATTACH TABLE repl_bare (`id` Int64, `k` String, `ver` Int64, `v` Float64)
           |ENGINE = ReplacingMergeTree(ver) ORDER BY id SAMPLE BY id
           |SETTINGS disk = disk(type = web, endpoint = '$wh/repl_s2')""".stripMargin)
      assert(graft.core.Catalog.lookup("repl_bare").map(_.orderBy).contains(Seq("id")))
      // a bare EXPRESSION key must not truncate to a bogus column via
      // regex backtracking (`cityHash64(id)` -> `cityHash6`): the key
      // stays empty, the pre-bare-support behavior
      graft.core.Catalog.attach(spark,
        s"""ATTACH TABLE repl_expr (`id` Int64, `k` String, `ver` Int64, `v` Float64)
           |ENGINE = MergeTree ORDER BY cityHash64(id)
           |SETTINGS disk = disk(type = web, endpoint = '$wh/repl_s2')""".stripMargin)
      assert(graft.core.Catalog.lookup("repl_expr").map(_.orderBy).contains(Nil))
      graft.core.Catalog.detach("repl_expr")
      spark.catalog.dropTempView("repl_expr")
      // a REPLACING table with an expression key must refuse FINAL
      // loudly — the silent fall-through returned raw multiversion
      // rows where CH dedups (advisor r11)
      graft.core.Catalog.attach(spark,
        s"""ATTACH TABLE repl_exprv (`id` Int64, `k` String, `ver` Int64, `v` Float64)
           |ENGINE = ReplacingMergeTree(ver) ORDER BY cityHash64(id)
           |SETTINGS disk = disk(type = web, endpoint = '$wh/repl_s2')""".stripMargin)
      val eKey = intercept[IllegalArgumentException] {
        ChSql.sql(spark, "SELECT count() AS n FROM repl_exprv FINAL").collect()
      }
      assert(eKey.getMessage.contains("sorting key"), eKey.getMessage)
      // without FINAL the raw rows stay readable
      assert(ChSql.sql(spark, "SELECT count() AS n FROM repl_exprv")
        .collect().head.getLong(0) > 0L)
      graft.core.Catalog.detach("repl_exprv")
      spark.catalog.dropTempView("repl_exprv")
      assert(ChSql.sql(spark, "SELECT count() AS n FROM repl_bare FINAL")
        .collect().head.getLong(0) == 3L)
      // CH clause order FROM t FINAL SAMPLE f: the sample moves inside
      // the dedup subquery (SAMPLE 1/1 = the full residue class)
      assert(ChSql.sql(spark, "SELECT count() AS n FROM repl_bare FINAL SAMPLE 1/1")
        .collect().head.getLong(0) == 3L)
      graft.core.Catalog.detach("repl_bare")
      spark.catalog.dropTempView("repl_bare")
      ChSql.sql(spark, "DROP TABLE repl_s2").collect()
    } finally spark.conf.unset(graft.service.Settings.WarehouseDir.name)
  }

  test("FINAL READS on a PARTITIONED Replacing table dedup within partitions only") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft_repl6").toString
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    try {
      // id=1 lives in two partitions: the read-side FINAL must keep one
      // row PER PARTITION, like CH's per-partition merge — a key-only
      // window silently merged across partitions (review finding)
      Seq((1L, "p1", 0L, 10.0), (1L, "p2", 0L, 11.0), (1L, "p1", 1L, 12.0))
        .toDF("id", "p", "ver", "v").createOrReplaceTempView("rrsrc")
      ChSql.sql(spark,
        "CREATE TABLE repl_pread ENGINE = ReplacingMergeTree(ver) " +
          "PARTITION BY p ORDER BY (id) AS " +
          "SELECT id, p, ver, v FROM rrsrc").collect()
      val rows = ChSql.sql(spark,
        "SELECT p, CAST(round(v) AS BIGINT) AS v FROM repl_pread FINAL ORDER BY p")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(rows == Seq(("p1", 12L), ("p2", 11L)), rows.mkString(", "))
      ChSql.sql(spark, "DROP TABLE repl_pread").collect()
    } finally spark.conf.unset(graft.service.Settings.WarehouseDir.name)
  }

  test("versionless Replacing: the payload-max tiebreak opt-in unblocks FINAL and OPTIMIZE") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft_repl7").toString
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    try {
      Seq((1L, "a", 10.0), (1L, "b", 12.0), (2L, "c", 20.0))
        .toDF("id", "k", "v").createOrReplaceTempView("rvsrc")
      ChSql.sql(spark,
        "CREATE TABLE repl_nv ENGINE = ReplacingMergeTree ORDER BY (id) AS " +
          "SELECT id, k, v FROM rvsrc").collect()
      // without the opt-in: the documented refusal
      val e = intercept[IllegalArgumentException] {
        ChSql.sql(spark, "SELECT count() AS n FROM repl_nv FINAL").collect()
      }
      assert(e.getMessage.contains("finalTiebreak"), e.getMessage)
      // with it: deterministic payload-max row per key
      spark.conf.set(graft.service.Settings.FinalTiebreak.name, "payload")
      try {
        val fin = ChSql.sql(spark, "SELECT id, k FROM repl_nv FINAL ORDER BY id")
          .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
        assert(fin == Seq((1L, "b"), (2L, "c")), fin.mkString(", "))
        ChSql.sql(spark, "OPTIMIZE TABLE repl_nv FINAL").collect()
        assert(ChSql.sql(spark, "SELECT count() AS n FROM repl_nv")
          .collect().head.getLong(0) == 2L)
      } finally spark.conf.unset(graft.service.Settings.FinalTiebreak.name)
      ChSql.sql(spark, "DROP TABLE repl_nv").collect()
    } finally spark.conf.unset(graft.service.Settings.WarehouseDir.name)
  }

  test("OPTIMIZE FINAL on a PARTITIONED Replacing table dedups within partitions only") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft_repl5").toString
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    try {
      // the same sorting key (id=1) lives in TWO partitions — CH merges
      // never cross partitions, so both rows must survive the collapse
      Seq((1L, "p1", 0L, 10.0), (1L, "p2", 0L, 11.0), (1L, "p1", 1L, 12.0))
        .toDF("id", "p", "ver", "v").createOrReplaceTempView("rpsrc")
      ChSql.sql(spark,
        "CREATE TABLE repl_part ENGINE = ReplacingMergeTree(ver) " +
          "PARTITION BY p ORDER BY (id) AS " +
          "SELECT id, p, ver, v FROM rpsrc").collect()
      ChSql.sql(spark, "OPTIMIZE TABLE repl_part FINAL").collect()
      val rows = ChSql.sql(spark,
        "SELECT p, CAST(round(v) AS BIGINT) AS v FROM repl_part ORDER BY p")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(rows == Seq(("p1", 12L), ("p2", 11L)), rows.mkString(", "))
      ChSql.sql(spark, "DROP TABLE repl_part").collect()
    } finally spark.conf.unset(graft.service.Settings.WarehouseDir.name)
  }
}
