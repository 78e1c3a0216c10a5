package graft.dialect

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** ENGINE = SummingMergeTree: FINAL's per-key summing semantics — raw
  * unmerged rows without the modifier, one summed row per sorting key
  * with it (declared tuple or every numeric non-key column), the
  * deterministic max for non-summed payload, physical collapse via
  * OPTIMIZE FINAL, per-partition merge scope, and the all-zero-sum row
  * deletion CH applies on merge. */
class SummingMergeTreeSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark

  private def fresh(): Unit = {
    import spark.implicits._
    Seq((1L, 10L, 1.5, "x"), (1L, 5L, 2.5, "y"), (2L, 7L, 3.0, "z"))
      .toDF("id", "cnt", "amt", "tag").createOrReplaceTempView("ssrc")
  }

  test("FINAL sums the declared tuple per key; raw reads stay unmerged; payload takes max") {
    fresh()
    val wh = Files.createTempDirectory("graft_summ").toString
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    try {
      ChSql.sql(spark,
        "CREATE TABLE summ_t ENGINE = SummingMergeTree((cnt, amt)) " +
          "ORDER BY (id) AS SELECT id, cnt, amt, tag FROM ssrc").collect()
      ChSql.sql(spark,
        "INSERT INTO summ_t SELECT 2 AS id, 3 AS cnt, 1.0 AS amt, 'w' AS tag").collect()
      // WITHOUT FINAL: all four raw rows visible (CH contract)
      assert(ChSql.sql(spark, "SELECT count() AS n FROM summ_t")
        .collect().head.getLong(0) == 4L)
      // WITH FINAL: one row per id — sums summed, tag = deterministic max
      val fin = ChSql.sql(spark,
        "SELECT id, cnt, CAST(round(amt * 10) AS BIGINT) AS amt_d, tag " +
          "FROM summ_t FINAL ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
      assert(fin == Seq((1L, 15L, 40L, "y"), (2L, 10L, 40L, "z")), fin.mkString(", "))
      // the summed column keeps its declared type (Int64 stays long)
      assert(ChSql.sql(spark, "SELECT cnt FROM summ_t FINAL").schema("cnt")
        .dataType == org.apache.spark.sql.types.LongType)
      // FINAL composes with aggregation
      assert(ChSql.sql(spark,
        "SELECT CAST(sum(cnt) AS BIGINT) AS s FROM summ_t FINAL")
        .collect().head.getLong(0) == 25L)
      // OPTIMIZE FINAL physically collapses — the plain read then sees
      // the merged rows, and SHOW CREATE renders the declared engine
      ChSql.sql(spark, "OPTIMIZE TABLE summ_t FINAL").collect()
      assert(ChSql.sql(spark, "SELECT count() AS n FROM summ_t")
        .collect().head.getLong(0) == 2L)
      assert(ChSql.sql(spark, "SELECT CAST(sum(cnt) AS BIGINT) AS s FROM summ_t")
        .collect().head.getLong(0) == 25L)
      val create = ShowSql.run(spark, "SHOW CREATE TABLE summ_t")
        .collect().head.getString(0)
      assert(create.contains("SummingMergeTree"), create)
      ChSql.sql(spark, "DROP TABLE summ_t").collect()
    } finally spark.conf.unset(graft.service.Settings.WarehouseDir.name)
  }

  test("no engine tuple: every numeric non-key column sums; all-zero rows vanish from FINAL") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft_summ2").toString
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    try {
      Seq((1L, 4L, 2.0), (1L, -4L, -2.0), (2L, 1L, 0.5))
        .toDF("id", "a", "b").createOrReplaceTempView("szsrc")
      ChSql.sql(spark,
        "CREATE TABLE summ_z ENGINE = SummingMergeTree ORDER BY (id) AS " +
          "SELECT id, a, b FROM szsrc").collect()
      // id=1 sums to (0, 0.0) in EVERY summed column — CH deletes the
      // row on merge, and FINAL is the merged view
      val fin = ChSql.sql(spark, "SELECT id, a FROM summ_z FINAL ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(fin == Seq((2L, 1L)), fin.mkString(", "))
      // OPTIMIZE FINAL applies the same deletion physically
      ChSql.sql(spark, "OPTIMIZE TABLE summ_z FINAL").collect()
      assert(ChSql.sql(spark, "SELECT count() AS n FROM summ_z")
        .collect().head.getLong(0) == 1L)
      ChSql.sql(spark, "DROP TABLE summ_z").collect()
    } finally spark.conf.unset(graft.service.Settings.WarehouseDir.name)
  }

  test("FINAL and OPTIMIZE merge within partitions only; ATTACH carries the engine") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft_summ3").toString
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    try {
      // the same sorting key (id=1) lives in TWO partitions — CH merges
      // never cross partitions, so FINAL keeps one summed row PER
      // PARTITION (two id=1 rows), not a single global sum
      Seq((1L, "p1", 10L), (1L, "p1", 5L), (1L, "p2", 100L), (2L, "p2", 7L))
        .toDF("id", "p", "n").createOrReplaceTempView("spsrc")
      ChSql.sql(spark,
        "CREATE TABLE summ_p ENGINE = SummingMergeTree((n)) " +
          "PARTITION BY p ORDER BY (id) AS SELECT id, p, n FROM spsrc").collect()
      val fin = ChSql.sql(spark,
        "SELECT id, p, n FROM summ_p FINAL ORDER BY id, p")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      assert(fin == Seq((1L, "p1", 15L), (1L, "p2", 100L), (2L, "p2", 7L)),
        fin.mkString(", "))
      ChSql.sql(spark, "OPTIMIZE TABLE summ_p FINAL").collect()
      val raw = ChSql.sql(spark, "SELECT id, p, n FROM summ_p ORDER BY id, p")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      assert(raw == fin, raw.mkString(", "))
      // an independently ATTACHed Summing tree carries the semantics
      graft.core.Catalog.attach(spark,
        s"""ATTACH TABLE summ_back (`id` Int64, `p` String, `n` Int64)
           |ENGINE = SummingMergeTree((n)) PARTITION BY p ORDER BY (id)
           |SETTINGS disk = disk(type = web, endpoint = '$wh/summ_p')""".stripMargin)
      assert(ChSql.sql(spark, "SELECT count() AS n FROM summ_back FINAL")
        .collect().head.getLong(0) == 3L)
      graft.core.Catalog.detach("summ_back")
      spark.catalog.dropTempView("summ_back")
      ChSql.sql(spark, "DROP TABLE summ_p").collect()
    } finally spark.conf.unset(graft.service.Settings.WarehouseDir.name)
  }

  test("guardrails: expression key refuses FINAL; key column in the tuple refuses at CTAS") {
    fresh()
    val wh = Files.createTempDirectory("graft_summ4").toString
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    try {
      ChSql.sql(spark,
        "CREATE TABLE summ_g ENGINE = SummingMergeTree((cnt)) " +
          "ORDER BY (id) AS SELECT id, cnt, amt, tag FROM ssrc").collect()
      // expression sorting key: FINAL refuses loudly (a silent strip
      // would return unmerged rows where CH sums)
      graft.core.Catalog.attach(spark,
        s"""ATTACH TABLE summ_expr (`id` Int64, `cnt` Int64, `amt` Float64, `tag` String)
           |ENGINE = SummingMergeTree ORDER BY cityHash64(id)
           |SETTINGS disk = disk(type = web, endpoint = '$wh/summ_g')""".stripMargin)
      val e = intercept[IllegalArgumentException] {
        ChSql.sql(spark, "SELECT count() AS n FROM summ_expr FINAL").collect()
      }
      assert(e.getMessage.contains("sorting key"), e.getMessage)
      assert(ChSql.sql(spark, "SELECT count() AS n FROM summ_expr")
        .collect().head.getLong(0) > 0L)
      graft.core.Catalog.detach("summ_expr")
      spark.catalog.dropTempView("summ_expr")
      // summing a sorting-key column refuses at CTAS (CH's own rule)
      val e2 = intercept[IllegalArgumentException] {
        ChSql.sql(spark,
          "CREATE TABLE summ_bad ENGINE = SummingMergeTree((id)) " +
            "ORDER BY (id) AS SELECT id, cnt FROM ssrc").collect()
      }
      assert(e2.getMessage.contains("sorting key"), e2.getMessage)
      ChSql.sql(spark, "DROP TABLE summ_g").collect()
    } finally spark.conf.unset(graft.service.Settings.WarehouseDir.name)
  }
}
