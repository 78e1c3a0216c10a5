package graft.dialect

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Row-level `TTL <expr>` — CH's merge-time retention: rows whose TTL
  * expression has passed are dropped when merges run (OPTIMIZE) or on
  * demand (`ALTER TABLE … MATERIALIZE TTL`); raw reads keep them until
  * then, exactly CH's model. */
class TtlSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark

  test("OPTIMIZE applies TTL; MATERIALIZE TTL applies it on demand; SHOW CREATE renders it") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft_ttl").toString
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    try {
      Seq(
        (1L, java.sql.Timestamp.valueOf("2000-01-01 00:00:00"), 10.0),
        (2L, java.sql.Timestamp.valueOf("2100-01-01 00:00:00"), 20.0),
        (3L, java.sql.Timestamp.valueOf("2000-06-01 00:00:00"), 30.0))
        .toDF("id", "exp", "v").createOrReplaceTempView("tsrc")
      ChSql.sql(spark,
        "CREATE TABLE ttl_t ENGINE = MergeTree ORDER BY (id) TTL exp AS " +
          "SELECT id, exp, v FROM tsrc").collect()
      // TTL is merge-time: raw reads still see expired rows
      assert(ChSql.sql(spark, "SELECT count() AS n FROM ttl_t")
        .collect().head.getLong(0) == 3L)
      val create = ShowSql.run(spark, "SHOW CREATE TABLE ttl_t")
        .collect().head.getString(0)
      assert(create.contains("TTL exp"), create)
      // OPTIMIZE (the merge) drops the two expired rows
      ChSql.sql(spark, "OPTIMIZE TABLE ttl_t").collect()
      val ids = ChSql.sql(spark, "SELECT id FROM ttl_t ORDER BY id")
        .collect().map(_.getLong(0)).toSeq
      assert(ids == Seq(2L), ids.mkString(", "))
      ChSql.sql(spark, "DROP TABLE ttl_t").collect()

      // MATERIALIZE TTL: on-demand application without a merge, with
      // the dropped-row count reported; an interval expression works
      Seq(
        (1L, java.sql.Timestamp.valueOf("2000-01-01 00:00:00")),
        (2L, java.sql.Timestamp.valueOf("2100-01-01 00:00:00")))
        .toDF("id", "seen").createOrReplaceTempView("tsrc2")
      ChSql.sql(spark,
        "CREATE TABLE ttl_m ENGINE = MergeTree ORDER BY (id) " +
          "TTL seen + INTERVAL 30 DAY AS SELECT id, seen FROM tsrc2").collect()
      val r = ChSql.sql(spark, "ALTER TABLE ttl_m MATERIALIZE TTL")
        .collect().head
      assert(r.getLong(2) == 1L, r.toString)
      assert(ChSql.sql(spark, "SELECT id FROM ttl_m")
        .collect().map(_.getLong(0)).toSeq == Seq(2L))
      // a second pass has nothing left to drop
      assert(ChSql.sql(spark, "ALTER TABLE ttl_m MATERIALIZE TTL")
        .collect().head.getLong(2) == 0L)
      ChSql.sql(spark, "DROP TABLE ttl_m").collect()

      // guardrails: no TTL declared -> refuse; TTL without a
      // MergeTree-family engine -> refuse
      ChSql.sql(spark,
        "CREATE TABLE ttl_none ENGINE = MergeTree ORDER BY (id) AS " +
          "SELECT id, v FROM tsrc").collect()
      val e = intercept[IllegalArgumentException] {
        ChSql.sql(spark, "ALTER TABLE ttl_none MATERIALIZE TTL").collect()
      }
      assert(e.getMessage.contains("declares no"), e.getMessage)
      ChSql.sql(spark, "DROP TABLE ttl_none").collect()
      val e2 = intercept[IllegalArgumentException] {
        ChSql.sql(spark,
          "CREATE TABLE ttl_pq ORDER BY (id) TTL exp AS " +
            "SELECT id, exp FROM tsrc").collect()
      }
      assert(e2.getMessage.contains("MergeTree-family"), e2.getMessage)
    } finally spark.conf.unset(graft.service.Settings.WarehouseDir.name)
  }

  test("ATTACH DDL carries TTL; the engine-collapse OPTIMIZE pairs with it") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft_ttl2").toString
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    try {
      Seq(
        (1L, java.sql.Timestamp.valueOf("2000-01-01 00:00:00"), 0L),
        (1L, java.sql.Timestamp.valueOf("2100-01-01 00:00:00"), 1L),
        (2L, java.sql.Timestamp.valueOf("2000-02-01 00:00:00"), 0L))
        .toDF("id", "exp", "ver").createOrReplaceTempView("tasrc")
      ChSql.sql(spark,
        "CREATE TABLE ttl_r ENGINE = ReplacingMergeTree(ver) " +
          "ORDER BY (id) TTL exp AS SELECT id, exp, ver FROM tasrc").collect()
      // an ATTACH of the same tree records the TTL clause
      graft.core.Catalog.attach(spark,
        s"""ATTACH TABLE ttl_back (`id` Int64, `exp` DateTime64(6), `ver` Int64)
           |ENGINE = ReplacingMergeTree(ver) ORDER BY (id) TTL exp
           |SETTINGS disk = disk(type = web, endpoint = '$wh/ttl_r')""".stripMargin)
      assert(graft.core.Catalog.lookup("ttl_back").flatMap(_.ttl)
        .contains("exp"))
      graft.core.Catalog.detach("ttl_back")
      spark.catalog.dropTempView("ttl_back")
      // OPTIMIZE FINAL: the Replacing collapse keeps id=1's ver=1 row
      // (unexpired) and id=2's only row EXPIRES via TTL in the same
      // rewrite
      ChSql.sql(spark, "OPTIMIZE TABLE ttl_r FINAL").collect()
      val rows = ChSql.sql(spark, "SELECT id, ver FROM ttl_r ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(rows == Seq((1L, 1L)), rows.mkString(", "))
      ChSql.sql(spark, "DROP TABLE ttl_r").collect()
    } finally spark.conf.unset(graft.service.Settings.WarehouseDir.name)
  }
}
