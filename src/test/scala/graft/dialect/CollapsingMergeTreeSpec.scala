package graft.dialect

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** ENGINE = VersionedCollapsingMergeTree(sign, version): CH's
  * pair-cancellation — within (partition, sorting key, version), +1
  * state rows and -1 cancel rows annihilate in pairs; survivors are
  * the |sum(sign)| majority-sign rows. The versionless Collapsing
  * engine stores fine but FINAL refuses (its survivor is merge-order
  * state in CH). */
class CollapsingMergeTreeSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark

  test("FINAL cancels +1/-1 pairs per (key, version); OPTIMIZE collapses physically") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft_coll").toString
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    try {
      // id=1: state v0, cancel v0, new state v1  -> survives (1, v1)
      // id=2: state v0 only                      -> survives (2, v0)
      // id=3: state v0, cancel v0                -> fully cancelled
      Seq(
        (1L, 1, 0L, 10.0), (1L, -1, 0L, 10.0), (1L, 1, 1L, 11.0),
        (2L, 1, 0L, 20.0),
        (3L, 1, 0L, 30.0), (3L, -1, 0L, 30.0))
        .toDF("id", "sign", "ver", "v").createOrReplaceTempView("csrc")
      ChSql.sql(spark,
        "CREATE TABLE coll_t ENGINE = VersionedCollapsingMergeTree(sign, ver) " +
          "ORDER BY (id) AS SELECT id, CAST(sign AS INT) AS sign, ver, v FROM csrc")
        .collect()
      // raw read: all six rows (CH contract)
      assert(ChSql.sql(spark, "SELECT count() AS n FROM coll_t")
        .collect().head.getLong(0) == 6L)
      val fin = ChSql.sql(spark,
        "SELECT id, ver, CAST(round(v) AS BIGINT) AS v FROM coll_t FINAL ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(fin == Seq((1L, 1L, 11L), (2L, 0L, 20L)), fin.mkString(", "))
      // FINAL composes with aggregation (CH's recommended sum(v*sign)
      // shape is unnecessary under FINAL)
      assert(ChSql.sql(spark,
        "SELECT CAST(round(sum(v)) AS BIGINT) AS s FROM coll_t FINAL")
        .collect().head.getLong(0) == 31L)
      // OPTIMIZE FINAL collapses physically
      ChSql.sql(spark, "OPTIMIZE TABLE coll_t FINAL").collect()
      assert(ChSql.sql(spark, "SELECT count() AS n FROM coll_t")
        .collect().head.getLong(0) == 2L)
      val create = ShowSql.run(spark, "SHOW CREATE TABLE coll_t")
        .collect().head.getString(0)
      assert(create.contains("VersionedCollapsingMergeTree"), create)
      ChSql.sql(spark, "DROP TABLE coll_t").collect()
    } finally spark.conf.unset(graft.service.Settings.WarehouseDir.name)
  }

  test("unbalanced multiplicities survive |sum(sign)| deep; partitions cancel independently") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft_coll2").toString
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    try {
      // id=1 p1: two states, one cancel at v0 -> ONE +1 row survives
      // id=1 p2: one state at v0              -> survives (partitions
      //          never cancel across)
      Seq(
        (1L, "p1", 1, 0L), (1L, "p1", 1, 0L), (1L, "p1", -1, 0L),
        (1L, "p2", 1, 0L))
        .toDF("id", "p", "sign", "ver").createOrReplaceTempView("cpsrc")
      ChSql.sql(spark,
        "CREATE TABLE coll_p ENGINE = VersionedCollapsingMergeTree(sign, ver) " +
          "PARTITION BY p ORDER BY (id) AS " +
          "SELECT id, p, CAST(sign AS INT) AS sign, ver FROM cpsrc").collect()
      val fin = ChSql.sql(spark,
        "SELECT p, count() AS n FROM coll_p FINAL GROUP BY p ORDER BY p")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(fin == Seq(("p1", 1L), ("p2", 1L)), fin.mkString(", "))
      ChSql.sql(spark, "DROP TABLE coll_p").collect()
    } finally spark.conf.unset(graft.service.Settings.WarehouseDir.name)
  }

  test("versionless CollapsingMergeTree: raw reads fine, FINAL and OPTIMIZE FINAL refuse") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft_coll3").toString
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    try {
      Seq((1L, 1, 10.0), (1L, -1, 10.0), (2L, 1, 20.0))
        .toDF("id", "sign", "v").createOrReplaceTempView("cvsrc")
      ChSql.sql(spark,
        "CREATE TABLE coll_nv ENGINE = CollapsingMergeTree(sign) " +
          "ORDER BY (id) AS SELECT id, CAST(sign AS INT) AS sign, v FROM cvsrc")
        .collect()
      assert(ChSql.sql(spark, "SELECT count() AS n FROM coll_nv")
        .collect().head.getLong(0) == 3L)
      val e = intercept[IllegalArgumentException] {
        ChSql.sql(spark, "SELECT count() AS n FROM coll_nv FINAL").collect()
      }
      assert(e.getMessage.contains("VersionedCollapsingMergeTree"), e.getMessage)
      val e2 = intercept[IllegalArgumentException] {
        ChSql.sql(spark, "OPTIMIZE TABLE coll_nv FINAL").collect()
      }
      assert(e2.getMessage.contains("VersionedCollapsingMergeTree"), e2.getMessage)
      // the CH-documented aggregate workaround stays available raw
      assert(ChSql.sql(spark,
        "SELECT CAST(round(sum(v * sign)) AS BIGINT) AS s FROM coll_nv")
        .collect().head.getLong(0) == 20L)
      ChSql.sql(spark, "DROP TABLE coll_nv").collect()
    } finally spark.conf.unset(graft.service.Settings.WarehouseDir.name)
  }
}
