package graft.dialect

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** CREATE MATERIALIZED VIEW — CH's INSERT TRIGGER: the view's SELECT
  * runs over each inserted batch of its source and appends into its
  * target; pre-existing rows are only captured by POPULATE. TO form
  * appends into an existing table; ENGINE form owns `<mv>__inner`. */
class MatViewSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark

  test("TO form: batches flow through the trigger; pre-existing rows do not") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft_mv").toString
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    try {
      Seq((1L, "a", 10.0)).toDF("id", "k", "v").createOrReplaceTempView("mvsrc")
      ChSql.sql(spark,
        "CREATE TABLE mv_src ENGINE = MergeTree ORDER BY (id) AS " +
          "SELECT id, k, v FROM mvsrc").collect()
      ChSql.sql(spark,
        "CREATE TABLE mv_tgt (`k` LowCardinality(String), `total` Float64, " +
          "`n` Int64) ENGINE = MergeTree ORDER BY (k)").collect()
      ChSql.sql(spark,
        "CREATE MATERIALIZED VIEW mv_agg TO mv_tgt AS " +
          "SELECT k, sum(v) AS total, count() AS n FROM mv_src GROUP BY k")
        .collect()
      // the CTAS row predates the view: NOT in the target (CH contract)
      assert(ChSql.sql(spark, "SELECT count() AS n FROM mv_tgt")
        .collect().head.getLong(0) == 0L)
      // each INSERT batch fires the trigger with ITS rows only
      ChSql.sql(spark,
        "INSERT INTO mv_src VALUES (2, 'a', 5.0), (3, 'b', 7.0)").collect()
      ChSql.sql(spark, "INSERT INTO mv_src VALUES (4, 'a', 2.0)").collect()
      val rows = ChSql.sql(spark,
        "SELECT k, CAST(round(total) AS BIGINT) AS t, n FROM mv_tgt ORDER BY k, t")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      assert(rows == Seq(("a", 2L, 1L), ("a", 5L, 1L), ("b", 7L, 1L)),
        rows.mkString(", "))
      // reading FROM the view reads the target
      assert(ChSql.sql(spark, "SELECT count() AS n FROM mv_agg")
        .collect().head.getLong(0) == 3L)
      // the per-batch rows re-aggregate to the true totals (the CH
      // pattern: MV partials + a final GROUP BY)
      val agg = ChSql.sql(spark,
        "SELECT k, CAST(round(sum(total)) AS BIGINT) AS t, " +
          "CAST(sum(n) AS BIGINT) AS n FROM mv_agg GROUP BY k ORDER BY k")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      assert(agg == Seq(("a", 7L, 2L), ("b", 7L, 1L)), agg.mkString(", "))
      // DROP removes the trigger; inserts stop flowing
      ChSql.sql(spark, "DROP VIEW mv_agg").collect()
      ChSql.sql(spark, "INSERT INTO mv_src VALUES (5, 'c', 1.0)").collect()
      assert(ChSql.sql(spark, "SELECT count() AS n FROM mv_tgt")
        .collect().head.getLong(0) == 3L)
      Seq("mv_src", "mv_tgt").foreach(t =>
        ChSql.sql(spark, s"DROP TABLE $t").collect())
    } finally spark.conf.unset(graft.service.Settings.WarehouseDir.name)
  }

  test("plain CREATE VIEW: lazy, CH-dialect body, replayed across requests, SHOW CREATE") {
    import graft.service.QueryService
    val wh = Files.createTempDirectory("graft_pview").toString
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    try {
      val svc = new QueryService(spark)
      svc.executeToDf(QueryService.QueryRequest(
        query = "SELECT 1 AS ok",
        initQueries = Seq(
          "CREATE TABLE pv_src (`id` Int64, `v` Float64) " +
            "ENGINE = MergeTree ORDER BY (id)",
          "INSERT INTO pv_src VALUES (1, 2.0), (2, 4.0)",
          // CH dialect inside the body (zero-arg count, FINAL-free)
          "CREATE VIEW pv_v AS SELECT count() AS n, " +
            "CAST(round(sum(v)) AS BIGINT) AS s FROM pv_src",
          // view-on-view chains too
          "CREATE VIEW pv_v2 AS SELECT n + 1 AS n1 FROM pv_v")))
      // a LATER fresh-session request sees the view; it is LAZY — rows
      // inserted after creation show through
      svc.executeToDf(QueryService.QueryRequest(
        query = "SELECT 1 AS ok",
        initQueries = Seq("INSERT INTO pv_src VALUES (3, 10.0)")))
      val r = svc.executeToDf(QueryService.QueryRequest(
        query = "SELECT n, s FROM pv_v"))._1.collect().head
      assert((r.getLong(0), r.getLong(1)) == ((3L, 16L)), r.toString)
      // the chained view resolves even when only IT is mentioned
      assert(svc.executeToDf(QueryService.QueryRequest(
        query = "SELECT n1 FROM pv_v2"))._1.collect().head.getLong(0) == 4L)
      // SHOW CREATE renders the registered statement
      val create = ShowSql.run(spark, "SHOW CREATE TABLE pv_v")
        .collect().head.getString(0)
      assert(create.startsWith("CREATE VIEW pv_v AS"), create)
      // OR REPLACE swaps the body; plain re-create refuses
      ChSql.sql(spark,
        "CREATE OR REPLACE VIEW pv_v AS SELECT count() AS n FROM pv_src")
        .collect()
      val e = intercept[IllegalArgumentException] {
        ChSql.sql(spark, "CREATE VIEW pv_v AS SELECT 1 AS x").collect()
      }
      assert(e.getMessage.contains("already exists"), e.getMessage)
      Seq("pv_v2", "pv_v").foreach(v =>
        ChSql.sql(spark, s"DROP VIEW $v").collect())
      ChSql.sql(spark, "DROP TABLE pv_src").collect()
      assert(graft.core.MatViews.allPlain.isEmpty)
    } finally spark.conf.unset(graft.service.Settings.WarehouseDir.name)
  }

  test("views survive across HTTP-style requests (fresh sessions): trigger and reads") {
    import graft.service.QueryService
    val wh = Files.createTempDirectory("graft_mv3").toString
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    try {
      val svc = new QueryService(spark)
      // request 1: create tables + view
      svc.executeToDf(QueryService.QueryRequest(
        query = "SELECT 1 AS ok",
        initQueries = Seq(
          "CREATE TABLE mvr_src (`id` Int64, `v` Float64) " +
            "ENGINE = MergeTree ORDER BY (id)",
          "CREATE TABLE mvr_tgt (`total` Float64) " +
            "ENGINE = MergeTree ORDER BY tuple()",
          "CREATE MATERIALIZED VIEW mvr_v TO mvr_tgt AS " +
            "SELECT sum(v) AS total FROM mvr_src")))
      // request 2 (fresh session): an INSERT into the source fires the
      // trigger even though the request never names the target
      svc.executeToDf(QueryService.QueryRequest(
        query = "SELECT count() AS n FROM mvr_src",
        initQueries = Seq(
          "INSERT INTO mvr_src VALUES (1, 2.5), (2, 7.5)")))
      // request 3 (fresh session): reading FROM the view reads the target
      val r = svc.executeToDf(QueryService.QueryRequest(
        query = "SELECT CAST(round(sum(total)) AS BIGINT) AS s FROM mvr_v"))
        ._1.collect().head.getLong(0)
      assert(r == 10L, r.toString)
      ChSql.sql(spark, "DROP VIEW mvr_v").collect()
      Seq("mvr_src", "mvr_tgt").foreach(t =>
        ChSql.sql(spark, s"DROP TABLE $t").collect())
    } finally spark.conf.unset(graft.service.Settings.WarehouseDir.name)
  }

  test("ENGINE form owns its inner table; POPULATE backfills; chained views cascade") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft_mv2").toString
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    try {
      Seq((1L, "x", 3.0), (2L, "y", 4.0))
        .toDF("id", "k", "v").createOrReplaceTempView("mv2src")
      ChSql.sql(spark,
        "CREATE TABLE mv2_src ENGINE = MergeTree ORDER BY (id) AS " +
          "SELECT id, k, v FROM mv2src").collect()
      // POPULATE captures the two pre-existing rows
      ChSql.sql(spark,
        "CREATE MATERIALIZED VIEW mv2_double ENGINE = MergeTree " +
          "ORDER BY (id) POPULATE AS " +
          "SELECT id, k, v * 2 AS v2 FROM mv2_src").collect()
      assert(ChSql.sql(spark, "SELECT count() AS n FROM mv2_double")
        .collect().head.getLong(0) == 2L)
      // a second view chained on the FIRST view's inner table
      ChSql.sql(spark,
        "CREATE TABLE mv2_final (`k` LowCardinality(String), `s` Float64) " +
          "ENGINE = MergeTree ORDER BY (k)").collect()
      ChSql.sql(spark,
        "CREATE MATERIALIZED VIEW mv2_chain TO mv2_final AS " +
          "SELECT k, sum(v2) AS s FROM mv2_double__inner GROUP BY k").collect()
      // one insert cascades through both views
      ChSql.sql(spark, "INSERT INTO mv2_src VALUES (3, 'x', 5.0)").collect()
      assert(ChSql.sql(spark, "SELECT count() AS n FROM mv2_double")
        .collect().head.getLong(0) == 3L)
      val chained = ChSql.sql(spark,
        "SELECT k, CAST(round(s) AS BIGINT) AS s FROM mv2_final")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(chained == Seq(("x", 10L)), chained.mkString(", "))
      // DROP of the ENGINE-form view removes its inner table too
      ChSql.sql(spark, "DROP TABLE mv2_double").collect()
      assert(graft.core.Catalog.lookup("mv2_double__inner").isEmpty)
      ChSql.sql(spark, "DROP VIEW mv2_chain").collect()
      Seq("mv2_src", "mv2_final").foreach(t =>
        ChSql.sql(spark, s"DROP TABLE $t").collect())
    } finally spark.conf.unset(graft.service.Settings.WarehouseDir.name)
  }
}
