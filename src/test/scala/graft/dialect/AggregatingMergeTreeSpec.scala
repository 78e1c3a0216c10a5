package graft.dialect

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** ENGINE = AggregatingMergeTree: per-key aggregate STATE rows. State
  * columns with SQL-typed states (sum/count/min/max — CH's algebraic
  * subset) write into real part trees; reads use the -Merge
  * combinators, which produce the fully merged result and therefore
  * subsume FINAL — FINAL itself refuses with that guidance (generic
  * state-merge is not implemented), raw state rows stay readable, and
  * plain OPTIMIZE compacts parts without touching rows. */
class AggregatingMergeTreeSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark

  test("state rows round-trip; -Merge reads subsume FINAL; FINAL refuses with guidance") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft_aggmt").toString
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    try {
      Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0), (4L, "a", 5.0))
        .toDF("id", "k", "v").createOrReplaceTempView("asrc")
      // two INSERT batches -> two state rows per key arrive as parts
      ChSql.sql(spark,
        "CREATE TABLE agg_t ENGINE = AggregatingMergeTree ORDER BY (k) AS " +
          "SELECT k, sumState(v) AS s, countState(v) AS c, maxState(v) AS mx " +
          "FROM asrc WHERE id <= 2 GROUP BY k").collect()
      ChSql.sql(spark,
        "INSERT INTO agg_t SELECT k, sumState(v), countState(v), maxState(v) " +
          "FROM asrc WHERE id > 2 GROUP BY k").collect()
      // raw state rows visible (3: 'a' twice, 'b' once)
      assert(ChSql.sql(spark, "SELECT count() AS n FROM agg_t")
        .collect().head.getLong(0) == 3L)
      // the -Merge read produces the fully merged result
      val merged = ChSql.sql(spark,
        """SELECT k, CAST(round(sumMerge(s)) AS BIGINT) AS tot,
          |       CAST(countMerge(c) AS BIGINT) AS n,
          |       CAST(round(maxMerge(mx)) AS BIGINT) AS mx
          |FROM agg_t GROUP BY k ORDER BY k""".stripMargin)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      assert(merged == Seq(("a", 35L, 3L, 20L), ("b", 30L, 1L, 30L)),
        merged.mkString(", "))
      // FINAL refuses, pointing at the -Merge read
      val e = intercept[IllegalArgumentException] {
        ChSql.sql(spark, "SELECT count() AS n FROM agg_t FINAL").collect()
      }
      assert(e.getMessage.contains("-Merge"), e.getMessage)
      val e2 = intercept[IllegalArgumentException] {
        ChSql.sql(spark, "OPTIMIZE TABLE agg_t FINAL").collect()
      }
      assert(e2.getMessage.contains("-Merge"), e2.getMessage)
      // plain OPTIMIZE compacts parts, rows untouched
      ChSql.sql(spark, "OPTIMIZE TABLE agg_t").collect()
      assert(ChSql.sql(spark, "SELECT count() AS n FROM agg_t")
        .collect().head.getLong(0) == 3L)
      val create = ShowSql.run(spark, "SHOW CREATE TABLE agg_t")
        .collect().head.getString(0)
      assert(create.contains("AggregatingMergeTree"), create)
      ChSql.sql(spark, "DROP TABLE agg_t").collect()
    } finally spark.conf.unset(graft.service.Settings.WarehouseDir.name)
  }
}
