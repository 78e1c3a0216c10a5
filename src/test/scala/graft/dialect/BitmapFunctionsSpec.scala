package graft.dialect

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** CH's bitmap function family (r19): groupBitmap aggregates, blob
  * algebra, and the -State→parquet→-Merge incremental flow. */
class BitmapFunctionsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def prep(): Unit = {
    graft.core.Tables.registerViews(spark, dir)
  }

  test("groupBitmap == count(DISTINCT) on integers, grouped and global") {
    prep()
    val got = ChSql.sql(spark,
      """SELECT o_orderstatus AS s, groupBitmap(o_custkey) AS u
        |FROM orders GROUP BY s ORDER BY s""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = ChSql.sql(spark,
      """SELECT o_orderstatus AS s, count(DISTINCT o_custkey) AS u
        |FROM orders GROUP BY s ORDER BY s""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want)
    val g = ChSql.sql(spark,
      "SELECT groupBitmap(o_custkey) AS u FROM orders").collect()(0).getLong(0)
    assert(g == ChSql.sql(spark,
      "SELECT count(DISTINCT o_custkey) AS u FROM orders").collect()(0).getLong(0))
  }

  test("bitmap blob algebra: build, and/or/xor/andnot, contains, hasAny/All, min/max") {
    prep()
    val r = ChSql.sql(spark,
      """SELECT
        |  bitmapCardinality(bitmapBuild(array(1, 2, 3, 3))) AS card,
        |  bitmapAndCardinality(bitmapBuild(array(1, 2, 3)), bitmapBuild(array(2, 3, 4))) AS andc,
        |  bitmapOrCardinality(bitmapBuild(array(1, 2)), bitmapBuild(array(2, 3))) AS orc,
        |  bitmapXorCardinality(bitmapBuild(array(1, 2)), bitmapBuild(array(2, 3))) AS xorc,
        |  bitmapAndnotCardinality(bitmapBuild(array(1, 2, 3)), bitmapBuild(array(3))) AS anc,
        |  bitmapContains(bitmapBuild(array(7, 9)), 9) AS has9,
        |  bitmapHasAny(bitmapBuild(array(1, 2)), bitmapBuild(array(2, 5))) AS anyc,
        |  bitmapHasAll(bitmapBuild(array(1, 2, 3)), bitmapBuild(array(2, 3))) AS allc,
        |  bitmapHasAll(bitmapBuild(array(1, 2)), bitmapBuild(array(2, 3))) AS allx,
        |  bitmapMin(bitmapBuild(array(5, 9, 2))) AS mn,
        |  bitmapMax(bitmapBuild(array(5, 9, 2))) AS mx,
        |  bitmapToArray(bitmapAnd(bitmapBuild(array(1, 2, 3)), bitmapBuild(array(2, 3, 4)))) AS arr
        |""".stripMargin).collect()(0)
    assert(r.getLong(0) == 3L)
    assert(r.getLong(1) == 2L)
    assert(r.getLong(2) == 3L)
    assert(r.getLong(3) == 2L)
    assert(r.getLong(4) == 2L)
    assert(r.getBoolean(5))
    assert(r.getBoolean(6))
    assert(r.getBoolean(7))
    assert(!r.getBoolean(8))
    assert(r.getLong(9) == 2L && r.getLong(10) == 9L)
    assert(r.getSeq[Long](11) == Seq(2L, 3L))
  }

  test("State -> parquet -> Merge: incremental audience counting round-trips") {
    prep()
    val out = java.nio.file.Files.createTempDirectory("graft_bmstate").toString
    // per-status partial states persisted (the incremental half)
    ChSql.sql(spark,
      """SELECT o_orderstatus AS s, groupBitmapState(o_custkey) AS st
        |FROM orders GROUP BY s""".stripMargin)
      .write.mode("overwrite").parquet(out)
    spark.read.parquet(out).createOrReplaceTempView("bm_states")
    // merged across partials == direct distinct over the union
    val merged = ChSql.sql(spark,
      "SELECT groupBitmapMerge(st) AS u FROM bm_states").collect()(0).getLong(0)
    val direct = ChSql.sql(spark,
      "SELECT count(DISTINCT o_custkey) AS u FROM orders").collect()(0).getLong(0)
    assert(merged == direct)
    // MergeState re-emits a blob that keeps merging
    val re = ChSql.sql(spark,
      "SELECT bitmapCardinality(groupBitmapMergeState(st)) AS u FROM bm_states")
      .collect()(0).getLong(0)
    assert(re == direct)
  }

  test("groupBitmapAnd/Or/Xor roll already-built states up (r19b)") {
    prep()
    // three per-status segments; AND = custkeys in ALL of them,
    // OR = any, XOR = an odd number of them
    ChSql.sql(spark,
      """SELECT o_orderstatus AS s, groupBitmapState(o_custkey) AS st
        |FROM orders GROUP BY s""".stripMargin)
      .createOrReplaceTempView("bm_seg")
    val r = ChSql.sql(spark,
      """SELECT groupBitmapAnd(st) AS a, groupBitmapOr(st) AS o,
        |       groupBitmapXor(st) AS x,
        |       bitmapCardinality(groupBitmapAndState(st)) AS as_,
        |       bitmapCardinality(groupBitmapOrState(st)) AS os_,
        |       bitmapCardinality(groupBitmapXorState(st)) AS xs_
        |FROM bm_seg""".stripMargin).collect()(0)
    val nStatuses = ChSql.sql(spark,
      "SELECT count(DISTINCT o_orderstatus) AS n FROM orders").collect()(0).getLong(0)
    val perKey = ChSql.sql(spark,
      """SELECT count(DISTINCT o_orderstatus) AS n FROM orders
        |GROUP BY o_custkey""".stripMargin)
      .collect().map(_.getLong(0))
    assert(r.getLong(0) == perKey.count(_ == nStatuses).toLong, "AND")
    assert(r.getLong(1) == perKey.length.toLong, "OR")
    assert(r.getLong(2) == perKey.count(_ % 2 == 1).toLong, "XOR")
    assert(r.getLong(3) == r.getLong(0) && r.getLong(4) == r.getLong(1) &&
      r.getLong(5) == r.getLong(2), "-State spellings agree")
  }

  test("groupBitmapAnd identity: a single state (and NULL inputs) pass through") {
    prep()
    val r = ChSql.sql(spark,
      """SELECT groupBitmapAnd(st) AS a FROM (
        |  SELECT bitmapBuild(array(1, 2, 3)) AS st
        |  UNION ALL SELECT CAST(NULL AS BINARY)
        |)""".stripMargin).collect()(0)
    assert(r.getLong(0) == 3L,
      "AND over one non-NULL state must be that state, not empty")
  }

  test("subset trio and transform (r19b)") {
    prep()
    val r = ChSql.sql(spark,
      """SELECT
        |  bitmapToArray(bitmapSubsetInRange(bitmapBuild(array(1, 5, 10, 20, 30)), 5, 30)) AS rng,
        |  bitmapToArray(bitmapSubsetLimit(bitmapBuild(array(1, 5, 10, 20, 30)), 5, 2)) AS lim,
        |  bitmapToArray(subBitmap(bitmapBuild(array(1, 5, 10, 20, 30)), 1, 3)) AS sub,
        |  bitmapToArray(bitmapTransform(bitmapBuild(array(1, 2, 3)),
        |    array(2, 9), array(20, 90))) AS tr,
        |  bitmapToArray(bitmapTransform(bitmapBuild(array(1, 2, 3)),
        |    array(2, 3), array(3, 2))) AS swap
        |""".stripMargin).collect()(0)
    assert(r.getSeq[Long](0) == Seq(5L, 10L, 20L), "rng")
    assert(r.getSeq[Long](1) == Seq(5L, 10L), "lim")
    assert(r.getSeq[Long](2) == Seq(5L, 10L, 20L), "sub")
    assert(r.getSeq[Long](3) == Seq(1L, 3L, 20L), "tr: 2→20, 9 absent → no-op")
    assert(r.getSeq[Long](4) == Seq(1L, 2L, 3L),
      "swap on original membership: 2→3 and 3→2 leaves {1,2,3}")
  }

  test("null discipline: null arrays and blobs stay null; empty bitmap min/max are null") {
    prep()
    val r = ChSql.sql(spark,
      """SELECT bitmapBuild(CAST(NULL AS ARRAY<BIGINT>)) AS nb,
        |       bitmapCardinality(CAST(NULL AS BINARY)) AS nc,
        |       bitmapMin(bitmapBuild(array())) AS mn
        |""".stripMargin).collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
  }
}
