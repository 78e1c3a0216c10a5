package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** `uniq()` on the DictAgg kernel (r18, VERDICT r17 stretch #8):
  * per-slot HLL++ registers driven by Spark's own helper, so the
  * kernel's estimates are BIT-IDENTICAL to the native
  * HyperLogLogPlusPlus plan — pinned by comparing against the kill
  * switch, grouped and global, strings and ints, filtered and not. */
class HllDictAggSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def withDisabled[T](f: => T): T = {
    spark.conf.set(graft.service.Settings.DictAgg.name, "false")
    try f finally spark.conf.unset(graft.service.Settings.DictAgg.name)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def ch(sql: String): DataFrame = {
    graft.core.Tables.registerViews(spark, sfDir)
    graft.dialect.ChSql.sql(spark, sql)
  }

  test("grouped uniq(string) rides the kernel and matches native HLL++ exactly") {
    def q() = ch(
      "SELECT o_orderstatus, uniq(o_orderpriority) AS u FROM orders GROUP BY o_orderstatus")
    val before = DictAgg.engagements.get()
    val fast = rows(q())
    assert(DictAgg.engagements.get() > before, "kernel did not engage")
    assert(fast == withDisabled(rows(q())))
  }

  test("the reference headline shape: grouped uniq over a long key column") {
    def q() = ch(
      "SELECT o_orderstatus, uniq(o_custkey) AS u, count() AS n FROM orders GROUP BY o_orderstatus")
    val before = DictAgg.engagements.get()
    val fast = rows(q())
    assert(DictAgg.engagements.get() > before, "kernel did not engage")
    assert(fast == withDisabled(rows(q())))
    // the estimate is in uniq()'s accuracy class vs the exact answer
    val exact = ch(
      "SELECT o_orderstatus, uniqExact(o_custkey) AS u FROM orders GROUP BY o_orderstatus")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    q().collect().foreach { r =>
      val e = exact(r.getString(0)).toDouble
      assert(math.abs(r.getLong(1) - e) / e <= 0.05,
        s"${r.getString(0)}: estimate ${r.getLong(1)} vs exact $e")
    }
  }

  test("GLOBAL uniq engages single-stage and matches native exactly (q32 shape)") {
    def q() = ch("SELECT uniq(o_custkey) AS u FROM orders")
    val before = DictAgg.engagements.get()
    val plan = q().queryExecution.executedPlan
    assert(plan.collectFirst { case d: DriverMergeAggExec => d }.isDefined,
      s"expected a single-stage DriverMergeAgg leaf, got:\n$plan")
    val fast = rows(q())
    assert(DictAgg.engagements.get() > before, "kernel did not engage")
    assert(fast == withDisabled(rows(q())))
  }

  test("filtered uniq (WHERE + uniqIf) matches native exactly") {
    def q() = ch(
      """SELECT o_orderstatus, uniq(o_custkey) AS u,
        |       uniqIf(o_custkey, o_orderpriority LIKE '1%') AS ui
        |FROM orders WHERE o_totalprice > 1000
        |GROUP BY o_orderstatus""".stripMargin)
    val fast = rows(q())
    assert(fast == withDisabled(rows(q())))
  }

  test("uniq over an ATTACHed MergeTree table matches native (LC strings decode)") {
    val wh = java.nio.file.Files.createTempDirectory("graft_hll_mt").toString
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    ch("""CREATE TABLE hll_mt ENGINE = MergeTree ORDER BY (okey) AS
        |SELECT o_orderkey AS okey, o_orderstatus AS st, o_custkey AS ck
        |FROM orders""".stripMargin).collect()
    def q() = ch("SELECT st, uniq(ck) AS u FROM hll_mt GROUP BY st")
    val fast = rows(q())
    assert(fast == withDisabled(rows(q())))
    ch("DROP TABLE hll_mt").collect()
  }

  test("float, double, and date inputs match native exactly too") {
    def q() = ch(
      """SELECT l_returnflag, uniq(l_quantity) AS uq,
        |       uniq(l_extendedprice) AS up, uniq(l_shipdate) AS ud
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)
    val before = DictAgg.engagements.get()
    val fast = rows(q())
    assert(DictAgg.engagements.get() > before, "kernel did not engage")
    assert(fast == withDisabled(rows(q())))
  }

  test("non-default rsd engages too and matches native exactly (r19)") {
    val ord = graft.core.Tables.load(spark, sfDir, "orders")
    def q() = ord.groupBy("o_orderstatus")
      .agg(approx_count_distinct(col("o_custkey"), 0.02).as("u"))
    val before = DictAgg.engagements.get()
    val fast = rows(q())
    assert(DictAgg.engagements.get() > before,
      "kernel did not engage on a supported non-default rsd")
    assert(fast == withDisabled(rows(q())))
  }

  // ---- r19: the uniqCombined precision class (VERDICT r18 stretch #8) ----

  test("rsdForPrecision lands the helper exactly on each precision 12..18") {
    (12 to 18).foreach { p =>
      val h = HllRegisters.forRsd(HllRegisters.rsdForPrecision(p))
      val expectWords = math.ceil(math.pow(2.0, p) / 10.0).toInt
      assert(h.numWords == expectWords,
        s"p=$p: numWords ${h.numWords}, expected $expectWords")
    }
    assert(!HllRegisters.supported(0.001), "p>18 must keep the native plan off")
  }

  test("uniqCombined rides the kernel at precision 17 and matches native exactly") {
    def q() = ch(
      "SELECT o_orderstatus, uniqCombined(o_custkey) AS u FROM orders GROUP BY o_orderstatus")
    val before = DictAgg.engagements.get()
    val fast = rows(q())
    assert(DictAgg.engagements.get() > before, "kernel did not engage")
    assert(fast == withDisabled(rows(q())))
    // precision 17 is the ~0.3% class: far tighter than uniq()'s ~5%
    val exact = ch("SELECT o_orderstatus, uniqExact(o_custkey) AS u " +
      "FROM orders GROUP BY o_orderstatus")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    q().collect().foreach { r =>
      val e = exact(r.getString(0)).toDouble
      assert(math.abs(r.getLong(1) - e) / e <= 0.01,
        s"${r.getString(0)}: uniqCombined ${r.getLong(1)} vs exact $e")
    }
  }

  test("parametric uniqCombined(12)(x) and uniqCombined64 engage and match native") {
    def q() = ch(
      """SELECT uniqCombined(12)(o_custkey) AS u12,
        |       uniqCombined64(o_custkey) AS u64
        |FROM orders""".stripMargin)
    val before = DictAgg.engagements.get()
    val fast = rows(q())
    assert(DictAgg.engagements.get() > before, "kernel did not engage")
    assert(fast == withDisabled(rows(q())))
  }

  test("uniqCombined(20) saturates at Spark's p=18 bias-table bound, still answers") {
    val r = ch("SELECT uniqCombined(20)(o_custkey) AS u FROM orders").collect()
    assert(r.length == 1 && r(0).getLong(0) > 0)
    val bad = intercept[Exception](
      ch("SELECT uniqCombined(8)(o_custkey) AS u FROM orders").collect())
    assert(bad.getMessage.contains("[12, 20]"))
  }

  test("the HLL gather cap shrinks with register size but never below 16") {
    // p=17 → 13108 words → ~105 KB/slot; at 32 partitions a 256 MB
    // budget caps ~76 slots/partition — the conf scales it
    val words17 = HllRegisters.forRsd(HllRegisters.rsdForPrecision(17)).numWords
    assert(words17 == 13108)
    spark.conf.set(graft.service.Settings.DictAggHllGatherBytes.name, (1L << 20).toString)
    try {
      // 1 MB budget → cap < 16 floor → grouped shape falls back to the
      // native plan via overflow yet still answers correctly
      def q() = ch("SELECT o_orderstatus, uniqCombined(o_custkey) AS u " +
        "FROM orders GROUP BY o_orderstatus")
      assert(rows(q()) == withDisabled(rows(q())))
    } finally spark.conf.unset(graft.service.Settings.DictAggHllGatherBytes.name)
  }
}
