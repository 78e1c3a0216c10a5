package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Dictionary-code aggregation rewrite ([[DictAggRewrite]]): the
  * rewritten plan must be answer-identical to the direct path across
  * every supported aggregate, null shape, and the group-cap overflow
  * fallback — and it must actually ENGAGE on the bench q2 shape
  * (a silently-disengaged optimization is the r15 bug class). */
class DictAggSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private lazy val table: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_dictagg").toString
    import scala.jdk.CollectionConverters._
    val rows = (0 until 5000).map { i =>
      val key = if (i % 97 == 0) null else s"k${i % 7}"
      org.apache.spark.sql.Row(
        key,
        if (i % 13 == 0) null else java.lang.Integer.valueOf(i % 100),
        if (i % 11 == 0) null else java.lang.Long.valueOf(i.toLong * 3),
        if (i % 17 == 0) null else java.lang.Float.valueOf(i / 7.0f),
        if (i % 19 == 0) null else java.lang.Double.valueOf(i / 3.0),
        s"v$i")
    }.asJava
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("i", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("l", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("f", org.apache.spark.sql.types.FloatType),
      org.apache.spark.sql.types.StructField("d", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("s", org.apache.spark.sql.types.StringType)))
    spark.createDataFrame(rows, schema)
      .repartition(3)
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    s"$dir/t.parquet"
  }

  // float/double sums and avgs round to 6dp: merge ORDER across
  // partitions is nondeterministic on both the native and rewritten
  // paths (shuffle fetch order vs driver collect order), so the last
  // ULPs legitimately move — same caveat as AggProjections
  private def agged(df: DataFrame, key: String = "k"): DataFrame =
    df.groupBy(key).agg(
      sum("i").as("si"), sum("l").as("sl"),
      round(sum("f"), 6).as("sf"), round(sum("d"), 6).as("sd"),
      count(lit(1)).as("c"), count(col("d")).as("cd"), count(col("s")).as("cs"),
      min("i").as("mni"), max("l").as("mxl"), min("f").as("mnf"), max("d").as("mxd"),
      round(avg("i"), 6).as("ai"), round(avg("d"), 6).as("ad"),
      sum("l").cast("string").as("slc"))

  private def collectSorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def withDisabled[T](f: => T): T = {
    spark.conf.set(graft.service.Settings.DictAgg.name, "false")
    try f finally spark.conf.unset(graft.service.Settings.DictAgg.name)
  }

  /** Runs `f` with `maxTotalRows` sized from `path`'s scan partition
    * count so the kernel's per-partition group cap is exactly `cap`. */
  private def withCap[T](path: String, cap: Int)(f: => T): T = {
    val parts = spark.read.parquet(path).rdd.getNumPartitions
    spark.conf.set(graft.service.Settings.DriverMergeMaxTotalRows.name, (cap.toLong * parts).toString)
    try f finally spark.conf.unset(graft.service.Settings.DriverMergeMaxTotalRows.name)
  }

  /** `f`'s result, asserting that the driver merge overflowed and its
    * native fallback ran to completion while `f` ran. */
  private def viaFallback[T](f: => T): T = {
    val before = DriverMerge.fallbacksCompleted.get()
    val out = f
    assert(DriverMerge.fallbacksCompleted.get() > before,
      "no driver-merge fallback ran: the overflow was not exercised")
    out
  }

  test("rewrite engages on the q2 shape and matches the direct path") {
    val df = spark.read.parquet(table)
    val before = DictAgg.engagements.get()
    val fast = collectSorted(agged(df))
    assert(DictAgg.engagements.get() > before,
      "dictAgg rewrite did not engage on a plain GROUP BY string key over parquet")
    val slow = withDisabled(collectSorted(agged(spark.read.parquet(table))))
    assert(fast == slow)
  }

  test("engagement is visible in the optimized plan (single-stage driver merge)") {
    val df = spark.read.parquet(table)
      .groupBy("k").agg(sum("d").as("s"))
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("DriverMergeAgg"),
      s"expected the single-stage driver-merge leaf in the plan:\n$plan")
  }

  test("cap overflow: the driver merge falls back to the native plan, same answer") {
    // GROUP BY i: 101 groups per partition against a cap of 16 — the
    // partial task fails fast and the exec re-runs the native plan.
    // `slc` (a cast over sum) puts the plan in GENERAL mode, so the
    // fallback's rows must come back in the leaf's column layout
    def q() = agged(spark.read.parquet(table), "i")
    withCap(table, 16) {
      val before = DictAgg.engagements.get()
      val fast = viaFallback(collectSorted(q()))
      assert(DictAgg.engagements.get() > before)
      assert(fast == withDisabled(collectSorted(q())))
    }
  }

  test("a cap below 16 stands the rewrite down: native plan, same answer") {
    def q() = spark.read.parquet(table).groupBy("k").agg(sum("d").as("s"))
    withCap(table, 15) {
      val plan = q().queryExecution.optimizedPlan.toString
      assert(!plan.contains("DriverMergeAgg") && !plan.contains("LogicalRDD"),
        s"a cap below 16 must keep the native plan:\n$plan")
      assert(collectSorted(q()) == withDisabled(collectSorted(q())))
    }
  }

  test("all-null measure groups and the null key group match") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dictagg2").toString
    import scala.jdk.CollectionConverters._
    val rows = Seq(
      org.apache.spark.sql.Row("a", null),
      org.apache.spark.sql.Row("a", null),
      org.apache.spark.sql.Row(null, java.lang.Double.valueOf(2.5)),
      org.apache.spark.sql.Row(null, null),
      org.apache.spark.sql.Row("b", java.lang.Double.valueOf(-1.0))).asJava
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("d", org.apache.spark.sql.types.DoubleType)))
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(s"$dir/t.parquet")
    def q() = spark.read.parquet(s"$dir/t.parquet").groupBy("k")
      .agg(sum("d").as("s"), avg("d").as("a"), count(lit(1)).as("c"),
        min("d").as("mn"), max("d").as("mx"))
    val before = DictAgg.engagements.get()
    val fast = collectSorted(q())
    assert(DictAgg.engagements.get() > before)
    assert(fast == withDisabled(collectSorted(q())))
  }

  test("float NaN and -0.0 min/max ordering matches Spark") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dictagg3").toString
    import scala.jdk.CollectionConverters._
    val rows = Seq(
      org.apache.spark.sql.Row("a", java.lang.Double.valueOf(Double.NaN)),
      org.apache.spark.sql.Row("a", java.lang.Double.valueOf(1.0)),
      org.apache.spark.sql.Row("b", java.lang.Double.valueOf(-0.0)),
      org.apache.spark.sql.Row("b", java.lang.Double.valueOf(0.0))).asJava
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("d", org.apache.spark.sql.types.DoubleType)))
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(s"$dir/t.parquet")
    def q() = spark.read.parquet(s"$dir/t.parquet").groupBy("k")
      .agg(min("d").as("mn"), max("d").as("mx"))
    // Spark's SQL ordering ties -0.0 with 0.0 (SQLOrderingUtil), so the
    // NATIVE min/max keep an arrival-order-dependent representative of
    // the tie — native-vs-native reruns flip the sign bit too. The
    // kernel normalizes to +0.0 deterministically; compare up to sign.
    def normZero(s: Seq[String]): Seq[String] = s.map(_.replace("-0.0", "0.0"))
    val fast = normZero(collectSorted(q()))
    assert(fast == normZero(withDisabled(collectSorted(q()))))
  }

  test("avg over huge longs matches Spark: Double accumulation (review r16)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dictagg_ovf").toString
    import scala.jdk.CollectionConverters._
    val rows = Seq(
      org.apache.spark.sql.Row("a", java.lang.Long.valueOf(Long.MaxValue)),
      org.apache.spark.sql.Row("a", java.lang.Long.valueOf(10L)),
      org.apache.spark.sql.Row("b", java.lang.Long.valueOf(-3L))).asJava
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType)))
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(s"$dir/t")
    // a Long accumulator would throw (ANSI) or wrap negative here —
    // Spark's Average sums every non-decimal numeric in Double
    def q() = spark.read.parquet(s"$dir/t").groupBy("k").agg(avg("v").as("a"))
    val before = DictAgg.engagements.get()
    val fast = collectSorted(q())
    assert(DictAgg.engagements.get() > before)
    assert(fast == withDisabled(collectSorted(q())))
  }

  test("stays native: string-distinct, float keys, unsupported predicates") {
    val df = spark.read.parquet(table)
    def noEngage(mk: => DataFrame): Unit = {
      val before = DictAgg.engagements.get()
      mk.collect()
      assert(DictAgg.engagements.get() == before)
    }
    // STRING distinct has no bitmap domain and stays native
    noEngage(df.groupBy("k").agg(countDistinct("s")))
    // float group keys are outside the key language (NaN/-0.0 identity)
    noEngage(df.groupBy("f").agg(sum("d")))
    // a predicate outside the kernel's language (column-vs-column)
    // stands the whole rewrite down
    noEngage(df.filter(col("i") > col("l")).groupBy("k").agg(sum("d")))
    // contains / suffix LIKE is outside the language (only the
    // prefix-LIKE simplification compiles)
    noEngage(df.filter(col("s").contains("42")).groupBy("k").agg(sum("d")))
    // five group keys stay native (the guard stops at four)
    noEngage(df.groupBy("k", "s", "i", "l", "f").agg(sum("d")))
  }

  test("IN lists, prefix LIKE, and 3-4 group keys engage (r17b)") {
    val df = spark.read.parquet(table)
    def matches(mk: => DataFrame): Unit = {
      val before = DictAgg.engagements.get()
      val fast = collectSorted(mk)
      assert(DictAgg.engagements.get() > before, "did not engage")
      assert(fast == withDisabled(collectSorted(mk)))
    }
    // int IN list + string IN list + prefix LIKE in one conjunction
    matches(df.filter(col("i").isin(1, 5, 7, 99) &&
        col("k").isin("k1", "k3", "nope") && col("s").startsWith("v1"))
      .groupBy("k").agg(sum("l").as("sl"), count(lit(1)).as("c")))
    // a big IN list (Spark converts to InSet past 10 elements)
    matches(df.filter(col("i").isin(0 to 40: _*))
      .groupBy("k").agg(count(lit(1)).as("c")))
    // three keys (composite path), mixed types
    matches(df.groupBy("k", "i", "s")
      .agg(sum("l").as("sl"), count(lit(1)).as("c")))
    // four keys with a filter and a distinct riding along
    matches(df.filter(col("l") > 100L).groupBy("k", "i", "l", "s")
      .agg(count(lit(1)).as("c"), countDistinct(col("i")).as("ui")))
  }

  test("FILTERED scans engage and match native (r17 generalization)") {
    def q() = spark.read.parquet(table)
      .filter(col("i") > 10 && col("k") >= "k2" && col("l") =!= 33L)
      .groupBy("k").agg(
        sum("i").as("si"), round(sum("d"), 6).as("sd"), count(lit(1)).as("c"),
        countDistinct(col("l")).as("ul"), min("i").as("mn"))
    val before = DictAgg.engagements.get()
    val fast = collectSorted(q())
    assert(DictAgg.engagements.get() > before,
      "dictAgg did not engage on the filtered grouped shape")
    assert(fast == withDisabled(collectSorted(q())))
    // filtered GLOBAL mixed shape engages too
    def g() = spark.read.parquet(table)
      .filter(col("d") <= 900.0)
      .agg(count(lit(1)).as("c"), countDistinct(col("i")).as("ui"),
        sum("l").as("sl"))
    val b2 = DictAgg.engagements.get()
    val gFast = collectSorted(g())
    assert(DictAgg.engagements.get() > b2,
      "dictAgg did not engage on the filtered global mixed shape")
    assert(gFast == withDisabled(collectSorted(g())))
    // a filter selecting NOTHING still yields grouped-empty / global-one-row
    def e() = spark.read.parquet(table).filter(col("i") > 1000000)
      .groupBy("k").agg(sum("l").as("s"))
    assert(collectSorted(e()).isEmpty && withDisabled(collectSorted(e())).isEmpty)
    // filtered PURE-distinct global engages here too (r17: unfiltered
    // stays with BitmapDistinct's dense path; native pays 3 stages on
    // the filtered spelling)
    def pd() = spark.read.parquet(table).filter(col("i") > 50)
      .agg(countDistinct(col("l")).as("ul"), countDistinct(col("i")).as("ui"))
    val b3 = DictAgg.engagements.get()
    val pdFast = collectSorted(pd())
    assert(DictAgg.engagements.get() > b3,
      "dictAgg did not engage on the filtered pure-distinct global")
    assert(pdFast == withDisabled(collectSorted(pd())))
    // an empty filtered pure-distinct global yields one row of zeros
    def pz() = spark.read.parquet(table).filter(col("i") > 1000000)
      .agg(countDistinct(col("l")).as("ul"))
    assert(collectSorted(pz()) == Seq("[0]"))
    assert(collectSorted(pz()) == withDisabled(collectSorted(pz())))
  }

  test("INT / LONG group keys engage and match native (r17 generalization)") {
    // int key (102 groups incl. null), with distinct + avg riding along
    def qi() = spark.read.parquet(table).groupBy("i").agg(
      sum("l").as("sl"), count(lit(1)).as("c"),
      countDistinct(col("l")).as("ul"), round(avg("d"), 6).as("ad"))
    val before = DictAgg.engagements.get()
    val fast = collectSorted(qi())
    assert(DictAgg.engagements.get() > before,
      "dictAgg did not engage on the int-key shape")
    assert(fast == withDisabled(collectSorted(qi())))
    // long key at higher cardinality (~4.5k groups), filtered
    def ql() = spark.read.parquet(table).filter(col("i").isNotNull)
      .groupBy("l").agg(count(lit(1)).as("c"), min("i").as("mn"))
    val b2 = DictAgg.engagements.get()
    val lFast = collectSorted(ql())
    assert(DictAgg.engagements.get() > b2,
      "dictAgg did not engage on the long-key shape")
    assert(lFast == withDisabled(collectSorted(ql())))
    // (int, string) key pair rides the composite path
    def q2() = spark.read.parquet(table).groupBy("i", "k")
      .agg(sum("l").as("s"), count(lit(1)).as("c"))
    val b3 = DictAgg.engagements.get()
    val pFast = collectSorted(q2())
    assert(DictAgg.engagements.get() > b3,
      "dictAgg did not engage on the (int, string) key pair")
    assert(pFast == withDisabled(collectSorted(q2())))
    // int-key overflow (102 groups) past a cap of 16: fail-fast →
    // native fallback
    withCap(table, 16)(assert(viaFallback(collectSorted(qi())) == fast))
  }

  test("GLOBAL mixed distinct+plain aggregates engage — no Expand (r16)") {
    // the q26 shape: count/min/max/sum + uniqExact in ONE global
    // statement — Spark's native plan pays an Expand; the kernel
    // shares one scan with a bitmap for the distinct
    // the double sum rounds to 6dp — merge ORDER across partitions is
    // nondeterministic on both paths, so the last ULPs move
    def q() = spark.read.parquet(table).agg(
      count(lit(1)).as("c"), round(sum("d"), 6).as("sd"),
      min("i").as("mn"), max("l").as("mx"),
      countDistinct(col("l")).as("ul"))
    val before = DictAgg.engagements.get()
    val fast = collectSorted(q())
    assert(DictAgg.engagements.get() > before,
      "dictAgg did not engage on the global mixed shape")
    assert(fast == withDisabled(collectSorted(q())))
    // pure-plain global stays native (codegen wins there) and
    // pure-distinct global stays with BitmapDistinct
    val b2 = DictAgg.engagements.get()
    spark.read.parquet(table).agg(sum("d"), count(lit(1))).collect()
    spark.read.parquet(table).agg(countDistinct(col("l"))).collect()
    assert(DictAgg.engagements.get() == b2)
  }

  test("GLOBAL mixed over an EMPTY table: one row, native semantics") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dictagg_empty").toString
    spark.range(0).selectExpr("CAST(id AS STRING) AS k", "id AS v")
      .write.parquet(s"$dir/t")
    def q() = spark.read.parquet(s"$dir/t").agg(
      count(lit(1)).as("c"), sum("v").as("s"), countDistinct(col("v")).as("u"))
    val before = DictAgg.engagements.get()
    val fast = collectSorted(q())
    assert(DictAgg.engagements.get() > before,
      "dictAgg did not engage on the empty-table global mixed shape")
    assert(fast == Seq("[0,null,0]"), fast)
    assert(fast == withDisabled(collectSorted(q())))
    // and the grouped spelling over empty yields NO rows on both paths
    def g() = spark.read.parquet(s"$dir/t").groupBy("k")
      .agg(sum("v").as("s"), countDistinct(col("v")).as("u"))
    assert(collectSorted(g()).isEmpty)
    assert(withDisabled(collectSorted(g())).isEmpty)
  }

  test("conditional aggregates ride per-spec masks: sumIf/countIf/FILTER (r17b)") {
    spark.read.parquet(table).createOrReplaceTempView("dictagg_cond")
    def matches(sql: String): Unit = {
      def q() = graft.dialect.ChSql.sql(spark, sql)
      val before = DictAgg.engagements.get()
      val fast = collectSorted(q())
      assert(DictAgg.engagements.get() > before, s"did not engage: $sql")
      assert(fast == withDisabled(collectSorted(q())), sql)
    }
    // the CH -If spellings (agg(If(cond, x, NULL)) underneath)
    matches("SELECT k, sumIf(l, i > 50) AS s_hi, countIf(i > 50) AS c_hi, " +
      "round(avgIf(d, i < 30), 6) AS a_lo, minIf(i, l > 300) AS mn, " +
      "maxIf(l, k != 'k3') AS mx, count() AS c " +
      "FROM dictagg_cond GROUP BY k")
    // SQL FILTER (WHERE …) clauses, including on count(DISTINCT)
    matches("SELECT k, sum(l) FILTER (WHERE i > 50) AS s_hi, " +
      "count(DISTINCT i) FILTER (WHERE l > 300) AS u_hi, " +
      "count(*) FILTER (WHERE s >= 'v5') AS c_s " +
      "FROM dictagg_cond GROUP BY k")
    // the DataFrame when(cond, x) spelling (single-branch CaseWhen)
    val df = spark.read.parquet(table)
    def wq() = df.groupBy("k").agg(
      sum(when(col("i") > 50, col("l"))).as("s_hi"),
      count(lit(1)).as("c"))
    val b2 = DictAgg.engagements.get()
    val wFast = collectSorted(wq())
    assert(DictAgg.engagements.get() > b2, "when() spelling did not engage")
    assert(wFast == withDisabled(collectSorted(wq())))
    // a condition OUTSIDE the predicate language stands the rewrite down
    val b3 = DictAgg.engagements.get()
    graft.dialect.ChSql.sql(spark,
      "SELECT k, sumIf(l, i > l) AS s FROM dictagg_cond GROUP BY k").collect()
    assert(DictAgg.engagements.get() == b3)
  }

  test("kill switch disables the rewrite") {
    withDisabled {
      val before = DictAgg.engagements.get()
      spark.read.parquet(table).groupBy("k").agg(sum("d")).collect()
      assert(DictAgg.engagements.get() == before)
    }
  }

  test("grouped count(DISTINCT intCol) rides per-slot bitmaps, same answers") {
    def q() = spark.read.parquet(table).groupBy("k").agg(
      countDistinct(col("i")).as("ui"), countDistinct(col("l")).as("ul"),
      round(sum("d"), 6).as("sd"), count(lit(1)).as("c"))
    val before = DictAgg.engagements.get()
    val fast = collectSorted(q())
    assert(DictAgg.engagements.get() > before,
      "dictAgg did not engage on the grouped count-distinct shape")
    assert(fast == withDisabled(collectSorted(q())))
    // string distinct stays on the native plan
    val b2 = DictAgg.engagements.get()
    spark.read.parquet(table).groupBy("k").agg(countDistinct(col("s"))).collect()
    assert(DictAgg.engagements.get() == b2)
  }

  test("TWO string keys ride the packed-code pair cache, same answers (r16)") {
    // k (7 values + null) × s2 (derived 3-value string col) — write a
    // two-string-key table
    val dir = java.nio.file.Files.createTempDirectory("graft_dictagg2k").toString
    spark.read.parquet(table)
      .withColumn("s2", concat(lit("g"), (col("i") % 3).cast("string")))
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    // double sums/avgs round to 6dp: merge ORDER across partitions is
    // nondeterministic in both the native and the rewritten plan, so
    // the last ULPs legitimately move (same caveat as AggProjections)
    def q() = spark.read.parquet(s"$dir/t.parquet")
      .groupBy("k", "s2").agg(
        round(sum("d"), 6).as("sd"), count(lit(1)).as("c"),
        countDistinct(col("l")).as("ul"), round(avg("i"), 6).as("ai"))
    val before = DictAgg.engagements.get()
    val fast = collectSorted(q())
    assert(DictAgg.engagements.get() > before,
      "dictAgg did not engage on the two-key shape")
    assert(fast == withDisabled(collectSorted(q())))
    // s2 is null when i is null → null key PARTS in both positions
    // are exercised; past a cap of 16 (up to 32 key pairs per
    // partition) the native fallback stays exact
    withCap(s"$dir/t.parquet", 16)(
      assert(viaFallback(collectSorted(q())) == fast))
    // three keys engage too since r17b (composite path) — same answers
    val b2 = DictAgg.engagements.get()
    def q3() = spark.read.parquet(s"$dir/t.parquet")
      .groupBy("k", "s2", "s").agg(round(sum("d"), 6).as("sd"))
    val threeKey = collectSorted(q3())
    assert(DictAgg.engagements.get() > b2)
    assert(threeKey == withDisabled(collectSorted(q3())))
  }

  test("ATTACHed MergeTree tables engage too — dictionary-backed LC vectors (r16)") {
    val wh = java.nio.file.Files.createTempDirectory("graft_dictagg_mt").toString
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    val svc = new graft.service.QueryService(spark)
    try {
      svc.execute(graft.service.QueryService.QueryRequest(
        "CREATE TABLE dictagg_mt (tag LowCardinality(String), v Int64, " +
          "w Float64) ENGINE = MergeTree ORDER BY tag AS " +
          "SELECT concat('t', toString(number % 5)) AS tag, " +
          "number AS v, number / 7 AS w FROM numbers(20000)"))
      def q() = graft.dialect.ChSql.sql(spark,
        "SELECT tag, sum(v) AS sv, uniqExact(v) AS uv, " +
          "round(avg(w), 6) AS aw, count() AS c " +
          "FROM dictagg_mt GROUP BY tag ORDER BY tag")
      val before = DictAgg.engagements.get()
      val fast = collectSorted(q())
      assert(DictAgg.engagements.get() > before,
        "dictAgg did not engage on the MergeTree DSv2 relation")
      assert(fast == withDisabled(collectSorted(q())))
      svc.execute(graft.service.QueryService.QueryRequest("DROP TABLE dictagg_mt"))
    } finally spark.conf.unset(graft.service.Settings.WarehouseDir.name)
  }

  test("the dialect front door (ChSql) engages too — the q2 bench spelling") {
    spark.read.parquet(table).createOrReplaceTempView("dictagg_t")
    val before = DictAgg.engagements.get()
    val fast = collectSorted(graft.dialect.ChSql.sql(spark,
      "SELECT k, sum(d) AS s FROM dictagg_t GROUP BY k"))
    assert(DictAgg.engagements.get() > before)
    val slow = withDisabled(collectSorted(graft.dialect.ChSql.sql(spark,
      "SELECT k, sum(d) AS s FROM dictagg_t GROUP BY k")))
    assert(fast == slow)
  }
}
