package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Bitmap-based exact distinct ([[BitmapDistinctRewrite]]): the
  * rewritten plan must be answer-identical to Spark's native
  * count(DISTINCT …), engage on the q3 bench shape, and stay off
  * every shape outside its guardrails. */
class BitmapDistinctSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private lazy val table: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_bmd").toString
    import scala.jdk.CollectionConverters._
    val rows = (0 until 10000).map { i =>
      org.apache.spark.sql.Row(
        if (i % 31 == 0) null else java.lang.Long.valueOf((i % 997).toLong * 7919L),
        if (i % 17 == 0) null else java.lang.Integer.valueOf(i % 211),
        s"s${i % 5}")
    }.asJava
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("l", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("i", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("s", org.apache.spark.sql.types.StringType)))
    spark.createDataFrame(rows, schema).repartition(4)
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    s"$dir/t.parquet"
  }

  private def withDisabled[T](f: => T): T = {
    spark.conf.set(graft.service.Settings.BitmapDistinct.name, "false")
    try f finally spark.conf.unset(graft.service.Settings.BitmapDistinct.name)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("engages on count(DISTINCT intCol) and matches the native answer") {
    def q() = spark.read.parquet(table)
      .agg(countDistinct(col("l")).as("ul"), countDistinct(col("i")).as("ui"))
    val before = BitmapDistinct.engagements.get()
    val fast = rows(q())
    assert(BitmapDistinct.engagements.get() > before,
      "bitmapDistinct did not engage")
    assert(fast == withDisabled(rows(q())))
  }

  test("negative Long values and an expression wrapper round-trip") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bmd2").toString
    import scala.jdk.CollectionConverters._
    val rows0 = Seq(-5L, -5L, 0L, 3L, Long.MinValue, Long.MaxValue)
      .map(v => org.apache.spark.sql.Row(java.lang.Long.valueOf(v))).asJava
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType)))
    spark.createDataFrame(rows0, schema).write.mode("overwrite").parquet(s"$dir/t")
    def q() = spark.read.parquet(s"$dir/t")
      .agg((countDistinct(col("v")) + lit(100L)).as("u"))
    val before = BitmapDistinct.engagements.get()
    assert(rows(q()) == Seq("[105]"))
    assert(BitmapDistinct.engagements.get() > before)
  }

  test("empty table yields 0, like the native path") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bmd3").toString
    spark.range(0).selectExpr("id AS v").write.parquet(s"$dir/t")
    def q() = spark.read.parquet(s"$dir/t").agg(countDistinct(col("v")).as("u"))
    assert(rows(q()) == Seq("[0]"))
    assert(rows(q()) == withDisabled(rows(q())))
  }

  test("stays off: string column, GROUP BY, filter, plain count, mixed aggs") {
    val df = spark.read.parquet(table)
    def noEngage(mk: => DataFrame): Unit = {
      val before = BitmapDistinct.engagements.get()
      mk.collect()
      assert(BitmapDistinct.engagements.get() == before)
    }
    noEngage(df.agg(countDistinct(col("s"))))
    noEngage(df.groupBy("s").agg(countDistinct(col("l"))))
    noEngage(df.filter(col("i") > 3).agg(countDistinct(col("l"))))
    noEngage(df.agg(count(col("l"))))
    noEngage(df.agg(countDistinct(col("l")), sum(col("i"))))
  }

  test("ATTACHed MergeTree tables engage too (r16)") {
    val wh = java.nio.file.Files.createTempDirectory("graft_bmd_mt").toString
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    val svc = new graft.service.QueryService(spark)
    try {
      svc.execute(graft.service.QueryService.QueryRequest(
        "CREATE TABLE bmd_mt (v Int64, w Int32) ENGINE = MergeTree " +
          "ORDER BY v AS SELECT number % 321 AS v, " +
          "CAST(number % 77 AS INT) AS w FROM numbers(10000)"))
      def q() = graft.dialect.ChSql.sql(spark,
        "SELECT uniqExact(v) AS uv, uniqExact(w) AS uw FROM bmd_mt")
      val before = BitmapDistinct.engagements.get()
      val fast = rows(q())
      assert(BitmapDistinct.engagements.get() > before,
        "bitmapDistinct did not engage on the MergeTree DSv2 relation")
      assert(fast == Seq("[321,77]"))
      assert(fast == withDisabled(rows(q())))
      svc.execute(graft.service.QueryService.QueryRequest("DROP TABLE bmd_mt"))
    } finally spark.conf.unset(graft.service.Settings.WarehouseDir.name)
  }

  test("dense-domain bitset and Roaring agree; plan is single-stage driver merge") {
    def q() = spark.read.parquet(table)
      .agg(countDistinct(col("l")).as("ul"), countDistinct(col("i")).as("ui"))
    // the table's l-span (~7.9M) and i-span (211) both sit under the
    // 2^24 dense gate → dense engages by default; forcing the gate to
    // 0 falls back to Roaring — answers must be identical
    val dense = rows(q())
    spark.conf.set(graft.service.Settings.BitmapDistinctDenseMaxRange.name, "0")
    val roaring = try rows(q())
    finally spark.conf.unset(graft.service.Settings.BitmapDistinctDenseMaxRange.name)
    assert(dense == roaring)
    // the optimized plan is the single-stage driver-merge leaf — no
    // Aggregate, no exchange (the r17 lever made visible)
    val plan = q().queryExecution.optimizedPlan.toString
    assert(plan.contains("DriverMergeAgg"),
      s"expected the single-stage driver-merge leaf:\n$plan")
    assert(!q().queryExecution.executedPlan.toString.contains("Exchange"),
      "single-stage plan must not shuffle")
  }

  test("the dialect uniqExact spelling engages — the q3 bench shape") {
    spark.read.parquet(table).createOrReplaceTempView("bmd_t")
    val before = BitmapDistinct.engagements.get()
    val fast = rows(graft.dialect.ChSql.sql(spark,
      "SELECT uniqExact(l) AS u FROM bmd_t"))
    assert(BitmapDistinct.engagements.get() > before)
    assert(fast == withDisabled(rows(graft.dialect.ChSql.sql(spark,
      "SELECT uniqExact(l) AS u FROM bmd_t"))))
  }

  test("dictionary-coded distinct agrees with native (dense and roaring, nulls)") {
    // low-cardinality columns ride the r19 id-seen dictionary lane:
    // `i` spans < 2^24 (dense bitset), `l` spans the full Long range
    // (Roaring) — both must match the native plan, nulls ignored
    val dir = java.nio.file.Files.createTempDirectory("graft_bmd_d").toString
    import scala.jdk.CollectionConverters._
    val rows0 = (0 until 50000).map { i =>
      org.apache.spark.sql.Row(
        if (i % 19 == 0) null
        else java.lang.Long.valueOf((i % 101).toLong * 92233720368547L - 4611686018427387904L),
        if (i % 23 == 0) null else java.lang.Integer.valueOf(i % 347))
    }.asJava
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("l", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("i", org.apache.spark.sql.types.IntegerType)))
    spark.createDataFrame(rows0, schema).repartition(3)
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    def q() = spark.read.parquet(s"$dir/t.parquet")
      .agg(countDistinct(col("l")).as("ul"), countDistinct(col("i")).as("ui"))
    val before = BitmapDistinct.engagements.get()
    val fast = rows(q())
    assert(BitmapDistinct.engagements.get() > before,
      "bitmapDistinct did not engage")
    assert(fast == withDisabled(rows(q())))
  }
}
