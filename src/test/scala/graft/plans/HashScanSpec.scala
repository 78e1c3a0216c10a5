package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Vectorized hash scan ([[HashScanRewrite]]): the columnar
  * cityHash64 fold must be answer-identical to the codegen'd
  * expression path (the kill switch) on every supported column type,
  * engage on the bench q4 shape, fall back on Long-sum overflow, and
  * stay off everything outside its guardrails. */
class HashScanSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def withDisabled[T](f: => T): T = {
    spark.conf.set(graft.service.Settings.HashScan.name, "false")
    try f finally spark.conf.unset(graft.service.Settings.HashScan.name)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def hashScan(df: DataFrame, m: Long = 1000000007L): DataFrame =
    df.select(call_function("cityHash64",
        df.columns.map(col).toIndexedSeq: _*).as("h"))
      .agg(sum(pmod(col("h"), lit(m))).as("s"))

  test("engages on the bench q4 shape and matches the expression path") {
    def q() = hashScan(graft.core.Tables.load(spark, sfDir, "lineitem"))
    val before = HashScan.engagements.get()
    val fast = rows(q())
    assert(HashScan.engagements.get() > before, "hashScan did not engage")
    assert(fast == withDisabled(rows(q())))
  }

  test("all supported lane types agree with the expression path (nulls included)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_hs").toString
    import scala.jdk.CollectionConverters._
    val rows0 = (0 until 5000).map { i =>
      org.apache.spark.sql.Row(
        if (i % 7 == 0) null else java.lang.Long.valueOf(i * 1234567L),
        if (i % 11 == 0) null else java.lang.Integer.valueOf(i - 2500),
        java.lang.Short.valueOf((i % 30000).toShort),
        java.lang.Byte.valueOf((i % 127).toByte),
        java.lang.Boolean.valueOf(i % 2 == 0),
        if (i % 13 == 0) null else java.lang.Double.valueOf(i * 0.37),
        java.lang.Float.valueOf(i * 1.5f),
        if (i % 5 == 0) null else s"str-$i-${"x" * (i % 19)}",
        Array.tabulate(i % 9)(b => (b + i).toByte),
        java.sql.Date.valueOf("2024-01-01").toLocalDate.plusDays(i % 900),
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1700000000L + i)))
    }.asJava
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("l", LongType), StructField("i", IntegerType),
      StructField("sh", ShortType), StructField("b", ByteType),
      StructField("bo", BooleanType), StructField("d", DoubleType),
      StructField("f", FloatType), StructField("s", StringType),
      StructField("bin", BinaryType), StructField("dt", DateType),
      StructField("ts", TimestampType)))
    spark.createDataFrame(
      spark.createDataFrame(rows0, schema).rdd.map(identity), schema)
      .repartition(4).write.mode("overwrite").parquet(s"$dir/t.parquet")
    def q() = hashScan(spark.read.parquet(s"$dir/t.parquet"), m = 777777773L)
    val before = HashScan.engagements.get()
    val fast = rows(q())
    assert(HashScan.engagements.get() > before, "hashScan did not engage")
    assert(fast == withDisabled(rows(q())))
  }

  test("two aggregates with different moduli over the same hash agree") {
    val li = graft.core.Tables.load(spark, sfDir, "lineitem")
    def q() = li.select(call_function("cityHash64",
        li.columns.map(col).toIndexedSeq: _*).as("h"))
      .agg(sum(pmod(col("h"), lit(1000000007L))).as("s1"),
        sum(pmod(col("h"), lit(97L))).as("s2"))
    val before = HashScan.engagements.get()
    val fast = rows(q())
    assert(HashScan.engagements.get() > before, "hashScan did not engage")
    assert(fast == withDisabled(rows(q())))
  }

  test("empty scan sums to NULL, like the native path") {
    val dir = java.nio.file.Files.createTempDirectory("graft_hs_e").toString
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("v", LongType)))
    spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    def q() = hashScan(spark.read.parquet(s"$dir/t.parquet"))
    assert(rows(q()) == withDisabled(rows(q())))
    assert(q().collect()(0).isNullAt(0))
  }

  test("Long-sum overflow falls back to the native plan's ANSI error") {
    val dir = java.nio.file.Files.createTempDirectory("graft_hs_o").toString
    import scala.jdk.CollectionConverters._
    val rows0 = (0 until 64).map(i =>
      org.apache.spark.sql.Row(java.lang.Long.valueOf(i.toLong))).asJava
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("v", LongType)))
    spark.createDataFrame(rows0, schema).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    // modulus near Long.Max: 64 addends of ~9.2e18 overflow in-partition
    val df = spark.read.parquet(s"$dir/t.parquet")
    def q() = hashScan(df, m = Long.MaxValue)
    val fastErr = intercept[Exception] { q().collect() }
    val nativeErr = withDisabled(intercept[Exception] { q().collect() })
    def cls(e: Throwable): String = {
      var t = e
      while (t.getCause != null) t = t.getCause
      t.getClass.getSimpleName + ":" +
        Option(t.getMessage).getOrElse("").take(40)
    }
    // both paths surface Spark's ANSI arithmetic overflow
    assert(cls(fastErr).toLowerCase.contains("overflow") ||
      Option(fastErr.getMessage).exists(_.toLowerCase.contains("overflow")),
      s"fast path error: ${cls(fastErr)}")
    assert(cls(nativeErr).toLowerCase.contains("overflow") ||
      Option(nativeErr.getMessage).exists(_.toLowerCase.contains("overflow")),
      s"native path error: ${cls(nativeErr)}")
  }

  test("ATTACHed MergeTree tables ride the kernel too (the reference's table format)") {
    graft.core.Tables.registerViews(spark, sfDir)
    val wh = java.nio.file.Files.createTempDirectory("graft_hs_mt").toString
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    graft.dialect.ChSql.sql(spark,
      """CREATE TABLE hs_mt ENGINE = MergeTree ORDER BY (okey) AS
        |SELECT l_orderkey AS okey, l_quantity AS q, l_returnflag AS rf
        |FROM lineitem""".stripMargin).collect()
    def q() = graft.dialect.ChSql.sql(spark,
      "SELECT sum(pmod(cityHash64(okey, q, rf), 1000000007)) AS s FROM hs_mt")
    val before = HashScan.engagements.get()
    val fast = rows(q())
    assert(HashScan.engagements.get() > before,
      "hashScan did not engage on the MergeTree scan")
    assert(fast == withDisabled(rows(q())))
    graft.dialect.ChSql.sql(spark, "DROP TABLE hs_mt").collect()
  }

  test("stays off: filter below, GROUP BY, non-literal modulus, mixed aggs") {
    val li = graft.core.Tables.load(spark, sfDir, "lineitem")
    val h = call_function("cityHash64", li.columns.map(col).toIndexedSeq: _*)
    val before = HashScan.engagements.get()
    // filter between aggregate and relation
    li.filter(col("l_quantity") > 10)
      .select(h.as("h")).agg(sum(pmod(col("h"), lit(97L))).as("s")).collect()
    // grouped
    li.select(col("l_returnflag"), h.as("h"))
      .groupBy("l_returnflag").agg(sum(pmod(col("h"), lit(97L))).as("s")).collect()
    // modulus from a column (offset so it is never zero)
    li.select(h.as("h"), col("l_orderkey"))
      .agg(sum(pmod(col("h"), col("l_orderkey") + lit(1L))).as("s")).collect()
    // a non-hash aggregate alongside
    li.select(h.as("h"), col("l_quantity"))
      .agg(sum(pmod(col("h"), lit(97L))).as("s"), avg("l_quantity").as("a"))
      .collect()
    assert(HashScan.engagements.get() == before,
      "hashScan engaged on an unsupported shape")
  }

  test("plan is a single-stage DriverMergeAgg leaf (no exchange)") {
    val li = graft.core.Tables.load(spark, sfDir, "lineitem")
    val df = hashScan(li)
    val plan = df.queryExecution.executedPlan
    assert(plan.collectFirst { case d: DriverMergeAggExec => d }.isDefined,
      s"expected DriverMergeAggExec leaf, got:\n$plan")
    assert(plan.collectFirst {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
    }.isEmpty, s"unexpected exchange in:\n$plan")
  }

  test("dictionary-coded columns agree with the expression path (memo lane)") {
    // low-cardinality columns across every memo-able lane type: the
    // parquet writer dictionary-encodes all of them, so this pins the
    // r19 dictionary-hash memo against the codegen'd expression path
    val dir = java.nio.file.Files.createTempDirectory("graft_hs_d").toString
    import scala.jdk.CollectionConverters._
    val rows0 = (0 until 20000).map { i =>
      org.apache.spark.sql.Row(
        if (i % 7 == 0) null else java.lang.Long.valueOf((i % 13).toLong * 1234567L),
        if (i % 11 == 0) null else java.lang.Integer.valueOf(i % 29),
        java.lang.Short.valueOf((i % 17).toShort),
        java.lang.Byte.valueOf((i % 5).toByte),
        if (i % 13 == 0) null else java.lang.Double.valueOf((i % 31) * 0.37),
        java.lang.Float.valueOf((i % 23) * 1.5f),
        if (i % 5 == 0) null else s"cat-${i % 19}",
        Array.tabulate(i % 3)(b => (b * 7).toByte),
        java.sql.Date.valueOf("2024-01-01").toLocalDate.plusDays(i % 41),
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1700000000L + i % 37)))
    }.asJava
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("l", LongType), StructField("i", IntegerType),
      StructField("sh", ShortType), StructField("b", ByteType),
      StructField("d", DoubleType), StructField("f", FloatType),
      StructField("s", StringType), StructField("bin", BinaryType),
      StructField("dt", DateType), StructField("ts", TimestampType)))
    spark.createDataFrame(rows0, schema).repartition(2)
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    def q() = hashScan(spark.read.parquet(s"$dir/t.parquet"), m = 777777773L)
    val before = HashScan.engagements.get()
    val fast = rows(q())
    assert(HashScan.engagements.get() > before, "hashScan did not engage")
    assert(fast == withDisabled(rows(q())))
  }

  test("mid-file dictionary fallback (high-cardinality strings) stays bit-exact") {
    // enough distinct long strings to overflow the writer's dictionary
    // page: later pages fall back to PLAIN, so the reader serves some
    // batches dictionary-coded and some not — both lanes must agree
    val dir = java.nio.file.Files.createTempDirectory("graft_hs_m").toString
    import scala.jdk.CollectionConverters._
    val rows0 = (0 until 60000).map { i =>
      org.apache.spark.sql.Row(
        java.lang.Long.valueOf((i % 11).toLong),
        if (i % 9 == 0) null else s"payload-$i-${"y" * 40}")
    }.asJava
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("s", StringType)))
    spark.createDataFrame(rows0, schema).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    def q() = hashScan(spark.read.parquet(s"$dir/t.parquet"))
    val before = HashScan.engagements.get()
    val fast = rows(q())
    assert(HashScan.engagements.get() > before, "hashScan did not engage")
    assert(fast == withDisabled(rows(q())))
  }
}
