package graft.tools
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
/** A/B the r18 vectorized hash scan vs the codegen'd expression path
  * on the sf10 fixture — exclusive-box probe. */
object HashScanProbe {
  def main(args: Array[String]): Unit = {
    val base = args(0)
    val iters = args.lift(1).map(_.toInt).getOrElse(7)
    val spark = SparkSession.builder().master("local[32]")
      .appName("hashscanprobe")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.parquet.columnarReaderBatchSize", "16384")
      .config("spark.buffer.pageSize", "4m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def ms(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
    }
    def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    def q() = {
      val li = graft.core.Tables.load(spark, base, "lineitem")
      li.select(call_function("cityHash64", li.columns.map(col).toIndexedSeq: _*).as("h"))
        .agg(sum(pmod(col("h"), lit(1000000007L))).as("s"))
    }
    def run(name: String): Unit = {
      q().write.format("noop").mode("overwrite").save() // warm
      val ts = (1 to iters).map(_ => ms {
        q().write.format("noop").mode("overwrite").save() })
      println(f"[hashscanprobe] $name median=${med(ts)}%.0f ms all=${ts.map(v => f"$v%.0f").mkString(",")}")
    }
    println("[hashscanprobe] answers: fast=" + q().collect()(0).getLong(0) + {
      spark.conf.set(graft.plans.HashScan.EnabledKey, "false")
      val s = " native=" + q().collect()(0).getLong(0)
      spark.conf.unset(graft.plans.HashScan.EnabledKey); s
    })
    run("vectorized")
    spark.conf.set(graft.plans.HashScan.EnabledKey, "false")
    run("expression")
    spark.conf.unset(graft.plans.HashScan.EnabledKey)
    run("vectorized2")

    // attribution: same full-width decode with Spark's cheaper
    // builtin xxhash64 (hash-cost delta), and a no-hash decode floor
    def runQ(name: String, mk: () => org.apache.spark.sql.DataFrame): Unit = {
      mk().write.format("noop").mode("overwrite").save()
      val ts = (1 to iters).map(_ => ms {
        mk().write.format("noop").mode("overwrite").save() })
      println(f"[hashscanprobe] $name median=${med(ts)}%.0f ms all=${ts.map(v => f"$v%.0f").mkString(",")}")
    }
    runQ("xxhash64_builtin", () => {
      val li = graft.core.Tables.load(spark, base, "lineitem")
      li.select(xxhash64(li.columns.map(col).toIndexedSeq: _*).as("h"))
        .agg(sum(pmod(col("h"), lit(1000000007L))).as("s"))
    })
    runQ("decode_floor", () => {
      val li = graft.core.Tables.load(spark, base, "lineitem")
      // touch every column's values with the cheapest aggregate
      li.agg(
        sum(col("l_orderkey")).as("a"), sum(col("l_partkey")).as("b"),
        sum(col("l_suppkey")).as("c"), sum(col("l_linenumber")).as("d"),
        sum(col("l_quantity")).as("e"), sum(col("l_extendedprice")).as("f"),
        sum(col("l_discount")).as("g"), sum(col("l_tax")).as("h"),
        max(col("l_returnflag")).as("i"), max(col("l_linestatus")).as("j"),
        max(col("l_shipdate")).as("k"))
    })
    spark.stop()
  }
}
