package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** q10 MergeTree reader decomposition (VERDICT r19 next #2): times the
  * bench q10 shape over a MergeTree tree plus column-isolated scans, so
  * the decode cost of each lane (LowCardinality index+dict, Float64
  * bulk) is its own number. Run:
  *   Test/runMain graft.tools.Q10Probe <mtDir> [iters]
  * (mtDir: e.g. /tmp/graft_bench_mt_<key>/mt10x)
  */
object Q10Probe {
  private val Ddl = "`l_returnflag` LowCardinality(String), " +
    "`l_linestatus` LowCardinality(String), " +
    "`l_quantity` Float64, `l_extendedprice` Float64"

  def main(args: Array[String]): Unit = {
    val mtDir = args.headOption.getOrElse(
      sys.error("usage: Q10Probe <mtDir> [iters]"))
    val iters = args.lift(1).map(_.toInt).getOrElse(7)
    val spark = SparkSession.builder()
      .master("local[32]")
      .appName("q10probe")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.buffer.pageSize", "4m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def mt: DataFrame = spark.read.format("mergetree")
      .option("endpoint", mtDir).option("ddl", Ddl)
      .option("orderBy", "l_returnflag,l_linestatus")
      .load()

    def ms(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
    }
    def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    def run(name: String, mk: () => DataFrame): Unit = {
      mk().write.format("noop").mode("overwrite").save()
      val ts = (1 to iters).map { _ =>
        spark.catalog.clearCache(); System.gc()
        ms(mk().write.format("noop").mode("overwrite").save())
      }
      println(f"[q10probe] $name median=${med(ts)}%.0f ms " +
        f"all=${ts.map(v => f"$v%.0f").mkString(",")}")
    }
    val total = mt.count()
    println(s"[q10probe] rows=$total dir=$mtDir")
    run("full_q10", () =>
      mt.groupBy("l_returnflag").agg(sum("l_quantity").as("s")))
    run("scan_all4", () => mt)
    run("scan_lc", () => mt.select("l_returnflag"))
    run("scan_f64", () => mt.select("l_quantity"))
    run("scan_2f64", () => mt.select("l_quantity", "l_extendedprice"))
    spark.stop()
  }
}
