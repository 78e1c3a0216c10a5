package graft.tools
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
object PlanPhases {
  def main(args: Array[String]): Unit = {
    val base = args(0)
    val spark = SparkSession.builder().master("local[32]")
      .appName("planphases")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def ord = graft.core.Tables.load(spark, base, "orders")
    def mk() = ord.agg(countDistinct(col("o_custkey")).as("u"))
    (1 to 12).foreach { i =>
      val df = mk()
      val t0 = System.nanoTime()
      df.queryExecution.executedPlan
      val tot = (System.nanoTime() - t0) / 1e6
      val phases = df.queryExecution.tracker.phases
        .map { case (k, v) => f"$k=${(v.endTimeMs - v.startTimeMs)}%d" }
        .mkString(" ")
      if (i > 3) println(f"[phases] total=$tot%6.1f ms $phases")
      if (i == 12) {
        val rules = df.queryExecution.tracker.topRulesByTime(8)
          .map { case (r, s) =>
            f"${r.split('.').last}=${s.totalTimeNs / 1e6}%.1f" }.mkString(" ")
        println(s"[phases] top rules: $rules")
      }
    }
    spark.stop()
  }
}
