package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Paired A/B of the r19 dictionary lanes (HashScan memo,
  * BitmapDistinct id-seen) on the sf10 fixture. Interleaves ON/OFF
  * every iteration so this box's bimodal IO windows hit both sides
  * equally; reports per-pair ratios and medians.
  *
  * Run: Test/runMain graft.tools.DictLaneProbe [pairs]
  */
object DictLaneProbe {
  def main(args: Array[String]): Unit = {
    val pairs = args.headOption.map(_.toInt).getOrElse(7)
    val base = {
      val hits = Option(new java.io.File("/tmp").listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.startsWith("graft_bench100x_") &&
          new java.io.File(f, "_DONE").exists())
      require(hits.nonEmpty, "no /tmp/graft_bench100x_* dir — run Bench first")
      hits.maxBy(_.lastModified).getPath
    }
    val cpus = "32"
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("dictlaneprobe")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.aggregate.map.vectorized.enable", "true")
      .config("spark.sql.parquet.columnarReaderBatchSize", "16384")
      .config("spark.buffer.pageSize", "4m")
      .config("spark.sql.files.minPartitionNum", "8")
      .config("spark.sql.files.maxPartitionBytes", (32L * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def ms(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
    }
    def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

    def q4() = {
      val li = graft.core.Tables.load(spark, base, "lineitem")
      li.select(call_function("cityHash64",
          li.columns.map(col).toIndexedSeq: _*).as("h"))
        .agg(sum(pmod(col("h"), lit(1000000007L))).as("s"))
    }
    def q3() = graft.core.Tables.load(spark, base, "orders")
      .agg(countDistinct(col("o_custkey")).as("u"))

    def ab(name: String, mk: () => org.apache.spark.sql.DataFrame,
        set: Boolean => Unit): Unit = {
      set(true); mk().write.format("noop").mode("overwrite").save() // warm
      set(false); mk().write.format("noop").mode("overwrite").save()
      val on = scala.collection.mutable.ArrayBuffer.empty[Double]
      val off = scala.collection.mutable.ArrayBuffer.empty[Double]
      (1 to pairs).foreach { _ =>
        set(true)
        on += ms(mk().write.format("noop").mode("overwrite").save())
        set(false)
        off += ms(mk().write.format("noop").mode("overwrite").save())
      }
      set(true)
      val ratios = on.zip(off).map { case (a, b) => b / a }
      println(f"[dictlane] $name onMed=${med(on.toSeq)}%.0f offMed=${med(off.toSeq)}%.0f " +
        f"pairSpeedupMed=${med(ratios.toSeq)}%.2fx  on=${on.map(v => f"$v%.0f").mkString(",")} " +
        f"off=${off.map(v => f"$v%.0f").mkString(",")}")
    }

    ab("q4_hash_scan", () => q4(), v => graft.plans.HashScan.dictLaneEnabled = v)
    ab("q3_uniq_exact", () => q3(), v => graft.plans.BitmapDistinct.dictLaneEnabled = v)
    spark.stop()
  }
}
