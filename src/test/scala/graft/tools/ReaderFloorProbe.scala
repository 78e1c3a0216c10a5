package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Splits the sf10 q4 wall into reader-only vs reader+kernel: times
  * (a) iterating the scan's ColumnarBatches doing nothing (parquet
  * decode floor), (b) the full vectorized hash fold, (c) q3's orders
  * scan likewise. Run: Test/runMain graft.tools.ReaderFloorProbe [iters]
  */
object ReaderFloorProbe {
  def main(args: Array[String]): Unit = {
    val iters = args.headOption.map(_.toInt).getOrElse(7)
    val base = Option(new java.io.File("/tmp").listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("graft_bench100x_") &&
        new java.io.File(f, "_DONE").exists())
      .maxBy(_.lastModified).getPath
    val spark = SparkSession.builder()
      .master("local[32]")
      .appName("readerfloor")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
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
    def report(name: String, xs: Seq[Double]): Unit =
      println(f"[readerfloor] $name%-24s median=${med(xs)}%6.0f ms all=${xs.map(x => f"$x%.0f").mkString(",")}")

    val li = graft.core.Tables.load(spark, base, "lineitem")
    val cols = li.columns.toSeq
    def liBatches() = {
      val rel = graft.plans.ScanRelations.relationOf(
        li.queryExecution.analyzed).get
      graft.plans.ScanRelations.columnarBatches(spark, rel, cols, None).get._1
    }
    def ordBatches() = {
      val ord = graft.core.Tables.load(spark, base, "orders")
      val rel = graft.plans.ScanRelations.relationOf(
        ord.queryExecution.analyzed).get
      graft.plans.ScanRelations.columnarBatches(
        spark, rel, Seq("o_custkey"), None).get._1
    }

    // reader floor: touch batch sizes only (pages still decode to ids)
    def readOnly(rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.vectorized.ColumnarBatch]): Unit =
      spark.sparkContext.runJob(rdd, (it: Iterator[org.apache.spark.sql.vectorized.ColumnarBatch]) => {
        var s = 0L; while (it.hasNext) s += it.next().numRows(); s
      })
    // reader + full getter sweep WITHOUT hashing: forces value decode
    def readDecode(rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.vectorized.ColumnarBatch]): Unit =
      spark.sparkContext.runJob(rdd, (it: Iterator[org.apache.spark.sql.vectorized.ColumnarBatch]) => {
        var s = 0L
        while (it.hasNext) {
          val b = it.next(); val n = b.numRows(); val nc = b.numCols()
          var c = 0
          while (c < nc) {
            val v = b.column(c)
            var i = 0
            v.dataType() match {
              case org.apache.spark.sql.types.LongType =>
                while (i < n) { s += v.getLong(i); i += 1 }
              case org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.DateType =>
                while (i < n) { s += v.getInt(i); i += 1 }
              case org.apache.spark.sql.types.DoubleType =>
                while (i < n) { s += java.lang.Double.doubleToRawLongBits(v.getDouble(i)); i += 1 }
              case org.apache.spark.sql.types.StringType =>
                while (i < n) { s += v.getUTF8String(i).numBytes(); i += 1 }
              case _ => ()
            }
            c += 1
          }
        }
        s
      })
    def q4() =
      li.select(call_function("cityHash64", cols.map(col): _*).as("h"))
        .agg(sum(pmod(col("h"), lit(1000000007L))).as("s"))

    // warmups
    readOnly(liBatches()); readDecode(liBatches())
    q4().write.format("noop").mode("overwrite").save()
    readOnly(ordBatches())

    report("li_reader_only", (1 to iters).map(_ => ms(readOnly(liBatches()))))
    report("li_reader_decode", (1 to iters).map(_ => ms(readDecode(liBatches()))))
    report("q4_full", (1 to iters).map(_ => ms(
      q4().write.format("noop").mode("overwrite").save())))
    report("ord_reader_only", (1 to iters).map(_ => ms(readOnly(ordBatches()))))
    spark.stop()
  }
}
