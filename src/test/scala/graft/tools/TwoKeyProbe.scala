package graft.tools
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
object TwoKeyProbe {
  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse {
      val hits = Option(new java.io.File("/tmp").listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.startsWith("graft_bench100x_") &&
          new java.io.File(f, "_DONE").exists())
      require(hits.nonEmpty, "run Bench first"); hits.maxBy(_.lastModified).getPath
    }
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions","32")
      .config("spark.sql.parquet.columnarReaderBatchSize","16384")
      .config("spark.sql.files.minPartitionNum","8")
      .config("spark.sql.files.maxPartitionBytes", s"${32*1024*1024}")
      .config("spark.buffer.pageSize","4m")
      .config("spark.ui.enabled","false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def li = spark.read.parquet(s"$base/lineitem.parquet")
    def q() = li.groupBy("l_returnflag","l_linestatus")
      .agg(sum("l_quantity").as("s"), count(lit(1)).as("c"))
    def time(tag: String): Unit = {
      q().write.format("noop").mode("overwrite").save()
      val ts=(1 to 5).map{_=>val t0=System.nanoTime();q().write.format("noop").mode("overwrite").save();(System.nanoTime()-t0)/1e9}.sorted
      println(f"[twokey] $tag median=${ts(2)}%.3f iters=${ts.map(t=>f"$t%.3f").mkString(",")}")
    }
    time("dictAgg_on")
    spark.conf.set("spark.graft.dictAgg","false")
    time("dictAgg_off")
    spark.stop()
  }
}
