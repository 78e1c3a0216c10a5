package graft

/** t1-style smoke: run [[SparkEntry.entry]] on sf0.001 exactly the way
  * the driver does (its own session, rows>0 check), print the rows. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Engine.session("graft-smoke", cores = 4)
    val df = SparkEntry.entry(spark)
    val rows = df.collect()
    println(s"[smoke] cols=${df.columns.mkString(",")} rows=${rows.length}")
    rows.foreach(r => println(s"[smoke] $r"))
    assert(rows.nonEmpty, "entry() returned zero rows")
    spark.stop()
  }
}
