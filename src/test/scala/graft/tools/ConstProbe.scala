package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Attribution probe for the r18 per-query constant (VERDICT r17 next
  * #1): replicates the Bench session EXACTLY (same confs, graft rules
  * registered) and decomposes the sf10 q1/q3 shapes into
  * load / analyze+optimize+plan / execute phases, plus job counts —
  * the data that says whether the ~30-70 ms residue is FileIndex
  * listing, rule churn, AQE wrap, or job submission.
  *
  * Usage: Test/runMain graft.tools.ConstProbe <base100 dir> [iters]
  */
object ConstProbe {
  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse {
      val hits = Option(new java.io.File("/tmp").listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.startsWith("graft_bench100x_") &&
          new java.io.File(f, "_DONE").exists())
      require(hits.nonEmpty, "no /tmp/graft_bench100x_* dir — run Bench first")
      hits.maxBy(_.lastModified).getPath
    }
    val iters = args.lift(1).map(_.toInt).getOrElse(9)
    val spark = SparkSession.builder()
      .master("local[32]")
      .appName("constprobe")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.aggregate.map.vectorized.enable", "true")
      .config("spark.sql.parquet.columnarReaderBatchSize", "16384")
      .config("spark.buffer.pageSize", "4m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def ms(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
    }
    def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

    val jobs = new java.util.concurrent.atomic.AtomicLong(0)
    val stages = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageSubmitted(e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        stages.incrementAndGet()
    })

    def probe(name: String, mk: () => org.apache.spark.sql.DataFrame): Unit = {
      mk().write.format("noop").mode("overwrite").save() // warm
      val loads = scala.collection.mutable.ArrayBuffer.empty[Double]
      val plans = scala.collection.mutable.ArrayBuffer.empty[Double]
      val execs = scala.collection.mutable.ArrayBuffer.empty[Double]
      var j0 = 0L; var s0 = 0L
      (1 to iters).foreach { _ =>
        var df: org.apache.spark.sql.DataFrame = null
        loads += ms { df = mk() }
        plans += ms { df.queryExecution.executedPlan }
        Thread.sleep(20)
        j0 = jobs.get(); s0 = stages.get()
        execs += ms { df.write.format("noop").mode("overwrite").save() }
      }
      Thread.sleep(200)
      println(f"[constprobe] $name%-14s load=${med(loads.toSeq)}%6.1f " +
        f"plan=${med(plans.toSeq)}%6.1f exec=${med(execs.toSeq)}%6.1f ms " +
        f"(last-iter jobs=${jobs.get() - j0} stages=${stages.get() - s0}) " +
        f"execs=${execs.map(v => f"$v%.0f").mkString(",")}")
    }

    def li = graft.core.Tables.load(spark, base, "lineitem")
    def ord = graft.core.Tables.load(spark, base, "orders")
    probe("q1_count", () => li.agg(count(lit(1)).as("cnt")))
    probe("q3_uniq", () => ord.agg(countDistinct(col("o_custkey")).as("u")))
    probe("q2_group", () => li.groupBy("l_returnflag").agg(sum("l_quantity").as("s")))

    // where does q1's exec go? the plan is a LocalTableScan — time the
    // write of a PRE-BUILT local DataFrame as the pure noop-write floor
    val local = spark.range(1).selectExpr("id AS cnt")
    local.write.format("noop").mode("overwrite").save()
    val localTs = (1 to iters).map(_ => ms {
      local.write.format("noop").mode("overwrite").save()
    })
    println(f"[constprobe] noop_write_1row median=${med(localTs)}%6.1f ms " +
      f"all=${localTs.map(v => f"$v%.0f").mkString(",")}")

    // collect() path (the doors' shape) vs noop write
    def q3df = ord.agg(countDistinct(col("o_custkey")).as("u"))
    q3df.collect()
    val colTs = (1 to iters).map(_ => ms { q3df.collect() })
    println(f"[constprobe] q3_collect median=${med(colTs)}%6.1f ms " +
      f"all=${colTs.map(v => f"$v%.0f").mkString(",")}")

    // ---- candidate B: CACHED ANALYZED RELATION (no per-query listing) ----
    val liRel = li.queryExecution.analyzed
    val ordRel = ord.queryExecution.analyzed
    def ofRows(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      org.apache.spark.sql.graft.FunctionShim.ofRows(spark, p)
    probe("B:q1_count", () => ofRows(liRel).agg(count(lit(1)).as("cnt")))
    probe("B:q3_uniq", () => ofRows(ordRel).agg(countDistinct(col("o_custkey")).as("u")))
    probe("B:q2_group", () => ofRows(liRel).groupBy("l_returnflag").agg(sum("l_quantity").as("s")))

    // ---- candidate C: AQE OFF on the same shapes ----
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    probe("C:q1_count", () => li.agg(count(lit(1)).as("cnt")))
    probe("C:q3_uniq", () => ord.agg(countDistinct(col("o_custkey")).as("u")))
    probe("C:q2_group", () => li.groupBy("l_returnflag").agg(sum("l_quantity").as("s")))

    // ---- candidate D: both ----
    probe("D:q1_count", () => ofRows(liRel).agg(count(lit(1)).as("cnt")))
    probe("D:q3_uniq", () => ofRows(ordRel).agg(countDistinct(col("o_custkey")).as("u")))
    probe("D:q2_group", () => ofRows(liRel).groupBy("l_returnflag").agg(sum("l_quantity").as("s")))
    spark.conf.set("spark.sql.adaptive.enabled", "true")

    // ---- baseline AGAIN (JIT-warm control: if these match the first
    // baseline, section order did not confound the A/B) ----
    probe("Z:q1_count", () => li.agg(count(lit(1)).as("cnt")))
    probe("Z:q3_uniq", () => ord.agg(countDistinct(col("o_custkey")).as("u")))
    probe("Z:q2_group", () => li.groupBy("l_returnflag").agg(sum("l_quantity").as("s")))
    spark.stop()
  }
}
