package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The four DuckDB-comparable bench shapes under REAL executor JVMs —
  * `local-cluster[2,16,6144]`, two forked workers (VERDICT r15 task
  * #7: the sf10 story was only ever measured in-process; this pins
  * that the ratios survive executor-JVM serialization boundaries,
  * including the r16 dictionary-code aggregation and bitmap-distinct
  * partial kernels whose closures must ship to real executors).
  *
  * Run with `SPARK_SCALA_VERSION=2.13 sbt "Test/runMain
  * graft.tools.MultiJvmBench [base100dir] [iters]"` after a Bench run
  * has built the content-keyed sf10 fixture. Prints one JSON line. */
object MultiJvmBench {
  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse {
      val hits = Option(new java.io.File("/tmp").listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.startsWith("graft_bench100x_") &&
          new java.io.File(f, "_DONE").exists())
      require(hits.nonEmpty, "no /tmp/graft_bench100x_* dir — run Bench first")
      hits.maxBy(_.lastModified).getPath
    }
    val iters = args.lift(1).map(_.toInt).getOrElse(3)
    val classesDir = new java.io.File("target/scala-2.13/classes").getAbsolutePath
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar")
      .map(p => s"--add-opens=$p=ALL-UNNAMED").mkString(" ")
    // the served recipe at the cluster's 32 cores (shuffle partitions,
    // scan packing), on forked executor JVMs that load graft's classes
    val spark = graft.core.Engine.session("graft-multijvm-bench", cores = 32,
      extraConf = Map(
        "spark.master" -> "local-cluster[2,16,6144]",
        "spark.executor.memory" -> "5g",
        "spark.executor.extraClassPath" -> classesDir,
        "spark.executor.extraJavaOptions" -> addOpens))
    try {
      // wait for both executor JVMs
      val deadline = System.currentTimeMillis() + 120000
      while (spark.sparkContext.statusTracker.getExecutorInfos.length < 3 &&
          System.currentTimeMillis() < deadline) Thread.sleep(250)
      val execs = spark.sparkContext.statusTracker.getExecutorInfos.length - 1
      def li = spark.read.parquet(s"$base/lineitem.parquet")
      def ord = spark.read.parquet(s"$base/orders.parquet")
      val shapes: Seq[(String, () => DataFrame)] = Seq(
        "q1_scan_count" -> (() => li.agg(count(lit(1)).as("cnt"))),
        "q2_group_sum" -> (() =>
          li.groupBy("l_returnflag").agg(sum("l_quantity").as("s"))),
        "q3_uniq_exact" -> (() => ord.agg(countDistinct(col("o_custkey")).as("u"))),
        "q4_hash_scan" -> (() => {
          val df = li
          df.select(call_function("cityHash64",
              df.columns.map(col).toIndexedSeq: _*).as("h"))
            .agg(sum(pmod(col("h"), lit(1000000007L))).as("s"))
        }))
      def jnum(v: Double) =
        String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
      val times = shapes.map { case (name, mk) =>
        mk().write.format("noop").mode("overwrite").save() // warmup
        val ts = (1 to iters).map { _ =>
          spark.catalog.clearCache()
          val t0 = System.nanoTime()
          mk().write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }.sorted
        System.err.println(
          s"[multijvm-bench] $name iters: ${ts.map(jnum).mkString(", ")}")
        name -> ts(ts.size / 2)
      }
      // engagement proof under real executors: the r16 rewrites fire,
      // and (r18) the vectorized hash scan does too
      val dictBefore = graft.plans.DictAgg.engagements.get()
      val bmBefore = graft.plans.BitmapDistinct.engagements.get()
      val hsBefore = graft.plans.HashScan.engagements.get()
      shapes(1)._2().queryExecution.optimizedPlan
      shapes(2)._2().queryExecution.optimizedPlan
      shapes(3)._2().queryExecution.optimizedPlan
      val engaged = graft.plans.DictAgg.engagements.get() > dictBefore &&
        graft.plans.BitmapDistinct.engagements.get() > bmBefore &&
        graft.plans.HashScan.engagements.get() > hsBefore
      println(s"""{"metric":"multijvm_bench","executors":$execs,""" +
        s""""engaged_rewrites":$engaged,"iters":$iters,""" +
        times.map { case (k, v) => s""""$k":${jnum(v)}""" }.mkString(",") +
        s""","base":"$base"}""")
    } finally spark.stop()
  }
}
