package graft.tools

import org.apache.spark.sql.SparkSession

import graft.core.Tables

/** r20 scratch probe: dump the FINAL (post-AQE) plan of the operators
  * converted from persist to exchange-reuse materialization, so a
  * reuse miss is visible as duplicated scan subtrees. Usage:
  *   Test/runMain graft.tools.R20Probe <op> [sfDir]
  * where <op> is lexcos | simhash | ngram | unigram. */
object R20Probe {
  def main(args: Array[String]): Unit = {
    val op = if (args.nonEmpty) args(0) else "lexcos"
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = Tables.load(spark, dir, "documents")
    val df = op match {
      case "lexcos" => graft.operators.Retrieval.lexicalCosinePairs(
        docs, "doc_id", "text", minCosine = 0.8, maxDf = 50L)
      case "simhash" => graft.operators.Dedup.simHashDupPairs(docs, "doc_id", "text")
      case "ngram" => graft.operators.Dedup.ngramJaccardPairs(docs, "doc_id", "text")
      case "unigram" => graft.operators.TextAnalysis.unigramLogProb(docs, "doc_id", "text")
      case "minhash" => graft.operators.Dedup.minHashDupPairs(docs, "doc_id", "text")
      case "tokab" =>
        // regex-vs-bytescan tokenize cost, same data, same aggregate
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.graft.FunctionShim
        def ms(f: => Unit): Double = {
          val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
        }
        def run(name: String, mk: () => org.apache.spark.sql.DataFrame): Unit = {
          mk().write.format("noop").mode("overwrite").save()
          val ts = (1 to 7).map { _ =>
            System.gc(); ms(mk().write.format("noop").mode("overwrite").save())
          }
          println(f"[tokab] $name median=${ts.sorted.apply(3)}%.0f ms " +
            f"all=${ts.map(v => f"$v%.0f").mkString(",")}")
        }
        run("regex_count", () => docs.select(
          size(regexp_extract_all(col("text"), lit("\\S+"), lit(0))).as("n"))
          .agg(sum("n")))
        run("bytescan_count", () => docs.select(
          FunctionShim.column(graft.functions.WordCountExpr(
            FunctionShim.expression(col("text")))).as("n"))
          .agg(sum(col("n") - 1))) // wordCount counts split(-1) tokens: \S+ runs + 1
        run("regex_explode", () => docs.select(
          explode(regexp_extract_all(col("text"), lit("\\S+"), lit(0))).as("w"))
          .agg(count(lit(1))))
        docs.limit(0)
    }
    val read = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          read.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    })
    df.write.format("noop").mode("overwrite").save()
    val n = df.collect().length
    org.apache.spark.graft.ListenerBusShim.waitUntilEmpty(spark.sparkContext)
    println(s"==== rows=$n inputRecords=${read.get()} ====")
    println("==== FINAL PLAN ====")
    println(df.queryExecution.executedPlan.toString)
    spark.stop()
  }
}
