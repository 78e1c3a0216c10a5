package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Tables

/** Writes `.explain("formatted")` for every query path the r20
  * optimization round touches to `plans/r20/<name>_<tag>.txt`. Run once
  * at the round-start HEAD with tag=before and once after the changes
  * with tag=after:
  *   Test/runMain graft.tools.R20PlanDump <tag> [sfDir] [mt10xDir]
  */
object R20PlanDump {
  def main(args: Array[String]): Unit = {
    val tag = args.headOption.getOrElse("after")
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.001")
    val mt10x = args.lift(2).getOrElse(
      "/tmp/graft_bench_mt_89d01f41de758a8b/mt10x")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = Tables.load(spark, dir, "documents")

    val mtDdl = "`l_returnflag` LowCardinality(String), " +
      "`l_linestatus` LowCardinality(String), " +
      "`l_quantity` Float64, `l_extendedprice` Float64"
    def mtScan: DataFrame = spark.read.format("mergetree")
      .option("endpoint", mt10x).option("ddl", mtDdl)
      .option("orderBy", "l_returnflag,l_linestatus")
      .load()
      .groupBy("l_returnflag")
      .agg(org.apache.spark.sql.functions.sum("l_quantity").as("s"))

    val targets: Seq[(String, () => DataFrame)] = Seq(
      "unigram_logprob" -> (() =>
        graft.operators.TextAnalysis.unigramLogProb(docs, "doc_id", "text")),
      "lexical_cosine" -> (() =>
        graft.operators.Retrieval.lexicalCosinePairs(
          docs, "doc_id", "text", minCosine = 0.8, maxDf = 50L)),
      "simhash_pairs" -> (() =>
        graft.operators.Dedup.simHashDupPairs(docs, "doc_id", "text")),
      "ngram_jaccard" -> (() =>
        graft.operators.Dedup.ngramJaccardPairs(docs, "doc_id", "text")),
      "q10_mergetree_scan" -> (() => mtScan),
      "minhash_pairs" -> (() =>
        graft.operators.Dedup.minHashDupPairs(docs, "doc_id", "text")),
      "q7_bm25" -> (() =>
        graft.operators.Retrieval.bm25(
          docs, "doc_id", "text", Seq("spark", "vector", "customer"))))

    val outDir = java.nio.file.Paths.get("plans/r20")
    java.nio.file.Files.createDirectories(outDir)
    targets.foreach { case (name, mk) =>
      try {
        val df = mk()
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          outDir.resolve(s"${name}_$tag.txt"), txt)
        println(s"[plandump] wrote ${name}_$tag.txt")
      } catch {
        case e: Throwable =>
          println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
