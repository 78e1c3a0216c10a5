package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.dialect.ChSql

/** Dumps `explain("formatted")` for every Bench query (sf0.1 shapes and
  * the judged sf10 shapes) into plans/r19/<query>_<suffix>.txt — the
  * before/after plan evidence the optimization round commits alongside
  * the bench numbers. Replicates the Bench session confs exactly so the
  * captured plans are the ones the bench runs.
  *
  * Usage: Test/runMain graft.tools.BenchPlans <suffix> [sfDir]
  *   suffix: "before" | "after" (file name suffix)
  */
object BenchPlans {
  def main(args: Array[String]): Unit = {
    val suffix = args.headOption.getOrElse("before")
    val sfDir = args.lift(1).getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.aggregate.map.vectorized.enable", "true")
      .config("spark.sql.parquet.columnarReaderBatchSize", "16384")
      .config("spark.buffer.pageSize", "4m")
      .config("spark.sql.files.minPartitionNum",
        math.max(1, cpus.toInt / 4).toString)
      .config("spark.sql.files.maxPartitionBytes", (32L * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.registerViews(spark, sfDir)

    def hashScan(li: DataFrame): DataFrame =
      li.select(call_function("cityHash64", li.columns.map(col).toIndexedSeq: _*).as("h"))
        .agg(sum(pmod(col("h"), lit(1000000007L))).as("s"))

    val shapes: Seq[(String, () => DataFrame)] = Seq(
      "q1_scan_count" -> (() => ChSql.sql(spark, "SELECT count() AS cnt FROM lineitem")),
      "q2_group_sum" -> (() => ChSql.sql(spark,
        "SELECT l_returnflag, sum(l_quantity) AS s FROM lineitem GROUP BY l_returnflag")),
      "q3_uniq_exact" -> (() => ChSql.sql(spark,
        "SELECT uniqExact(o_custkey) AS u FROM orders")),
      "q4_hash_scan" -> (() => hashScan(Tables.load(spark, sfDir, "lineitem"))),
      "q5_minhash_dedup" -> (() =>
        graft.operators.Dedup.minHashDupPairs(
          Tables.load(spark, sfDir, "documents"), "doc_id", "text",
          shingleSize = 3, numHashes = 128, bands = 32, threshold = 0.7)),
      "q6_lsh_ann" -> (() =>
        graft.operators.Similarity.lshNeighbors(
          Tables.load(spark, sfDir, "embeddings"), "vec_id", "embedding",
          planes = 12, dim = 64, minCosine = 0.9)),
      "q7_bm25" -> (() =>
        graft.operators.Retrieval.bm25(
          Tables.load(spark, sfDir, "documents"), "doc_id", "text",
          queryTerms = Seq("spark", "vector", "customer"))),
      "q8_semantic_dedup" -> (() =>
        graft.operators.SemDedup.dupPairs(
          Tables.load(spark, sfDir, "embeddings"), "vec_id", "embedding",
          k = 16, dim = 64, threshold = 0.9, iters = 1)),
      "q9_agg_projection" -> (() => ChSql.sql(spark,
        """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS s,
          |       avg(l_extendedprice) AS a, count() AS n
          |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin)))

    // the judged sf10 shapes (plain Spark API, as Bench.shapes100x)
    val base100 = Option(new java.io.File("/tmp").listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("graft_bench100x_") &&
        new java.io.File(f, "_DONE").exists())
      .sortBy(_.lastModified).lastOption.map(_.getPath)
    val sf10Shapes: Seq[(String, () => DataFrame)] = base100 match {
      case Some(b) =>
        def li = Tables.load(spark, b, "lineitem")
        def ord = Tables.load(spark, b, "orders")
        Seq(
          "sf10_q1_scan_count" -> (() => li.agg(count(lit(1)).as("cnt"))),
          "sf10_q2_group_sum" -> (() =>
            li.groupBy("l_returnflag").agg(sum("l_quantity").as("s"))),
          "sf10_q3_uniq_exact" -> (() => ord.agg(countDistinct(col("o_custkey")).as("u"))),
          "sf10_q4_hash_scan" -> (() => hashScan(li)))
      case None =>
        System.err.println("[benchplans] no /tmp/graft_bench100x_* fixture — skipping sf10 shapes")
        Nil
    }

    Files.createDirectories(Paths.get("plans/r19"))
    (shapes ++ sf10Shapes).foreach { case (name, mk) =>
      try {
        val df = mk()
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"plans/r19/${name}_$suffix.txt"), txt)
        println(s"[benchplans] wrote plans/r19/${name}_$suffix.txt")
      } catch {
        case e: Throwable =>
          System.err.println(s"[benchplans] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
