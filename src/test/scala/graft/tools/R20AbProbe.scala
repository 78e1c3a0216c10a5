package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.{Dedup, Retrieval}

/** r20 persist→exchange-materialization A/B (VERDICT r19 next #4): for
  * each of the three operators converted this round
  * (lexicalCosinePairs, simHashDupPairs, ngramJaccardPairs), time the
  * OLD persist layout against the NEW exchange-reuse layout, paired
  * and interleaved per iteration (this box's degraded-IO windows make
  * unpaired wall clocks incomparable). Answers are asserted identical
  * first. Run: Test/runMain graft.tools.R20AbProbe [sfDir] [iters]
  */
object R20AbProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val iters = args.lift(1).map(_.toInt).getOrElse(5)
    val only = args.lift(2) // run a single op: lexcos | simhash | ngram
    val spark = SparkSession.builder()
      .master("local[32]")
      .appName("r20abprobe")
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
    def docs = Tables.load(spark, sfDir, "documents")

    // ---- OLD layouts: verbatim r19 bodies with the internal persist ----

    def lexcosOld(): DataFrame = {
      val w = Retrieval.tfidf(docs, "doc_id", "text")
        .filter(col("df") <= 50L)
        .select(col("doc_id").as("_id"), col("term"), col("tfidf"))
      val byDoc = org.apache.spark.sql.expressions.Window.partitionBy(col("_id"))
      val unit = w
        .withColumn("_n", sqrt(sum(col("tfidf") * col("tfidf")).over(byDoc)))
        .filter(col("_n") > 0)
        .select(col("_id"), col("term"), (col("tfidf") / col("_n")).as("_w"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      unit.as("a")
        .join(unit.as("b").hint("shuffle_hash"),
          col("a.term") === col("b.term") && col("a._id") < col("b._id"))
        .groupBy(col("a._id").as("id_a"), col("b._id").as("id_b"))
        .agg(sum(col("a._w") * col("b._w")).as("cos"))
        .filter(col("cos") >= 0.8)
    }
    def lexcosNew(): DataFrame =
      Retrieval.lexicalCosinePairs(docs, "doc_id", "text", 0.8, 50L)

    def simhashOld(): DataFrame = {
      val fp = Dedup.simHashFingerprints(docs, "doc_id", "text")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val blockBits = 16
      val blockMask = (1L << blockBits) - 1
      val blocks = fp.select(
        col("_id"), col("_fp"),
        posexplode(transform(sequence(lit(0), lit(3)),
          i => call_function("shiftright", col("_fp"), i * blockBits)
            .bitwiseAND(blockMask))).as(Seq("_blk", "_blkval")))
      val a = blocks.as("a")
      val b = blocks.as("b").hint("shuffle_hash")
      a.join(b,
          col("a._blk") === col("b._blk") &&
            col("a._blkval") === col("b._blkval") &&
            col("a._id") < col("b._id"))
        .select(col("a._id").as("id_a"), col("b._id").as("id_b"),
          Dedup.hamming(col("a._fp"), col("b._fp")).as("hamming"))
        .distinct()
        .filter(col("hamming") <= 3)
    }
    def simhashNew(): DataFrame = Dedup.simHashDupPairs(docs, "doc_id", "text")

    def ngramOld(): DataFrame = {
      val threshold = 0.5
      val sh = Dedup.shingleHashRows(docs, "doc_id", "text", 3)
        .groupBy("_id").agg(collect_set(col("_hs")).as("_sh"))
        .withColumn("_n", size(col("_sh")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val bucket = floor(log1p(col("_n")) / -math.log(threshold)).cast("int")
      val a = sh.withColumn("_g", bucket).as("a")
      val b = sh.withColumn("_g", bucket)
        .select(col("_id"), col("_sh"), col("_n"), col("_g"),
          explode(array(col("_g"), col("_g") + 1)).as("_probe")).as("b")
        .hint("shuffle_hash")
      a.join(b,
          col("a._g") === col("b._probe") &&
            (col("a._g") =!= col("b._g") || col("a._id") < col("b._id")) &&
            greatest(col("a._n"), col("b._n")) * threshold <=
              least(col("a._n"), col("b._n")))
        .select(
          least(col("a._id"), col("b._id")).as("id_a"),
          greatest(col("a._id"), col("b._id")).as("id_b"),
          Dedup.jaccard(col("a._sh"), col("b._sh")).as("jaccard"))
        .filter(col("jaccard") >= threshold)
    }
    def ngramNew(): DataFrame = Dedup.ngramJaccardPairs(docs, "doc_id", "text")

    // bm25 with the r19 regex tokenizer vs the r20 byte-scan words()
    // (the only difference; identical shape otherwise)
    def bm25With(tokens: org.apache.spark.sql.Column => org.apache.spark.sql.Column): DataFrame = {
      val terms = Seq("spark", "vector", "customer")
      val k1 = 1.2; val b = 0.75
      val tfCols = terms.zipWithIndex.map { case (t, i) =>
        sum(when(col("_tok") === lit(t), 1d).otherwise(0d)).as(s"_tf$i") }
      val perDoc = docs.where(col("text").isNotNull)
        .select(col("doc_id").as("_id"), explode_outer(tokens(col("text"))).as("_tok"))
        .groupBy("_id")
        .agg(count(col("_tok")).cast("double").as("_dl"), tfCols: _*)
      val dfCols = terms.indices.map(i =>
        sum(when(col(s"_tf$i") > 0, 1d).otherwise(0d)).as(s"_df$i"))
      val stats = perDoc.agg(
        count(lit(1)).cast("double").as("_n"),
        (avg(col("_dl")).as("_avgdl") +: dfCols): _*)
      val nHit = terms.indices
        .map(i => when(col(s"_tf$i") > 0, 1L).otherwise(0L)).reduce(_ + _)
      def termWeight(i: Int) = {
        val tf = col(s"_tf$i"); val dfi = col(s"_df$i")
        val idf = log(lit(1.0) + (col("_n") - dfi + 0.5) / (dfi + 0.5))
        when(tf > 0, idf * tf * (k1 + 1.0) /
          (tf + (col("_dl") / col("_avgdl") * b + (1.0 - b)) * k1)).otherwise(0d)
      }
      perDoc.filter(terms.indices.map(i => col(s"_tf$i") > 0).reduce(_ || _))
        .crossJoin(broadcast(stats))
        .select(col("_id").as("doc_id"), nHit.as("n_hit_terms"),
          terms.indices.map(termWeight).reduce(_ + _).as("bm25"))
    }
    def bm25Old(): DataFrame =
      bm25With(t => regexp_extract_all(t, lit("\\S+"), lit(0)))
    def bm25New(): DataFrame =
      bm25With(t => org.apache.spark.sql.graft.FunctionShim.column(
        graft.functions.WordsExpr(
          org.apache.spark.sql.graft.FunctionShim.expression(t))))

    val ops: Seq[(String, () => DataFrame, () => DataFrame)] = Seq(
      ("lexcos", lexcosOld _, lexcosNew _),
      ("simhash", simhashOld _, simhashNew _),
      ("ngram", ngramOld _, ngramNew _),
      ("bm25tok", bm25Old _, bm25New _))

    ops.filter(o => only.forall(_ == o._1)).foreach { case (name, old, neu) =>
      val aRows = old().collect().map(_.toString).sorted.toSeq
      spark.catalog.clearCache()
      val bRows = neu().collect().map(_.toString).sorted.toSeq
      spark.catalog.clearCache()
      println(s"[r20ab] $name answers old=${aRows.size} new=${bRows.size} equal=${aRows == bRows}")
      require(aRows == bRows, s"$name: answers diverge")
      // warmup both
      old().write.format("noop").mode("overwrite").save(); spark.catalog.clearCache()
      neu().write.format("noop").mode("overwrite").save(); spark.catalog.clearCache()
      val oldTs = scala.collection.mutable.ArrayBuffer.empty[Double]
      val newTs = scala.collection.mutable.ArrayBuffer.empty[Double]
      (1 to iters).foreach { _ =>
        spark.catalog.clearCache(); System.gc()
        oldTs += ms(old().write.format("noop").mode("overwrite").save())
        spark.catalog.clearCache(); System.gc()
        newTs += ms(neu().write.format("noop").mode("overwrite").save())
      }
      println(f"[r20ab] $name old(persist) median=${med(oldTs.toSeq)}%.0f ms " +
        f"all=${oldTs.map(v => f"$v%.0f").mkString(",")}")
      println(f"[r20ab] $name new(exchange) median=${med(newTs.toSeq)}%.0f ms " +
        f"all=${newTs.map(v => f"$v%.0f").mkString(",")}")
    }
    spark.stop()
  }
}
