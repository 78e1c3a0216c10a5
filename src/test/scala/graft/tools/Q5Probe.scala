package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.{Dedup, OpCache}

/** q5 cache-race attribution: A = status-quo minHashDupPairs (state
  * persisted lazily; AQE materializes 4 cache occurrences), B = same
  * pipeline with the state eagerly materialized first (one build, all
  * consumers read blocks), C = banded pairs via groupBy+collect_list
  * (one banded consumer) instead of the self-join.
  * Run: Test/runMain graft.tools.Q5Probe [sfDir] [iters]
  */
object Q5Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val iters = args.lift(1).map(_.toInt).getOrElse(5)
    val spark = SparkSession.builder()
      .master("local[32]")
      .appName("q5probe")
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

    def variantA(): DataFrame =
      Dedup.minHashDupPairs(docs, "doc_id", "text",
        shingleSize = 3, numHashes = 128, bands = 32, threshold = 0.7)

    def variantB(): DataFrame = {
      val state = OpCache.persist(
        Dedup.minHashState(docs, "doc_id", "text", 3, 128, 32))
      state.count() // eager: one build, everything downstream reads blocks
      val cand = Dedup.lshCandidates(state, "_id", "_sig", 32)
      val side = state.select(col("_id"), col("_sh")).hint("shuffle_hash")
      cand
        .join(side.as("sa"), cand("id_a") === col("sa._id"))
        .join(side.as("sb"), cand("id_b") === col("sb._id"))
        .select(col("id_a"), col("id_b"),
          Dedup.jaccard(col("sa._sh"), col("sb._sh")).as("jaccard"))
        .filter(col("jaccard") >= 0.7)
    }

    def candGrouped(state: DataFrame, bands: Int): DataFrame = {
      val banded = state.select(
        col("_id"),
        posexplode(Dedup.bandHashes(col("_sig"), bands)).as(Seq("_band", "_bandhash")))
      banded
        .groupBy("_band", "_bandhash").agg(sort_array(collect_list(col("_id"))).as("_ids"))
        .filter(size(col("_ids")) > 1)
        .select(explode(col("_ids")).as("id_a"), col("_ids"))
        .select(col("id_a"), explode(col("_ids")).as("id_b"))
        .filter(col("id_a") < col("id_b"))
        .distinct()
    }

    def variantC(): DataFrame = {
      val state = OpCache.persist(
        Dedup.minHashState(docs, "doc_id", "text", 3, 128, 32))
      val cand = candGrouped(state, 32)
      val side = state.select(col("_id"), col("_sh")).hint("shuffle_hash")
      cand
        .join(side.as("sa"), cand("id_a") === col("sa._id"))
        .join(side.as("sb"), cand("id_b") === col("sb._id"))
        .select(col("id_a"), col("id_b"),
          Dedup.jaccard(col("sa._sh"), col("sb._sh")).as("jaccard"))
        .filter(col("jaccard") >= 0.7)
    }

    // D: the pipeline without Spread (lazy state, numeric banding)
    def variantD(): DataFrame = {
      val state = OpCache.persist(
        Dedup.minHashState(docs, "doc_id", "text", 3, 128, 32))
      val cand = Dedup.lshCandidates(state, "_id", "_sig", 32)
      val side = state.select(col("_id"), col("_sh")).hint("shuffle_hash")
      cand
        .join(side.as("sa"), cand("id_a") === col("sa._id"))
        .join(side.as("sb"), cand("id_b") === col("sb._id"))
        .select(col("id_a"), col("id_b"),
          Dedup.jaccard(col("sa._sh"), col("sb._sh")).as("jaccard"))
        .filter(col("jaccard") >= 0.7)
    }

    // E: no cache — one hash exchange on _id materialized once (AQE
    // stage), every consumer reads the shuffle output; the sa/sb join
    // sides are already distributed by _id so their exchanges vanish
    def variantE(): DataFrame = {
      val state = Dedup.minHashState(docs, "doc_id", "text", 3, 128, 32)
        .repartition(col("_id"))
      val cand = Dedup.lshCandidates(state, "_id", "_sig", 32)
      val side = state.select(col("_id"), col("_sh")).hint("shuffle_hash")
      cand
        .join(side.as("sa"), cand("id_a") === col("sa._id"))
        .join(side.as("sb"), cand("id_b") === col("sb._id"))
        .select(col("id_a"), col("id_b"),
          Dedup.jaccard(col("sa._sh"), col("sb._sh")).as("jaccard"))
        .filter(col("jaccard") >= 0.7)
    }

    // answers must agree
    val a = variantA().collect().map(_.toString).sorted.toSeq
    val b = variantB().collect().map(_.toString).sorted.toSeq
    val c = variantC().collect().map(_.toString).sorted.toSeq
    val dd = variantD().collect().map(_.toString).sorted.toSeq
    val ee = variantE().collect().map(_.toString).sorted.toSeq
    println(s"[q5probe] answers: A=${a.size} B=${b.size} C=${c.size} D=${dd.size} E=${ee.size} " +
      s"A==B=${a == b} A==C=${a == c} A==D=${a == dd} A==E=${a == ee}")

    def run(name: String, mk: () => DataFrame): Unit = {
      mk().write.format("noop").mode("overwrite").save()
      val ts = (1 to iters).map { _ =>
        spark.catalog.clearCache(); System.gc()
        ms(mk().write.format("noop").mode("overwrite").save())
      }
      println(f"[q5probe] $name median=${med(ts)}%.0f ms all=${ts.map(v => f"$v%.0f").mkString(",")}")
    }
    // F: cache ABOVE the _id exchange — kernel once, two cache reads
    def variantF(): DataFrame = {
      val state = OpCache.persist(
        Dedup.minHashState(docs, "doc_id", "text", 3, 128, 32)
          .repartition(col("_id")))
      val cand = Dedup.lshCandidates(state, "_id", "_sig", 32)
      val side = state.select(col("_id"), col("_sh")).hint("shuffle_hash")
      cand
        .join(side.as("sa"), cand("id_a") === col("sa._id"))
        .join(side.as("sb"), cand("id_b") === col("sb._id"))
        .select(col("id_a"), col("id_b"),
          Dedup.jaccard(col("sa._sh"), col("sb._sh")).as("jaccard"))
        .filter(col("jaccard") >= 0.7)
    }
    val ff = variantF().collect().map(_.toString).sorted.toSeq
    println(s"[q5probe] F=${ff.size} A==F=${a == ff}")

    // G: ONE exchange carrying an opaque struct — column pruning can't
    // split it, so the state kernel runs exactly once per action
    def variantG(): DataFrame = {
      val st0 = Dedup.minHashState(docs, "doc_id", "text", 3, 128, 32)
      val state = st0.select(struct(col("_id"), col("_sig"), col("_sh")).as("_st"))
        .repartition(col("_st._id"))
      val flat = state.select(
        col("_st._id").as("_id"), col("_st._sig").as("_sig"), col("_st._sh").as("_sh"))
      // metadata does not survive the struct round-trip: band inline
      // with the plan-time numHashes
      val banded = flat.select(col("_id"),
        posexplode(Dedup.bandHashes(col("_sig"), 32, 128)).as(Seq("_band", "_bandhash")))
      val cand = banded.as("a")
        .join(banded.as("b").hint("shuffle_hash"),
          col("a._band") === col("b._band") &&
            col("a._bandhash") === col("b._bandhash") &&
            col("a._id") < col("b._id"))
        .select(col("a._id").as("id_a"), col("b._id").as("id_b"))
        .distinct()
      val side = flat.select(col("_id"), col("_sh")).hint("shuffle_hash")
      cand
        .join(side.as("sa"), cand("id_a") === col("sa._id"))
        .join(side.as("sb"), cand("id_b") === col("sb._id"))
        .select(col("id_a"), col("id_b"),
          Dedup.jaccard(col("sa._sh"), col("sb._sh")).as("jaccard"))
        .filter(col("jaccard") >= 0.7)
    }
    val gg = variantG().collect().map(_.toString).sorted.toSeq
    println(s"[q5probe] G=${gg.size} A==G=${a == gg}")
    run("A_status_quo", variantA)
    run("G_struct_exchange", variantG)
    run("A_again", variantA)
    run("G_again", variantG)
    spark.stop()
  }
}
