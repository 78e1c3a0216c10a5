package graft

import java.nio.file.{Files, Paths}

/** Dumps `explain("formatted")` for the headline queries to PLANS.md —
  * the per-operator plan audit the build rules call for. Run after any
  * operator change; PlanSpec pins the load-bearing properties as
  * assertions, this file is the human-readable evidence.
  */
object PlanAudit {

  private val audited = Seq(
    "q01_count", "q02_count_by_file", "q03_sum_group", "q07_filter_sort",
    "q13_join_inner", "q16_join_multi", "q18_window_topn", "q25_topk",
    "q31_cityhash", "q42_minhash_dups", "q44_ngram_pairs", "q46_ann_topk",
    "q47_lsh_ann", "q60_http_parquet", "q71_repetition", "q74_regex_tail",
    "q79_line_dedup", "q80_contamination", "q81_array_join_clause",
    "q84_url_funcs", "q85_window_funnel", "q87_with_fill",
    "q91_gopher_filter", "q92_unigram_logprob", "q93_token_bins",
    "q96_bloom_dedup", "q97_hash_sample", "q98_mixture", "q99_chunk_tokens",
    "q100_stats_aggs", "q108_summap", "q111_tfidf", "q112_bm25",
    "q113_rrf_fusion", "q114_stratified_sample", "q115_shuffle_shards",
    "q119_cross_corpus_dups", "q120_ivf_saved_index", "q121_ngram_tail",
    "q122_qualify", "q123_weighted_quantile", "q126_lexical_cosine",
    "q130_window_funnel", "q133_map_aggregates", "q140_skew_kurt",
    "q141_interval_union", "q143_attach_http", "q144_vector_dist",
    "q146_sum_array_if", "q149_uniq_array_if", "q150_footer_minmax",
    "q151_semantic_dedup", "q154_pack_budget", "q156_map_combinators",
    "q168_pq_adc", "q171_replace_url_tail", "q174_agg_projection",
    "q175_projection_filter", "q176_optimize_table", "q177_mutations",
    "q160_attach_mergetree", "q178_mt_projection", "q179_ctas_mergetree",
    "q180_mt_mutations", "q181_mt_insert_append", "q182_mt_truncate_refill",
    "q183_mt_stream_ingest",
    // r13: the LLM-pipeline operators through their SQL table-function
    // spellings — the plans must be the Scala twins' plans
    "q202_sql_minhash_pairs", "q203_sql_bloom_anti", "q204_sql_bm25",
    "q205_sql_stratified", "q206_sql_semantic_dedup", "q207_sql_hash_sample",
    // r14: the ANN read side through SQL (must be the Scala twins'
    // plans — partition-pruned IVF probes, broadcast ADC tables) and
    // the inline-data INSERT's part-append
    "q216_sql_ivf_topk", "q217_sql_pq_adc", "q218_inline_insert",
    // r18: the new single-stage kernels and the native-wire read
    "q232_remote_native", "q233_mt_decimal_ctas", "q32_uniq_approx")

  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val spark = graft.core.Engine.session("graft-plan-audit", cores = 4)
    spark.sparkContext.setLogLevel("ERROR")

    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of headline queries\n\n")
    sb.append(s"Generated by `runMain graft.PlanAudit` on `$dir`.\n")
    sb.append("Checked properties are pinned as assertions in `PlanSpec`.\n")
    audited.foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"\n## $name\n\n```\n$plan```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"[plan-audit] wrote ${audited.size} plans to $out")
    spark.stop()
  }
}
