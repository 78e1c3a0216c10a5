package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Lexical retrieval scoring for training-data pipelines: TF-IDF,
  * Okapi BM25, and reciprocal-rank fusion (builder-prompt family,
  * beyond the reference's own surface — the reference delegates all
  * text search to ClickHouse SQL,
  * `temporal/workflow_query_executor.go:313`).
  *
  * Tokenization matches the rest of the text stack (`\S+` runs,
  * [[TextAnalysis.tokenCount]]) so scores compose with the quality /
  * dedup operators over the same token stream.
  *
  * Scale posture, shared by all three:
  *   - the corpus text never shuffles — only exploded (doc, term) hit
  *     rows reach an aggregate, and for BM25 the hits are pre-filtered
  *     to the query's terms AT THE SCAN, so corpus-scale rows never
  *     carry non-query terms into the shuffle;
  *   - vocabulary-sized side tables (document frequencies, the
  *     corpus-stats scalar) broadcast — the big side never moves;
  *   - RRF windows partition by query id, so fusion state is bounded
  *     by each query's candidate count, never the corpus.
  */
object Retrieval {

  // byte-scan tokenizer, bit-identical to regexp_extract_all(\S+)
  // (r20: the regex machinery measured ~2× the byte scan — R20Probe
  // tokab; WordsSpec pins the equivalence property-style)
  private def tokens(text: Column): Column =
    org.apache.spark.sql.graft.FunctionShim.column(
      graft.functions.WordsExpr(
        org.apache.spark.sql.graft.FunctionShim.expression(text)))

  /** Per-(document, term) TF-IDF over the whole corpus:
    * `tf * ln(N / df)` with raw term counts, where `df` counts
    * DOCUMENTS containing the term and `N` is the corpus size.
    * Returns (idCol, term, tf, df, tfidf).
    *
    * Distributed shape: explode → one hash-aggregate to (doc, term)
    * counts (map-side partial combine eats the duplicate-term mass);
    * document frequencies derive from THAT persisted aggregate, not a
    * second corpus scan, and broadcast back (vocabulary-sized — orders
    * of magnitude smaller than the corpus). N is its own
    * count-distinct over the id column only (a pruned scan), joined in
    * as a broadcast scalar — nothing is collected to the driver. */
  def tfidf(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    ExchangeReuse.warnIfDisabled(df.sparkSession)
    val hits = df.select(col(idCol).as("_id"),
      explode(tokens(col(textCol))).as("term"))
    // the (doc, term) aggregate's own exchange is the materialization
    // point: document frequencies derive from the same shuffle output
    // via exchange reuse — the corpus is scanned and exploded once per
    // action, no cache stages (r19 optimization round)
    val tf = hits.groupBy("_id", "term").agg(count(lit(1)).as("tf"))
    // df per term from the (doc, term) aggregate: each row is one
    // distinct (doc, term), so a plain count IS the document frequency
    val docFreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = df.select(countDistinct(col(idCol)).as("_n"))
    tf.join(broadcast(docFreq), Seq("term"))
      .crossJoin(broadcast(nDocs))
      .select(
        col("_id").as(idCol), col("term"), col("tf"), col("df"),
        (col("tf") * log(col("_n").cast("double") / col("df"))).as("tfidf"))
  }

  /** Okapi BM25 score of every document against one bag of query
    * terms. Returns (idCol, n_hit_terms, bm25) for documents matching
    * at least one term.
    *
    * idf is the standard smoothed Robertson form
    * `ln(1 + (N - df + 0.5) / (df + 0.5))` (non-negative), and the
    * term weight `idf * tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl))`.
    *
    * Distributed shape — ONE corpus pass (tokenizing is the dominant
    * cost; the r7 form paid it twice, once for the (N, avgdl) stats
    * aggregate and once for the hit scan): the token stream explodes
    * inside codegen and hash-aggregates straight back to one row per
    * document carrying its length plus one tf column per query term —
    * map-side combine folds each document's tokens before the narrow
    * per-doc shuffle, so token rows never cross the wire. That per-doc
    * frame (doc-count-sized — id + dl + |terms| doubles, no text) is
    * the only persisted state; corpus stats and per-term document
    * frequencies aggregate from it to a single broadcast row, and the
    * score is a pure projection — no joins at all beyond that scalar.
    * `explode_outer` keeps zero-token documents counting toward N and
    * avgdl exactly as a separate stats pass would. NULL-text rows are
    * not documents: they are excluded from N and avgdl entirely (the
    * one-pass and many-terms paths agree on this definition).
    *
    * Query bags wider than [[Bm25MaxTfColumns]] switch to the
    * two-pass explode+group form automatically (one tf aggregate
    * column per term stops being reasonable past that width). */
  def bm25(
      df: DataFrame,
      idCol: String,
      textCol: String,
      queryTerms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25 needs at least one query term")
    ExchangeReuse.warnIfDisabled(df.sparkSession)
    val terms = queryTerms.distinct
    if (terms.size > Bm25MaxTfColumns)
      return bm25ManyTerms(df, idCol, textCol, terms, k1, b)
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("_tok") === lit(t), 1d).otherwise(0d)).as(s"_tf$i") }
    // the groupBy's own exchange is the materialization point: the two
    // consumers (stats aggregate, score projection) share the shuffle
    // via exchange reuse, so the corpus tokenizes exactly once per
    // action and only the doc-count-sized final aggregation runs per
    // consumer. (r19 optimization round: the former persist pinned the
    // same property but paid serialized cache-materialization stages.)
    val perDoc =
      df.where(col(textCol).isNotNull)
        .select(col(idCol).as("_id"), explode_outer(tokens(col(textCol))).as("_tok"))
        .groupBy("_id")
        .agg(count(col("_tok")).cast("double").as("_dl"), tfCols: _*)
    val dfCols = terms.indices.map(i =>
      sum(when(col(s"_tf$i") > 0, 1d).otherwise(0d)).as(s"_df$i"))
    val stats = perDoc.agg(
      count(lit(1)).cast("double").as("_n"),
      (avg(col("_dl")).as("_avgdl") +: dfCols): _*)
    val nHit = terms.indices
      .map(i => when(col(s"_tf$i") > 0, 1L).otherwise(0L))
      .reduce(_ + _)
    def termWeight(i: Int): Column = {
      val tf = col(s"_tf$i")
      val dfi = col(s"_df$i")
      val idf = log(lit(1.0) + (col("_n") - dfi + 0.5) / (dfi + 0.5))
      when(tf > 0,
        idf * tf * (k1 + 1.0) /
          (tf + (col("_dl") / col("_avgdl") * b + (1.0 - b)) * k1))
        .otherwise(0d)
    }
    perDoc
      .filter(terms.indices.map(i => col(s"_tf$i") > 0).reduce(_ || _))
      .crossJoin(broadcast(stats))
      .select(
        col("_id").as(idCol),
        nHit.as("n_hit_terms"),
        terms.indices.map(termWeight).reduce(_ + _).as("bm25"))
  }

  /** Past this many distinct query terms [[bm25]] stops generating one
    * tf column per term and uses [[bm25ManyTerms]]. */
  val Bm25MaxTfColumns = 64

  /** Wide-query BM25: the two-pass explode+group form — a hit scan
    * keyed on (doc, term) plus a stats pass — identical scores to the
    * one-pass path (pinned by test), usable at any term count. Costs a
    * second tokenize pass and a doc-length join the narrow path
    * avoids. */
  private def bm25ManyTerms(
      df: DataFrame,
      idCol: String,
      textCol: String,
      terms: Seq[String],
      k1: Double,
      b: Double): DataFrame = {
    val corpus = df.where(col(textCol).isNotNull)
    val stats = corpus.agg(
      count(lit(1)).cast("double").as("_n"),
      avg(size(tokens(col(textCol)))).cast("double").as("_avgdl"))
    // exchange reuse materializes the hit aggregate once (see bm25)
    val hits =
      corpus
        .select(col(idCol).as("_id"), explode(tokens(col(textCol))).as("_tok"))
        .where(col("_tok").isin(terms: _*))
        .groupBy("_id", "_tok").agg(count(lit(1)).cast("double").as("_tf"))
    val dfPerTerm = hits.groupBy("_tok")
      .agg(count(lit(1)).cast("double").as("_df"))
    val dl = corpus.select(col(idCol).as("_id"),
      size(tokens(col(textCol))).cast("double").as("_dl"))
    val idf = log(lit(1.0) + (col("_n") - col("_df") + 0.5) / (col("_df") + 0.5))
    val weight = idf * col("_tf") * (k1 + 1.0) /
      (col("_tf") + (col("_dl") / col("_avgdl") * b + (1.0 - b)) * k1)
    hits
      .join(broadcast(dfPerTerm), "_tok")
      .join(dl, "_id")
      .crossJoin(broadcast(stats))
      .groupBy("_id")
      .agg(count(lit(1)).as("n_hit_terms"), sum(weight).as("bm25"))
      .select(col("_id").as(idCol), col("n_hit_terms"), col("bm25"))
  }

  /** Sparse lexical cosine similarity between documents, via the
    * inverted index: per-(doc, term) TF-IDF weights, L2-normalized per
    * document, pairwise dot products accumulated term-by-term. Returns
    * (id_a, id_b, cos) with id_a < id_b and cos ≥ `minCosine` — the
    * lexical counterpart of the embedding near-dup pairs.
    *
    * Scale posture: the self-join keys on the TERM, so cost is
    * Σ postings(term)² — dominated by the commonest terms. `maxDf`
    * caps posting-list length (terms in more than `maxDf` documents
    * are pruned BEFORE the join — they carry near-zero idf weight and
    * quadratic join mass; this is the standard stopword-pruning bound
    * that keeps an inverted-index self-join collision-proportional).
    * Both join sides are posting-list-sized — shuffle-hash, never
    * broadcast. */
  def lexicalCosinePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minCosine: Double,
      maxDf: Long): DataFrame = {
    ExchangeReuse.warnIfDisabled(df.sparkSession)
    val w = tfidf(df, idCol, textCol)
      .filter(col("df") <= maxDf)
      .select(col(idCol).as("_id"), col("term"), col("tfidf"))
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy(col("_id"))
    // the self-join's own term-key exchanges are the materialization
    // point: both sides are identical subtrees, so exchange reuse
    // serves them from ONE shuffle and the tfidf pipeline (scan,
    // explode, (doc,term) aggregate, per-doc window) runs once per
    // action — the former persist pinned the same single-derivation
    // property but paid serialized cache-materialization stages, the
    // defect the r19 round measured as a net loss in four sibling
    // operators (q5/q6/q7/q8). Requires spark.sql.exchange.reuse
    // (default true); with it disabled the plan stays correct, just
    // derives the posting list once per side. Then each side sums its
    // own `_n` window of doubles in shuffle-fetch order, so the two
    // sides' `_w` can differ in the last ulp, and a pair whose `cos`
    // sits on `minCosine` to within rounding can flip.
    val unit = w
      .withColumn("_n", sqrt(sum(col("tfidf") * col("tfidf")).over(byDoc)))
      .filter(col("_n") > 0) // docs whose every term was pruned (or all-zero idf)
      .select(col("_id"), col("term"), (col("tfidf") / col("_n")).as("_w"))
    unit.as("a")
      .join(unit.as("b").hint("shuffle_hash"),
        col("a.term") === col("b.term") && col("a._id") < col("b._id"))
      .groupBy(col("a._id").as("id_a"), col("b._id").as("id_b"))
      .agg(sum(col("a._w") * col("b._w")).as("cos"))
      .filter(col("cos") >= minCosine)
  }

  /** Reciprocal-rank fusion of two scored candidate lists (e.g. BM25
    * lexical and embedding-cosine semantic retrieval for the same
    * queries): `rrf = Σ 1 / (k + rank)` over the lists a document
    * appears in, higher = better. Inputs carry (queryCol, idCol,
    * scoreCol); ranks are dense per query, ordered by score DESC with
    * the id as a deterministic tie-break. Documents missing from one
    * list contribute only the other's term (standard RRF). Returns
    * (queryCol, idCol, rrf).
    *
    * Scale posture: ranks are window row_numbers PARTITIONED BY QUERY
    * — state is bounded by a query's candidate count (typically 10²-
    * 10³ from a top-k stage), never corpus-sized, and queries spread
    * across the cluster. The fuse itself is a full-outer equi-join on
    * (query, doc). */
  def rrfFuse(
      a: DataFrame,
      b: DataFrame,
      queryCol: String,
      idCol: String,
      scoreCol: String,
      k: Int = 60): DataFrame = {
    def ranked(df: DataFrame, out: String): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(queryCol))
        .orderBy(col(scoreCol).desc, col(idCol).asc)
      df.select(col(queryCol), col(idCol),
        row_number().over(w).cast("double").as(out))
    }
    ranked(a, "_ra").join(ranked(b, "_rb"), Seq(queryCol, idCol), "full_outer")
      .select(col(queryCol), col(idCol),
        (coalesce(lit(1.0) / (lit(k.toDouble) + col("_ra")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(k.toDouble) + col("_rb")), lit(0.0))).as("rrf"))
  }
}
