package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: token counting,
  * quality scoring, language ID, document fingerprinting. All pure
  * column expressions (codegen'd, no UDFs) — at 100 TB these run inside
  * the scan stage with zero extra shuffles.
  */
object TextAnalysis {

  /** The `\S+` tokenizer as a byte-scan expression — bit-identical to
    * `regexp_extract_all(text, "\\S+", 0)` without the regex machinery
    * (r20 optimization round; equivalence pinned by WordsSpec). */
  private[operators] def words(text: Column): Column =
    org.apache.spark.sql.graft.FunctionShim.column(
      graft.functions.WordsExpr(
        org.apache.spark.sql.graft.FunctionShim.expression(text)))

  /** Token count via `\S+` runs — robust to repeated/leading whitespace
    * (deterministic across engines, unlike split-on-space). */
  def tokenCount(text: Column): Column = size(words(text))

  /** BPE-ish subword count: word-piece regex that splits words, numbers,
    * and punctuation runs separately (a cheap stand-in for a real BPE
    * vocab — the Spark-side plumbing is what matters at scale). */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(text,
      lit("[A-Za-z]{1,4}|[0-9]{1,3}|[^A-Za-z0-9\\s]"), lit(0)))

  /** Per-document quality features (integer-exact where possible so the
    * oracle comparison is float-free). */
  def qualityFeatures(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("n_chars_m", length(col(textCol)))
      .withColumn("n_tokens", tokenCount(col(textCol)))
      .withColumn("n_punct",
        size(regexp_extract_all(col(textCol), lit("[.,;:!?]"), lit(0))))
      .withColumn("n_digits",
        size(regexp_extract_all(col(textCol), lit("[0-9]"), lit(0))))
      .withColumn("n_upper",
        size(regexp_extract_all(col(textCol), lit("[A-Z]"), lit(0))))

  /** Language-ID heuristic: score each candidate language by stopword
    * hits and pick the argmax (fixed language order breaks ties
    * deterministically). Word lists are tiny and inlined — the point is
    * the scan-stage mechanism, which at scale would load a real n-gram
    * profile per language. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "de", "y", "es"),
    "fr" -> Seq("le", "la", "et", "est", "un"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  def langScore(text: Column, words: Seq[String]): Column = {
    val pattern = words.map(java.util.regex.Pattern.quote)
      .mkString("(?:^|\\s)(?:", "|", ")(?:\\s|$)")
    size(regexp_extract_all(text, lit(pattern), lit(0)))
  }

  /** Predicted language code + its score. */
  def langId(df: DataFrame, textCol: String): DataFrame = {
    val langs = stopwords.keys.toSeq.sorted
    val scored = langs.foldLeft(df) { (d, lg) =>
      d.withColumn(s"_score_$lg", langScore(col(textCol), stopwords(lg)))
    }
    val best = langs.tail.foldLeft(
      struct(col(s"_score_${langs.head}").as("score"), lit(langs.head).as("lang"))) {
      (acc, lg) =>
        when(col(s"_score_$lg") > acc.getField("score"),
          struct(col(s"_score_$lg").as("score"), lit(lg).as("lang"))).otherwise(acc)
    }
    scored
      .withColumn("lang_pred", best.getField("lang"))
      .withColumn("lang_score", best.getField("score"))
      .drop(langs.map(lg => s"_score_$lg"): _*)
  }

  /** Rolling polynomial fingerprint of the token sequence:
    * fp = Σ token_hash_i · B^(n-1-i)  (mod p). Order-sensitive (unlike a
    * bag-of-words hash), computed in one `aggregate` pass. Modular
    * arithmetic keeps every intermediate < 2^52, so the expression is
    * ANSI-mode safe (Spark 4 default) — no silent wraps, no overflow
    * errors. */
  def fingerprint(text: Column): Column = {
    val p = 2147483647L // 2^31 - 1
    val b = 1000003L
    val tokens = words(text)
    aggregate(tokens, lit(0L),
      (acc, t) => pmod(acc * b + pmod(xxhash64(t), lit(p)), lit(p)))
  }

  /** Engine-portable fingerprint: same rolling polynomial but over the
    * md5-derived 60-bit token hash ([[Dedup.md5Hash60]]), reproducible
    * in the DuckDB oracle via `list_reduce`. xxhash-based
    * [[fingerprint]] stays the production default (cheaper per token). */
  def fingerprintPortable(text: Column): Column = {
    val p = 2147483647L
    val b = 1000003L
    val tokens = words(text)
    aggregate(tokens, lit(0L),
      (acc, t) => pmod(acc * b + pmod(Dedup.md5Hash60(t), lit(p)), lit(p)))
  }

  /** Gopher-style word-repetition signals, scan-stage and integer-exact:
    * total words vs distinct words (the duplicate-word fraction is
    * `1 - n_distinct_words/n_words`, left to the caller so the stored
    * columns stay float-free). Array-local — zero shuffles. */
  def wordRepetitionFeatures(df: DataFrame, textCol: String): DataFrame = {
    val words = TextAnalysis.words(col(textCol))
    df.withColumn("n_words", size(words).cast("long"))
      .withColumn("n_distinct_words", size(array_distinct(words)).cast("long"))
  }

  /** Per-document most-repeated word n-gram: `(id, n_ngrams, top_count)`.
    * The repeated-n-gram filters (Gopher §A1.1) key off `top_count /
    * n_ngrams`. Distributed shape, not array-local: explode n-grams →
    * hash-aggregate on (doc, gram) → max per doc. One shuffle on the
    * (doc, gram) key — at 100 TB this is the correct plan (the
    * array-local alternative is O(len²) per document, quadratic in the
    * long-document tail), and the partial aggregate collapses each
    * document's repeats map-side before the exchange. */
  def topNgramStats(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    require(n >= 1, "n-gram size must be >= 1")
    val words = TextAnalysis.words(col(textCol))
    val grams =
      if (n == 1) words
      else transform(
        slice(words, lit(1), greatest(size(words) - (n - 1), lit(0))),
        (_, i) => concat_ws(" ", slice(words, i + 1, lit(n))))
    df.select(col(idCol), explode(grams).as("_gram"))
      .groupBy(idCol, "_gram").agg(count(lit(1)).as("_c"))
      .groupBy(idCol).agg(
        sum("_c").cast("long").as("n_ngrams"),
        max("_c").cast("long").as("top_count"))
  }

  /** Gopher-rule thresholds (Rae et al. 2021 §A1.1 defaults, scaled
    * knobs — callers tune per corpus). */
  case class GopherThresholds(
      minWords: Int = 50,
      maxWords: Int = 100000,
      minMeanWordLen: Double = 3.0,
      maxMeanWordLen: Double = 10.0,
      maxDigitFraction: Double = 0.2,
      minStopwordHits: Int = 2,
      maxDupWordFraction: Double = 0.4)

  /** Gopher-style composite quality filter, scan-stage and shuffle-free:
    * each rule lands as its own boolean column (`ok_*`) plus the
    * conjunction `keep`, so a pipeline can both filter and report WHY
    * documents drop — the reason histogram is the operational artifact
    * quality tuning reads. All arithmetic is deterministic rational
    * (counts and count-ratios), so the filter is oracle-checkable
    * cross-engine. Stopword hits use the English list (the corpus
    * language filter runs upstream — see [[langId]]). */
  def gopherFilter(
      df: DataFrame,
      textCol: String,
      t: GopherThresholds = GopherThresholds()): DataFrame = {
    val words = TextAnalysis.words(col(textCol))
    val nWords = size(words)
    val nChars = aggregate(words, lit(0L), (acc, w) => acc + length(w))
    val nDigits = size(regexp_extract_all(col(textCol), lit("[0-9]"), lit(0)))
    val nDistinct = size(array_distinct(words))
    val okWords = nWords >= t.minWords && nWords <= t.maxWords
    // ratio rules stay in integer cross-multiplication: a/b ≥ r ⇔ a ≥ r·b
    // is evaluated as a·SCALE ≥ r·SCALE·b over longs — float-free
    val okMeanLen =
      nChars * 100L >= lit(math.round(t.minMeanWordLen * 100)) * nWords &&
        nChars * 100L <= lit(math.round(t.maxMeanWordLen * 100)) * nWords
    val okDigits =
      nDigits * 100L <= lit(math.round(t.maxDigitFraction * 100)) * nWords
    val okStopwords =
      langScore(col(textCol), stopwords("en")) >= t.minStopwordHits
    val okDup =
      (nWords - nDistinct) * 100L <= lit(math.round(t.maxDupWordFraction * 100)) * nWords
    df.withColumn("ok_n_words", okWords)
      .withColumn("ok_mean_word_len", okMeanLen)
      .withColumn("ok_digit_fraction", okDigits)
      .withColumn("ok_stopwords", okStopwords)
      .withColumn("ok_dup_words", okDup)
      .withColumn("keep", okWords && okMeanLen && okDigits && okStopwords && okDup)
  }

  /** Unigram log-probability score — the cheap perplexity proxy a
    * pipeline runs where a real LM filter (KenLM-style) would sit: the
    * corpus's own unigram distribution scores each document as the
    * mean log-probability of its words.
    *
    * Two distributed passes: (1) explode → hash-aggregate word counts
    * (the vocabulary — orders of magnitude smaller than the corpus);
    * (2) re-explode and probe the BROADCAST vocabulary, aggregating
    * Σ log p per doc. The corpus text itself never shuffles; only
    * (doc, word-hit) rows reach the per-doc aggregate. The vocabulary
    * TOTAL is a scalar aggregate attached as a broadcast cross-join
    * (the same pattern bm25's stats row uses) — the former
    * `sum(...).over()` unpartitioned window pulled the whole vocabulary
    * to ONE partition (r20 optimization round; the scalar's aggregation
    * reuses the vocabulary aggregate's own exchange, so the corpus
    * still tokenizes once per action). The per-word probabilities are
    * still `broadcast()` to the join, so the vocabulary must fit in
    * driver and executor memory: fine for a curated corpus, not for a
    * web-scale one whose distinct-token vocabulary runs to billions of
    * rows. Returns (idCol, n_scored_words, logprob_sum). */
  def unigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = df.select(col(idCol).as("_id"),
      explode(TextAnalysis.words(col(textCol))).as("_w"))
    val vocab = words.groupBy("_w").agg(count(lit(1)).as("_c"))
    val total = vocab.agg((lit(1.0) * sum(col("_c"))).as("_t"))
    val probs = vocab.crossJoin(broadcast(total))
      .select(col("_w"), (col("_c") / col("_t")).as("_p"))
    words
      .join(broadcast(probs), Seq("_w"))
      .groupBy("_id")
      .agg(
        count(lit(1)).as("n_scored_words"),
        sum(log(col("_p"))).as("logprob_sum"))
  }

  /** Token-budget binning for sequence packing: shard documents
    * deterministically, then within each shard assign contiguous
    * cumulative-token bins of `budget` tokens (bin = ⌊exclusive-prefix
    * -sum / budget⌋ over the shard's id order). Shards bound the window
    * state — the running sum is per-shard, so packing parallelizes
    * across `shards` instead of forcing one global ordered stream.
    * Returns (idCol, n_tokens, shard, bin). */
  def tokenBudgetBins(
      df: DataFrame,
      idCol: String,
      textCol: String,
      budget: Long,
      shards: Int = 32): DataFrame = {
    require(budget > 0 && shards > 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col(idCol))
      .rowsBetween(Long.MinValue, -1)
    df.select(
        col(idCol),
        tokenCount(col(textCol)).cast("long").as("n_tokens"),
        pmod(col(idCol), lit(shards)).cast("int").as("shard"))
      .withColumn("bin",
        (coalesce(sum(col("n_tokens")).over(w), lit(0L)) / budget).cast("long"))
  }

  /** Token-window chunking: split each document into windows of `win`
    * whitespace tokens advancing by `stride` (overlap = win − stride),
    * the chunking step before embedding / context-window packing.
    * Returns one row per chunk: (idCol, chunk_idx, chunk_text,
    * n_tokens). Chunk starts are 1, 1+stride, … while ≤ token count,
    * so the final chunk may be short but no token is dropped; empty
    * documents yield no rows.
    *
    * Scale posture: the token array, window starts (`sequence` by
    * stride) and slices are all built row-locally from built-ins —
    * the explode multiplies rows ~(1 + overlap/stride)× but the
    * operator itself is scan-stage with zero shuffles. */
  def chunkTokens(
      df: DataFrame,
      idCol: String,
      textCol: String,
      win: Int,
      stride: Int): DataFrame = {
    require(win > 0 && stride > 0, s"win=$win stride=$stride must be positive")
    val words = split(trim(col(textCol)), "\\s+")
    val starts = when(col(textCol).isNull || length(trim(col(textCol))) === 0,
        array().cast("array<int>"))
      .otherwise(sequence(lit(1), size(words), lit(stride)))
    df.select(col(idCol), words.as("_w"), posexplode(starts).as(Seq("chunk_idx", "_start")))
      .select(
        col(idCol),
        col("chunk_idx").cast("long").as("chunk_idx"),
        concat_ws(" ", slice(col("_w"), col("_start"), lit(win))).as("chunk_text"),
        least(lit(win), size(col("_w")) - col("_start") + 1).cast("long").as("n_tokens"))
  }

  /** PII patterns — deliberately RE2-compatible (no backreferences, no
    * lookaround) so the same pattern text runs identically under Java
    * regex (Spark) and RE2 (DuckDB/production scrubbers). */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val phoneRe = "\\+[0-9]{6,14}"

  /** Per-document PII hit counts (emails, IPv4 literals, international
    * phone numbers) — scan-stage, integer-exact. */
  def piiStats(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("n_emails",
        size(regexp_extract_all(col(textCol), lit(emailRe), lit(0))).cast("long"))
      .withColumn("n_ipv4",
        size(regexp_extract_all(col(textCol), lit(ipv4Re), lit(0))).cast("long"))
      .withColumn("n_phones",
        size(regexp_extract_all(col(textCol), lit(phoneRe), lit(0))).cast("long"))

  /** Redact PII in place: emails → `<EMAIL>`, IPv4 → `<IP>`, phones →
    * `<PHONE>`. Email first — an address also contains digit runs, so
    * later passes must only see already-redacted text. */
  def piiScrub(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailRe, "<EMAIL>"),
        ipv4Re, "<IP>"),
      phoneRe, "<PHONE>")
}
