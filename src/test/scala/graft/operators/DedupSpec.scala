package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark

  private def docs = {
    import spark.implicits._
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"), // exact dup of 0
      (2L, "the quick brown fox jumps over the lazy dog near the river shore"), // near dup of 0
      (3L, "completely different words about spark catalyst optimizer internals stuff"),
      (4L, "another unrelated document mentioning shuffle partitions and broadcast joins")
    ).toDF("doc_id", "text")
  }

  test("exact dedup keeps one row per text") {
    assert(Dedup.exact(docs, Seq("text")).count() == 4)
  }

  test("jaccard of identical shingle sets is 1.0") {
    val sh = docs.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
    val j = sh.as("a").join(sh.as("b"),
        col("a.doc_id") === 0 && col("b.doc_id") === 1)
      .select(Dedup.jaccard(col("a.sh"), col("b.sh")))
      .collect().head.getDouble(0)
    assert(j == 1.0)
  }

  test("shingles of short texts are empty, not garbage") {
    import spark.implicits._
    val one = Seq((0L, "two words")).toDF("doc_id", "text")
      .select(Dedup.shingles(col("text"), 3).as("sh"))
      .collect().head.getSeq[String](0)
    assert(one.isEmpty)
  }

  test("minhash LSH finds exact and near duplicates, skips unrelated") {
    val pairs = Dedup.minHashDupPairs(docs, "doc_id", "text",
        shingleSize = 3, numHashes = 128, bands = 32, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)), "exact duplicate pair missed")
    assert(pairs.contains((0L, 2L)) && pairs.contains((1L, 2L)), "near-dup pair missed")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), "false positive on unrelated doc")
  }

  test("fused minhash state is bit-exact with the explode+aggregate formulation") {
    import spark.implicits._
    val real = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
      // texts with leading/trailing/repeated whitespace exercise the
      // kernel's split("\\s+",-1) replication; too-short docs must drop
      .union(docs.select(col("doc_id") + 100000, col("text")))
      .union(Seq(
        (200001L, "  leading and trailing  whitespace runs here  "),
        (200002L, "one two"), // < shingleSize words → no state row
        (200003L, ""),
        (200004L, "tabs\tand\nnewlinesseparate\ftokens\rtoo yes")
      ).toDF("doc_id", "text"))
    val sigAgg = udaf(new LegacyMinHashAgg(16))
    val legacy = Dedup.shingleHashRows(real, "doc_id", "text", 3)
      .groupBy("_id")
      .agg(sigAgg(pmod(col("_hs"), lit(graft.functions.MinHashKernel.P))).as("_sig"),
        collect_set(col("_hs")).as("_sh"))
    val fused = Dedup.minHashState(real, "doc_id", "text", shingleSize = 3, numHashes = 16)
    val l = legacy.select(col("_id"), col("_sig"), sort_array(col("_sh")).as("_sh"))
    val f = fused.select(col("_id"), col("_sig"), col("_sh")) // kernel emits sorted
    assert(l.count() == f.count(), "same document coverage")
    val joined = l.as("l").join(f.as("f"), col("l._id") === col("f._id"), "full")
    val bad = joined.filter(
      col("l._id").isNull || col("f._id").isNull ||
        !(col("l._sig") <=> col("f._sig")) || !(col("l._sh") <=> col("f._sh"))).count()
    assert(bad == 0L, "signatures and shingle sets must match row for row")
  }

  test("minhash signature of identical texts is identical") {
    val sig = docs.filter(col("doc_id") < 2)
      .select(Dedup.minHashSignature(Dedup.shingles(col("text"), 3), 32).as("sig"))
      .collect().map(_.getSeq[Long](0))
    assert(sig(0) == sig(1))
  }

  test("simhash: identical texts at distance 0, near-dups close, others far") {
    val fp = docs.select(col("doc_id"), Dedup.simHash(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def dist(a: Long, b: Long) = java.lang.Long.bitCount(fp(a) ^ fp(b))
    assert(dist(0, 1) == 0)
    assert(dist(0, 2) <= 12, s"near-dup too far: ${dist(0, 2)}")
    assert(dist(0, 3) > 12, s"unrelated too close: ${dist(0, 3)}")
  }

  test("simhash banded pairs include the exact-dup pair") {
    val pairs = Dedup.simHashDupPairs(docs, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
  }

  test("ngram jaccard pairs agree with a hand-computed threshold") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        shingleSize = 3, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L), (0L, 2L), (1L, 2L)))
  }

  test("connected components label chains transitively with the min id") {
    val spark2 = spark
    import spark2.implicits._
    // chain 1-2-3-4 (diameter 3, needs >1 propagation round), pair 10-11,
    // and an edge listed "backwards" (9, 8) → label must still be the min
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (8L, 9L))
      .toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 8L -> 8L, 9L -> 8L))
  }

  test("connected components converge on long chains (pointer jumping)") {
    val spark2 = spark
    import spark2.implicits._
    // a 41-node chain: plain min-propagation needs 40 rounds; pointer
    // jumping doubles the resolved depth per round → ~7, well under 10
    val pairs = (0L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(pairs, maxIter = 10)
    assert(labels.collect().forall(_.getLong(1) == 0L))
  }

  test("connected components use the reliable checkpoint dir when configured") {
    val spark2 = spark
    import spark2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    spark.conf.set(graft.service.Settings.CheckpointDir.name, dir)
    try {
      val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
      val labels = Dedup.connectedComponents(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
      // the reliable path actually wrote checkpoint data under the dir
      def rddFiles(f: java.io.File): Int =
        Option(f.listFiles()).toSeq.flatten.map { c =>
          (if (c.isDirectory) rddFiles(c) else 0) +
            (if (c.getName.startsWith("rdd-")) 1 else 0)
        }.sum
      assert(rddFiles(new java.io.File(dir)) > 0,
        s"no rdd-* checkpoint dirs under $dir")
    } finally spark.conf.unset(graft.service.Settings.CheckpointDir.name)
  }

  test("component size histogram counts clusters plus singletons") {
    val spark2 = spark
    import spark2.implicits._
    // components: {0,1,2} (size 3), {5,6} (size 2); docs 0..9 → 5 singletons
    val docs = (0L until 10L).toDF("doc_id")
    val pairs = Seq((0L, 1L), (1L, 2L), (5L, 6L)).toDF("id_a", "id_b")
    val hist = Dedup.componentSizeHistogram(docs, "doc_id", pairs)
      .orderBy("cluster_size").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(hist == Seq((1L, 5L), (2L, 1L), (3L, 1L)))
  }

  test("near-dup survivors keep the smallest id per component plus isolated docs") {
    val spark2 = spark
    import spark2.implicits._
    val all = (0L to 5L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((0L, 1L), (1L, 2L), (4L, 5L)).toDF("id_a", "id_b")
    val survivors = Dedup.nearDupSurvivors(all, "doc_id", pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == Set(0L, 3L, 4L)) // 1,2 fold into 0; 5 into 4; 3 isolated
  }

  test("contamination flags corpus docs sharing an n-gram with the benchmark") {
    val spark2 = spark
    import spark2.implicits._
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"), // shares 3-grams with bench 0
      (11L, "alpha beta gamma something else entirely"), // shares exactly one 3-gram
      (12L, "nothing in common with the benchmark at all")
    ).toDF("doc_id", "text")
    val bench = Seq(
      (0L, "alpha beta gamma delta epsilon"),
      (1L, "totally separate benchmark prompt here")
    ).toDF("doc_id", "text")
    val hits = Dedup.contamination(corpus, bench, "doc_id", "text", n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // doc 10 shares "alpha beta gamma", "beta gamma delta", "gamma delta epsilon"
    assert(hits == Map(10L -> 3L, 11L -> 1L))
  }

  test("line dedup removes corpus-frequent lines and preserves order") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq(
      (0L, "keep me zero\nshared boilerplate line\nunique tail zero"),
      (1L, "shared boilerplate line\nkeep me one"),
      (2L, "only unique content here\nrepeated inside\nrepeated inside")
    ).toDF("doc_id", "text")
    val out = Dedup.lineDedup(docs, "doc_id", "text", minDocs = 2)
      .orderBy("_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out(0) == ((0L, "keep me zero\nunique tail zero", 2L, 1L)))
    assert(out(1) == ((1L, "keep me one", 1L, 1L)))
    // line repeated WITHIN one doc is not boilerplate (distinct-doc count)
    assert(out(2) == ((2L, "only unique content here\nrepeated inside\nrepeated inside", 3L, 0L)))
  }

  test("line dedup keeps a row for fully-boilerplate documents") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq(
      (0L, "all shared"), (1L, "all shared"), (2L, "survivor text")
    ).toDF("doc_id", "text")
    val out = Dedup.lineDedup(docs, "doc_id", "text", minDocs = 2)
      .orderBy("_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.length == 3)
    assert(out(0) == ((0L, "", 0L, 1L)))
    assert(out(2) == ((2L, "survivor text", 1L, 0L)))
  }

  test("cross-corpus dup pairs find new-vs-ref near-dups only, matching direct Jaccard") {
    val spark2 = spark
    import spark2.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val ref = Seq(
      (0L, base),                                    // near-dup of new 10
      (2L, "one two three four five six seven"),     // unrelated
      (4L, "lorem ipsum dolor sit amet consectetur") // unrelated
    ).toDF("doc_id", "text")
    val fresh = Seq(
      (10L, base + " lambda"),                       // ≥0.7 Jaccard vs ref 0
      (11L, "one two three COMPLETELY different things here now"), // < 0.7
      (12L, base)                                    // exact dup of ref 0
    ).toDF("doc_id", "text")
    val refState = Dedup.minHashState(ref, "doc_id", "text",
      shingleSize = 3, numHashes = 128)
    val pairs = Dedup.crossCorpusDupPairs(fresh, "doc_id", "text", refState,
      shingleSize = 3, numHashes = 128, bands = 32, threshold = 0.7)
      .select("new_id", "ref_id").as[(Long, Long)].collect().toSet
    assert(pairs == Set((10L, 0L), (12L, 0L)))
    // new-vs-new pairs (10, 12 are near-dups of each other) never appear:
    // the operator's contract is strictly new-vs-reference
    assert(!pairs.exists { case (a, b) => a >= 10 && b >= 10 })
  }

  test("minHashState stamps build parameters; cross-corpus rejects mismatched bands (advisor r7)") {
    val spark2 = spark
    import spark2.implicits._
    val ref = Seq((0L, "a b c d e f g h i j")).toDF("doc_id", "text")
    val state = Dedup.minHashState(ref, "doc_id", "text",
      shingleSize = 3, numHashes = 32, bands = 16)
    // metadata survives a parquet round-trip (the cross-run state path)
    val dir = java.nio.file.Files.createTempDirectory("graft_mh_state").toString
    state.write.mode("overwrite").parquet(dir)
    val loaded = spark.read.parquet(dir)
    val m = loaded.schema.find(_.name == "_sig").get.metadata
    assert(m.getLong(Dedup.MetaNumHashes) == 32L)
    assert(m.getLong(Dedup.MetaShingleSize) == 3L)
    assert(m.getLong(Dedup.MetaBands) == 16L)
    val fresh = Seq((10L, "a b c d e f g h i j")).toDF("doc_id", "text")
    // banding differently than the state's tuning silently collapses
    // recall — must throw, not return an empty frame
    val e = intercept[IllegalArgumentException] {
      Dedup.crossCorpusDupPairs(fresh, "doc_id", "text", loaded,
        shingleSize = 3, numHashes = 32, bands = 8, threshold = 0.7)
    }
    assert(e.getMessage.contains("bands"))
    intercept[IllegalArgumentException] {
      Dedup.crossCorpusDupPairs(fresh, "doc_id", "text", loaded,
        shingleSize = 4, numHashes = 32, bands = 16, threshold = 0.7)
    }
    // matching parameters run and find the exact dup
    val ok = Dedup.crossCorpusDupPairs(fresh, "doc_id", "text", loaded,
      shingleSize = 3, numHashes = 32, bands = 16, threshold = 0.7)
      .select("new_id", "ref_id").as[(Long, Long)].collect().toSet
    assert(ok == Set((10L, 0L)))
  }

  test("cross-corpus refuses an unversioned (pre-v2) state frame (advisor r8)") {
    val spark2 = spark
    import spark2.implicits._
    // a state with the right SHAPE but no format stamp — what a parquet
    // state written by a round-≤7 build (string-hashed shingles) looks
    // like: same columns, incompatible hash values, no metadata
    val v1ish = Seq((0L, Array.fill(32)(7L), Array(1L, 2L, 3L)))
      .toDF("_id", "_sig", "_sh")
    val fresh = Seq((10L, "a b c d e f g h i j")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.crossCorpusDupPairs(fresh, "doc_id", "text", v1ish,
        shingleSize = 3, numHashes = 32, bands = 16, threshold = 0.7)
    }
    assert(e.getMessage.contains("format"))
  }
}

/** The HISTORICAL MinHash signature aggregate, verbatim — the
  * typed-Aggregator half of the explode → pmod → affine-min →
  * collect_set state build that [[graft.functions.MinHashKernel]]'s
  * fused scan-stage kernel replaced. Kept top-level (a nested class
  * would drag the non-serializable suite into the task closure) as the
  * equivalence oracle for the bit-exactness pin above. A typed
  * Aggregator rather than k column mins because 128 column aggregates
  * overflow the generated-method budget and drop the stage out of
  * codegen (r3 measurement). */
private[operators] class LegacyMinHashAgg(numHashes: Int)
    extends org.apache.spark.sql.expressions.Aggregator[Long, Array[Long], Seq[Long]] {
  private val P = graft.functions.MinHashKernel.P
  private val B = graft.functions.MinHashKernel.B
  override def zero: Array[Long] = Array.fill(numHashes)(P)
  override def reduce(buf: Array[Long], h0: Long): Array[Long] = {
    var i = 0
    while (i < numHashes) {
      val x = h0 * (2L * i + 1001L) + B * i
      var v = (x & P) + (x >>> 31)
      if (v >= P) v -= P
      if (v < buf(i)) buf(i) = v
      i += 1
    }
    buf
  }
  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < numHashes) { if (b(i) < a(i)) a(i) = b(i); i += 1 }
    a
  }
  override def finish(buf: Array[Long]): Seq[Long] = buf.toSeq
  override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  override def outputEncoder: org.apache.spark.sql.Encoder[Seq[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
}
