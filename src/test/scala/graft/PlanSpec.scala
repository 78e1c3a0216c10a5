package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.operators.{Dedup, Similarity}

/** Plan-shape assertions — the 100 TB posture checks the builder prompt
  * calls for, pinned as tests so regressions surface immediately:
  * filters/projections must reach the parquet scan, small dimensions
  * must broadcast, and no near-dup/ANN path may degenerate to a
  * cartesian product.
  */
class PlanSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Sum of input recordsRead across exactly the jobs `action` launches
    * from this thread — the empirical "corpus scans per action" pin.
    * Scoped by a unique job group (concurrent jobs in the shared
    * session cannot inflate the counter) and drained via the listener
    * bus, not a fixed sleep (advisor r19: the sleep+global-credit form
    * was race-prone). Job-start events precede their stages' task-end
    * events on the bus's ordered queue, so stage registration always
    * lands before the credits it gates. */
  private def inputRowsOf(action: => Unit): Long = {
    val sc = spark.sparkContext
    val group = s"planspec-${java.util.UUID.randomUUID()}"
    val read = new java.util.concurrent.atomic.AtomicLong()
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null &&
            group == e.properties.getProperty("spark.jobGroup.id"))
          e.stageIds.foreach(id => stages.add(id))
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null && stages.contains(e.stageId))
          read.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, "planspec input-rows pin")
    try {
      action
      org.apache.spark.graft.ListenerBusShim.waitUntilEmpty(sc)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
    read.get()
  }

  test("filter + projection push into the parquet scan") {
    val df = Tables.load(spark, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_quantity")
    val plan = planOf(df)
    assert(plan.contains("PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)]"),
      s"filter not pushed:\n$plan")
    // pruned read schema: only the 3 referenced columns, not all 11
    assert(plan.contains("ReadSchema") &&
      !plan.contains("l_extendedprice"), s"columns not pruned:\n$plan")
  }

  test("count() with aggregate pushdown is answered from footers (v2 scan)") {
    // aggregate pushdown is a DSv2 feature — parquet must come off the
    // v1 fallback list for it to engage (Bench does the same)
    val prevAgg = spark.conf.getOption("spark.sql.parquet.aggregatePushdown")
    val prevV1 = spark.conf.getOption("spark.sql.sources.useV1SourceList")
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    try {
      val df = spark.read.parquet(s"$dir/lineitem.parquet").agg(count(lit(1)))
      assert(planOf(df).contains("PushedAggregation: [COUNT(*)]"),
        s"aggregate not pushed:\n${planOf(df)}")
    } finally {
      prevAgg.fold(spark.conf.unset("spark.sql.parquet.aggregatePushdown"))(
        spark.conf.set("spark.sql.parquet.aggregatePushdown", _))
      prevV1.fold(spark.conf.unset("spark.sql.sources.useV1SourceList"))(
        spark.conf.set("spark.sql.sources.useV1SourceList", _))
    }
  }

  test("bare count(*) over parquet collapses to a footer-read LocalRelation (v1 scan)") {
    // the FooterAggregates optimizer rule: no scan, no Exchange — the
    // whole plan is a LocalRelation holding the footer row-count sum
    val li = Tables.load(spark, dir, "lineitem")
    val df = li.agg(count(lit(1)).as("cnt"))
    val plan = planOf(df)
    assert(plan.contains("LocalTableScan") && !plan.contains("FileScan"),
      s"count(*) should be answered from footers:\n$plan")
    val expected = spark.read.parquet(s"$dir/lineitem.parquet")
      .withColumn("_one", lit(1)).select("_one").collect().length.toLong
    assert(df.collect().head.getLong(0) == expected)
    // the nanos-converted events table (Project over the relation) too
    val ev = Tables.load(spark, dir, "events").agg(count(lit(1)))
    assert(planOf(ev).contains("LocalTableScan"), planOf(ev))
  }

  test("global min/max/count(col) over parquet answer from footer statistics") {
    val li = Tables.load(spark, dir, "lineitem")
    val df = li.agg(
      min(col("l_orderkey")).as("mn"),
      max(col("l_orderkey")).as("mx"),
      count(col("l_suppkey")).as("nc"),
      count(lit(1)).as("n"))
    val plan = planOf(df)
    assert(plan.contains("LocalTableScan") && !plan.contains("FileScan"),
      s"integer min/max + counts should be answered from footers:\n$plan")
    // values must equal the scanned truth
    val truth = spark.read.parquet(s"$dir/lineitem.parquet")
      .withColumn("_x", col("l_orderkey") * 1) // defeat the rule
      .agg(min(col("l_orderkey")), max(col("l_orderkey")),
        count(col("l_suppkey")), count(lit(1))).collect().head
    assert(df.collect().head.toSeq == truth.toSeq)
  }

  test("non-footer-answerable aggregates do NOT use the footer shortcut") {
    val li = Tables.load(spark, dir, "lineitem")
    val filtered = li.filter(col("l_quantity") > 10).agg(count(lit(1)))
    assert(planOf(filtered).contains("FileScan"),
      s"filtered count must scan:\n${planOf(filtered)}")
    // a grouped count must still read the data — a plain FileScan or
    // the driver-merge leaf (whose embedded RDD's lineage IS the
    // columnar file scan); never a footer LocalTableScan
    val grouped = li.groupBy("l_returnflag").agg(count(lit(1)))
    assert((planOf(grouped).contains("FileScan") ||
        planOf(grouped).contains("DriverMergeAgg")) &&
        !planOf(grouped).contains("LocalTableScan"),
      s"grouped count must scan:\n${planOf(grouped)}")
    // double stats can be NaN-poisoned, string stats truncated — scan
    val dblMin = li.agg(min(col("l_quantity")))
    assert(planOf(dblMin).contains("FileScan"),
      s"min(double col) must scan:\n${planOf(dblMin)}")
    val strMin = li.agg(min(col("l_returnflag")))
    assert(planOf(strMin).contains("FileScan"),
      s"min(string col) must scan:\n${planOf(strMin)}")
    // count(distinct intCol) scans too — through the bitmap kernel
    // under the driver-merge leaf; never a footer
    val distinct = li.agg(countDistinct(col("l_orderkey")))
    assert((planOf(distinct).contains("FileScan") ||
        planOf(distinct).contains("DriverMergeAgg")) &&
        !planOf(distinct).contains("LocalTableScan"),
      s"count(distinct) must scan:\n${planOf(distinct)}")
    // min over a derived expression (not a bare column) must scan
    val derived = li.agg(min(col("l_orderkey") + 1))
    assert(planOf(derived).contains("FileScan"),
      s"min(expr) must scan:\n${planOf(derived)}")
    // limit under the aggregate changes cardinality
    val limited = li.limit(7).agg(count(lit(1)).as("c"))
    assert(limited.collect().head.getLong(0) == 7L)
  }

  test("dictionary-code aggregation ENGAGES on the bench q2 shape (r16 gate lever)") {
    val before = graft.plans.DictAgg.engagements.get()
    val df = Tables.load(spark, dir, "lineitem")
      .groupBy("l_returnflag").agg(sum("l_quantity").as("s"))
    val plan = df.queryExecution.optimizedPlan.toString
    assert(graft.plans.DictAgg.engagements.get() > before,
      s"dictAgg rewrite did not engage on the bench q2 shape:\n$plan")
    // r17: the default plan is SINGLE-STAGE — partials collected as job
    // results, merged on the driver, no exchange anywhere
    assert(plan.contains("DriverMergeAgg"),
      s"expected the single-stage driver-merge leaf:\n$plan")
    assert(!df.queryExecution.executedPlan.toString.contains("Exchange"),
      s"the q2 shape must not shuffle:\n${df.queryExecution.executedPlan}")
  }

  test("q3 uniqExact plans single-stage too — no exchange (r17 lever)") {
    val before = graft.plans.BitmapDistinct.engagements.get()
    val df = Tables.load(spark, dir, "orders")
      .agg(countDistinct(col("o_custkey")).as("u"))
    val plan = df.queryExecution.optimizedPlan.toString
    assert(graft.plans.BitmapDistinct.engagements.get() > before,
      s"bitmapDistinct did not engage on the bench q3 shape:\n$plan")
    assert(plan.contains("DriverMergeAgg"),
      s"expected the single-stage driver-merge leaf:\n$plan")
    assert(!df.queryExecution.executedPlan.toString.contains("Exchange"),
      s"the q3 shape must not shuffle:\n${df.queryExecution.executedPlan}")
  }

  test("q4 hash scan plans as the vectorized kernel — single stage, no exchange (r18 lever)") {
    val before = graft.plans.HashScan.engagements.get()
    val li = Tables.load(spark, dir, "lineitem")
    val df = li.select(call_function("cityHash64",
        li.columns.map(col).toIndexedSeq: _*).as("h"))
      .agg(sum(pmod(col("h"), lit(1000000007L))).as("s"))
    val plan = df.queryExecution.optimizedPlan.toString
    assert(graft.plans.HashScan.engagements.get() > before,
      s"hashScan rewrite did not engage on the bench q4 shape:\n$plan")
    assert(plan.contains("DriverMergeAgg"),
      s"expected the single-stage driver-merge leaf:\n$plan")
    assert(!df.queryExecution.executedPlan.toString.contains("Exchange"),
      s"the q4 shape must not shuffle:\n${df.queryExecution.executedPlan}")
  }

  test("q32 uniq() rides the DictAgg kernel — single stage (r18 stretch)") {
    val before = graft.plans.DictAgg.engagements.get()
    graft.core.Tables.registerViews(spark, dir)
    val df = graft.dialect.ChSql.sql(spark,
      "SELECT uniq(o_custkey) AS u FROM orders")
    val plan = df.queryExecution.optimizedPlan.toString
    assert(graft.plans.DictAgg.engagements.get() > before,
      s"dictAgg OpHll did not engage on the q32 shape:\n$plan")
    assert(plan.contains("DriverMergeAgg"),
      s"expected the single-stage driver-merge leaf:\n$plan")
    assert(!df.queryExecution.executedPlan.toString.contains("Exchange"),
      s"the q32 shape must not shuffle:\n${df.queryExecution.executedPlan}")
  }

  test("footer shortcut disqualifies on unsigned logical types and absent stats (VERDICT r9 #7)") {
    // fixtures a Spark writer cannot produce: pyarrow (driver-side
    // harness tool) writes (a) a UINT32 column — footer min/max compare
    // by the PHYSICAL signed int, so trusting them would mis-answer
    // values past 2³¹ — and (b) a file with statistics disabled
    def pywrite(code: String): Unit = {
      val p = new ProcessBuilder("python3", "-c", code).redirectErrorStream(true).start()
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
      p.waitFor()
      assert(p.exitValue() == 0, s"pyarrow fixture write failed: $out")
    }
    val base = java.nio.file.Files.createTempDirectory("graft_footer_neg").toString
    pywrite(
      s"""import pyarrow as pa, pyarrow.parquet as pq
         |t = pa.table({'u': pa.array([1, 2**31 + 5, 7], type=pa.uint32()), 'k': [1, 2, 3]})
         |pq.write_table(t, '$base/unsigned.parquet')
         |t2 = pa.table({'v': [10, 20, 30], 'k': [1, 2, 3]})
         |pq.write_table(t2, '$base/nostats.parquet', write_statistics=False)
         |""".stripMargin)
    // (1) unsigned logical type: min/max must SCAN, and scanned answers
    // must be the unsigned values (Spark widens UINT32 → long)
    val u = spark.read.parquet(s"$base/unsigned.parquet")
    val uAgg = u.agg(min(col("u")).as("mn"), max(col("u")).as("mx"))
    assert(planOf(uAgg).contains("FileScan"),
      s"min/max over an unsigned column must scan:\n${planOf(uAgg)}")
    val r = uAgg.collect().head
    assert(r.getLong(0) == 1L && r.getLong(1) == (1L << 31) + 5L)
    // count(*) stays footer-answerable (row counts don't involve stats)
    val uCnt = u.agg(count(lit(1)).as("n"))
    assert(planOf(uCnt).contains("LocalTableScan"),
      s"count(*) is stats-free and may use footers:\n${planOf(uCnt)}")
    // (2) statistics absent: min/max and count(col) must scan — there
    // is nothing exact to answer from — and still produce right values
    val ns = spark.read.parquet(s"$base/nostats.parquet")
    val nsAgg = ns.agg(min(col("v")).as("mn"), count(col("v")).as("nc"))
    assert(planOf(nsAgg).contains("FileScan"),
      s"aggregates over a stats-less file must scan:\n${planOf(nsAgg)}")
    val nr = nsAgg.collect().head
    assert(nr.getLong(0) == 10L && nr.getLong(1) == 3L)
  }

  test("small dimension joins broadcast (no shuffle of the fact side)") {
    val orders = Tables.load(spark, dir, "orders")
    val customer = Tables.load(spark, dir, "customer")
    val joined = orders.join(broadcast(customer),
      col("o_custkey") === col("c_custkey"))
    assert(planOf(joined).contains("BroadcastHashJoin"), planOf(joined))
  }

  test("MinHash-LSH candidate join is a hash/merge join on band buckets, never cartesian") {
    val docs = Tables.load(spark, dir, "documents")
    val plan = planOf(Dedup.minHashDupPairs(docs, "doc_id", "text"))
    assert(!plan.contains("CartesianProduct"), s"all-pairs join leaked:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested-loop join leaked:\n$plan")
    // corpus-sized sides (banded signatures, shingle sets) must shuffle
    // on their keys, never build a driver-collected broadcast — the
    // 100 TB posture, and the fix for mid-scale plan flapping near the
    // autoBroadcast threshold
    assert(!plan.contains("BroadcastExchange"),
      s"corpus-sized join side would broadcast:\n$plan")
  }

  test("MinHash pipeline: one _id exchange materializes the state; corpus scans bounded") {
    // r19 optimization round: the state's materialization point is a
    // hash repartition on _id that every consumer subtree shares —
    // exchange reuse dedupes the identical subtrees, so the scan+kernel
    // runs at most TWICE per action (the full-width and (_id,_sh)
    // column-pruned exchange variants), never once per consumer. The
    // r7-r18 persist ran the kernel once but materialized four
    // serialized cache stages and shuffled the fat _sh sets twice;
    // this layout moves them once (Q5Probe A/B, OPTIMIZATION_r19.md).
    val docs = Tables.load(spark, dir, "documents")
    val df = Dedup.minHashDupPairs(docs, "doc_id", "text")
    val optimized = df.queryExecution.optimizedPlan
    val reparts = optimized.collect {
      case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression => r
    }
    assert(reparts.nonEmpty, s"state _id repartition missing:\n$optimized")
    // empirical scan bound: parquet input rows across the whole action
    // stay <= 2x the corpus (shuffle reads are not input records)
    val docRows = docs.count()
    val read = inputRowsOf(df.write.format("noop").mode("overwrite").save())
    assert(read <= 2 * docRows,
      s"corpus scanned more than twice: $read input rows for $docRows docs")
  }

  test("MinHash signature build is a pure scan: zero shuffles, one kernel eval per row") {
    val docs = Tables.load(spark, dir, "documents")
    val df = Dedup.minHashSignatures(docs, "doc_id", "text", 3, 16)
    val plan = planOf(df)
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges == 0,
      s"fused signature build must be shuffle-free ($exchanges Exchanges):\n$plan")
    // the word-count gate keeps the expensive kernel out of the pushed
    // filter — exactly one minhash_state in the plan, in the projection
    val kernelEvals = "minhash_state".r.findAllIn(plan).size
    assert(kernelEvals == 1,
      s"minhash_state must evaluate once per row, found $kernelEvals:\n$plan")
    assert(plan.contains("word_count"),
      s"cheap word-count gate missing from the plan:\n$plan")
  }

  test("shingle pipeline evaluates split() once per scan (CollapseProject guard)") {
    // the O(words) guarantee depends on the word array staying
    // materialized in its own projection; if Catalyst ever re-inlines the
    // split into the shingle lambda this count goes above 1 and the
    // O(words²) interpreted-lambda regression is back
    val docs = Tables.load(spark, dir, "documents")
    val plan = Dedup.shingleRows(docs, "doc_id", "text", 3)
      .queryExecution.optimizedPlan.toString
    val splits = "split\\(".r.findAllIn(plan).size
    assert(splits == 1, s"expected exactly one split(), got $splits:\n$plan")
  }

  test("n-gram Jaccard length-band join is an equi-join, never nested-loop") {
    val docs = Tables.load(spark, dir, "documents")
    val plan = planOf(Dedup.ngramJaccardPairs(docs, "doc_id", "text"))
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"length band must join as equi-join:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("co-bucketed tables join with zero Exchange on either side") {
    import org.apache.spark.sql.SaveMode
    val orders = Tables.load(spark, dir, "orders")
    val customer = Tables.load(spark, dir, "customer")
    graft.sources.Sinks.writeBucketed(
      orders, "orders_bkt", "o_custkey", 8, Seq("o_custkey"), SaveMode.Overwrite)
    graft.sources.Sinks.writeBucketed(
      customer, "customer_bkt", "c_custkey", 8, Seq("c_custkey"), SaveMode.Overwrite)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("orders_bkt").join(spark.table("customer_bkt"),
        col("o_custkey") === col("c_custkey"))
      val plan = planOf(j)
      assert(!plan.contains("Exchange"),
        s"co-bucketed join must not shuffle either side:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("line dedup: boilerplate anti-join shuffles, never broadcasts the line set") {
    val docs = Tables.load(spark, dir, "documents")
    val plan = planOf(Dedup.lineDedup(docs, "doc_id", "text", sepRe = " ", joinSep = " "))
    // the boilerplate set is corpus-derived — a broadcast build would
    // collect an unbounded line table to the driver at 100 TB
    assert(plan.contains("ShuffledHashJoin") && plan.contains("LeftAnti"),
      s"anti-join must be a shuffled hash join:\n$plan")
    assert(!plan.matches("(?s).*BroadcastHashJoin[^\\n]*LeftAnti.*"),
      s"boilerplate set must not broadcast:\n$plan")
  }

  test("contamination: benchmark n-gram set broadcasts, corpus probes at scan stage") {
    val docs = Tables.load(spark, dir, "documents")
    val bench = docs.filter(col("doc_id") % 17 === 0)
    val corpus = docs.filter(col("doc_id") % 17 =!= 0)
    val plan = planOf(Dedup.contamination(corpus, bench, "doc_id", "text", n = 3))
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark side must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("gopher filter is scan-stage: zero exchanges") {
    val docs = Tables.load(spark, dir, "documents")
    val plan = planOf(graft.operators.TextAnalysis.gopherFilter(docs, "text"))
    assert(!plan.contains("Exchange"), s"quality filter must not shuffle:\n$plan")
  }

  test("unigram logprob broadcasts the vocabulary, never shuffles corpus text") {
    val docs = Tables.load(spark, dir, "documents")
    val plan = planOf(
      graft.operators.TextAnalysis.unigramLogProb(docs, "doc_id", "text"))
    assert(plan.contains("BroadcastHashJoin"),
      s"vocabulary probe must broadcast:\n$plan")
    // r20: the vocabulary TOTAL is a scalar aggregate attached as a
    // broadcast cross-join — the former sum().over() unpartitioned
    // window pulled the whole vocabulary (billions of distinct tokens
    // at 100 TB) onto ONE partition
    assert(!plan.contains("Window"),
      s"vocab total must be a broadcast scalar, not a global window:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin BuildRight, Cross") ||
      plan.contains("BroadcastExchange"),
      s"vocab total must attach as a broadcast scalar:\n$plan")
  }

  test("bm25: one tokenize pass; per-doc tf aggregate combines map-side; stats broadcast") {
    val docs = Tables.load(spark, dir, "documents")
    val df = graft.operators.Retrieval.bm25(
      docs, "doc_id", "text", Seq("spark", "vector"))
    val plan = df.queryExecution.sparkPlan.toString
    // the token explode feeds a PARTIAL hash aggregate in the same
    // stage (map-side combine): between Generate and the Exchange above
    // it there must be a partial HashAggregate, so raw token rows never
    // cross the wire — only one combined row per (doc, partition)
    val genAt = plan.indexOf("Generate explode")
    assert(genAt >= 0, s"token explode missing:\n$plan")
    val aboveGen = plan.substring(0, genAt)
    val partialAt = aboveGen.lastIndexOf("partial_count")
    val exchangeAt = aboveGen.lastIndexOf("Exchange")
    assert(partialAt >= 0 && partialAt > exchangeAt,
      s"per-doc tf aggregate must partial-combine below the exchange:\n$plan")
    // the per-doc frame materializes through its own exchange, shared
    // by the stats aggregate and the score projection via exchange
    // reuse (r19: the former persist pinned the same property but paid
    // serialized cache stages) — empirically, the corpus is tokenized
    // exactly once per action: parquet input rows stay <= one corpus
    val docRows = docs.count()
    val read = inputRowsOf(df.write.format("noop").mode("overwrite").save())
    assert(read <= docRows,
      s"corpus tokenized more than once: $read input rows for $docRows docs")
    // corpus stats + per-term document frequencies reach the score
    // projection as a single broadcast row
    assert(plan.contains("BroadcastNestedLoopJoin BuildRight, Cross") ||
      plan.contains("BroadcastExchange"),
      s"stats row must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("tfidf: document frequencies broadcast back; corpus aggregates once") {
    val docs = Tables.load(spark, dir, "documents")
    val plan = planOf(graft.operators.Retrieval.tfidf(docs, "doc_id", "text"))
    assert(plan.contains("BroadcastHashJoin"),
      s"df side must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") || plan.contains("BroadcastNestedLoopJoin"),
      plan) // the 1-row N scalar may nested-loop-broadcast; never a real cartesian
  }

  test("rrf fusion windows partition by query (no global single-partition sort)") {
    import spark.implicits._
    val a = Seq((0L, 1L, 1.0), (1L, 2L, 2.0)).toDF("q", "d", "s")
    val plan = planOf(graft.operators.Retrieval.rrfFuse(a, a, "q", "d", "s"))
    assert(!plan.contains("SinglePartition"),
      s"rank windows must partition by query:\n$plan")
  }

  test("stratified sample and shard shuffle: windows partition by stratum/shard") {
    val docs = Tables.load(spark, dir, "documents")
    val p1 = planOf(graft.operators.Sampling.stratifiedSample(docs, "lang", "text", 3, "doc_id"))
    assert(!p1.contains("SinglePartition"), s"stratum windows must partition:\n$p1")
    assert(p1.contains("WindowGroupLimit"),
      s"quota should prune via WindowGroupLimit before the full sort state:\n$p1")
    val p2 = planOf(graft.operators.Sampling.shuffleShards(docs, "text", 8, "doc_id"))
    assert(!p2.contains("SinglePartition"), s"shard windows must partition:\n$p2")
  }

  test("lexical cosine self-join: term-keyed shuffle-hash, one tfidf derivation per action") {
    // r20: the unit-vector state materializes through the self-join's
    // own term-key exchanges — identical subtrees on both sides, served
    // from ONE shuffle by exchange reuse — instead of a persist (the
    // serialized-cache-stage loss r19 measured in q5-q8)
    val docs = Tables.load(spark, dir, "documents")
    val df = graft.operators.Retrieval.lexicalCosinePairs(
      docs, "doc_id", "text", minCosine = 0.8, maxDf = 50L)
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("InMemoryTableScan"),
      s"unit-vector state must ride exchange reuse, not a cache:\n$plan")
    // posting lists are corpus-derived — the PAIR join must shuffle
    // (tfidf's vocabulary-sized df/N sides legitimately broadcast below)
    assert(plan.contains("ShuffledHashJoin"),
      s"posting-list join must be a shuffled hash join:\n$plan")
    // empirical pin: corpus derivations stay BOUNDED per action,
    // independent of the self-join's consumer count — the reused term
    // exchange serves both sides from one tfidf derivation. The bound
    // is 4 corpus row-counts, measured composition: one full tokenize
    // scan for the (doc,term) aggregate + one for the docFreq variant
    // (column pruning splits them into two exchange variants, the same
    // ≤2-kernel-pass bound q5 carries) + up to two id-only pruned scans
    // for the N scalar (its broadcast does not always reuse across
    // sides). The old persist paid the same three derivations building
    // the cache, PLUS serialized cache stages.
    val docRows = docs.count()
    val read = inputRowsOf(df.write.format("noop").mode("overwrite").save())
    assert(read <= 4 * docRows,
      s"corpus derivations unbounded: $read input rows for $docRows docs")
  }

  test("cross-corpus candidate join is banded shuffle-hash, never cartesian or broadcast") {
    val docs = Tables.load(spark, dir, "documents")
    val refState = Dedup.minHashState(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", 3, 128)
    val plan = planOf(Dedup.crossCorpusDupPairs(
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", refState))
    assert(!plan.contains("CartesianProduct"), plan)
    // both banded sides and both shingle-set sides may be corpus-sized —
    // nothing on this path may build a broadcast relation
    assert(!plan.contains("BroadcastHashJoin"),
      s"cross-corpus joins must shuffle, not broadcast:\n$plan")
  }

  test("SimHash banded join never goes cartesian") {
    val docs = Tables.load(spark, dir, "documents")
    val plan = planOf(Dedup.simHashDupPairs(docs, "doc_id", "text"))
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("every banded dedup self-join scans the corpus once (exchange reuse, no cache)") {
    // r20: simHash/ngramJaccard materialize their state through the
    // self-join's own exchanges (simHash: both (_blk,_blkval) sides are
    // identical subtrees; ngramJaccard: both sides share the groupBy's
    // _id exchange and differ only above it) — exchange reuse serves
    // them from one shuffle, so the corpus scan and the vote/shingle
    // kernels run once per action with zero cache stages. Pinned
    // empirically via task input metrics: the optimizedPlan legitimately
    // shows the scan subtree twice (AQE dedupes it at runtime).
    val docs = Tables.load(spark, dir, "documents")
    val docRows = docs.count()
    for (df <- Seq(
        Dedup.simHashDupPairs(docs, "doc_id", "text"),
        Dedup.ngramJaccardPairs(docs, "doc_id", "text"))) {
      val plan = planOf(df)
      assert(!plan.contains("InMemoryTableScan"),
        s"banded state must ride exchange reuse, not a cache:\n$plan")
      val read = inputRowsOf(df.write.format("noop").mode("overwrite").save())
      assert(read <= docRows,
        s"corpus scanned more than once: $read input rows for $docRows docs")
    }
  }

  test("LSH ANN join keys on buckets, never cartesian") {
    val emb = Tables.load(spark, dir, "embeddings")
    val plan = planOf(Similarity.lshNeighbors(emb, "vec_id", "embedding",
      planes = 8, dim = 64, minCosine = 0.4))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("LSH ANN scans embeddings once (signatures materialize through one exchange)") {
    // r19: the signed corpus materializes through a hash exchange on
    // _id that both self-join sides share via exchange reuse — the
    // corpus is scanned and signed once per action, no cache stages
    val emb = Tables.load(spark, dir, "embeddings")
    val df = Similarity.lshNeighbors(emb, "vec_id", "embedding")
    val optimized = df.queryExecution.optimizedPlan
    val reparts = optimized.collect {
      case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression => r
    }
    assert(reparts.nonEmpty, s"signature _id repartition missing:\n$optimized")
    val embRows = emb.count()
    val read = inputRowsOf(df.write.format("noop").mode("overwrite").save())
    assert(read <= embRows,
      s"corpus signed more than once: $read input rows for $embRows vectors")
  }

  test("metadata-only multimodal stats never read the payload column") {
    val media = graft.operators.Multimodal.fromText(
      Tables.load(spark, dir, "documents"), "doc_id", "text")
    val plan = planOf(graft.operators.Multimodal.metaStats(media))
    // the payload bytes (from encode(text)) must not appear in the agg
    // input: only meta fields are referenced
    assert(!plan.toLowerCase.contains("payload"), plan)
  }

  test("top n-gram stats partial-aggregate map-side before the exchange") {
    // explode → hash-agg on (doc, gram): the partial aggregate must
    // collapse each document's repeated grams BEFORE the shuffle —
    // at 100 TB the exchange carries (doc, gram, count), not one row
    // per gram occurrence
    val docs = Tables.load(spark, dir, "documents")
    val df = operators.TextAnalysis.topNgramStats(docs, "doc_id", "text", n = 2)
    val plan = planOf(df)
    val firstExchange = plan.indexOf("Exchange")
    val firstPartial = plan.indexOf("HashAggregate")
    assert(firstPartial >= 0 && firstExchange > firstPartial,
      s"no map-side partial aggregate before the shuffle:\n$plan")
  }

  test("PII scrub and quantization are scan-stage (zero exchanges)") {
    val docs = Tables.load(spark, dir, "documents")
    val pii = operators.TextAnalysis.piiStats(docs, "text")
      .select(operators.TextAnalysis.piiScrub(col("text")).as("t"),
        col("n_emails"), col("n_ipv4"), col("n_phones"))
    assert(!planOf(pii).contains("Exchange"),
      s"PII pass shuffles:\n${planOf(pii)}")
    val emb = Tables.load(spark, dir, "embeddings")
    val q = Similarity.quantizeInt8(emb, "embedding", "q8")
    assert(!planOf(q).contains("Exchange"),
      s"quantization shuffles:\n${planOf(q)}")
    val n = Similarity.l2Normalize(emb, "embedding", "unit")
    assert(!planOf(n).contains("Exchange"),
      s"normalization shuffles:\n${planOf(n)}")
  }

  test("windowFunnel SQL: pruned scan, one user-keyed data shuffle, partial collect map-side") {
    core.Tables.registerViews(spark, dir)
    val df = dialect.ChSql.sql(spark,
      """SELECT user_id, windowFunnel(86400)(ts, event_type = 'view',
        |  event_type = 'click', event_type = 'purchase') AS level
        |FROM events GROUP BY user_id""".stripMargin)
    val plan = planOf(df)
    // only the three referenced columns reach the scan; ts's physical
    // form depends on the generator (nanos-as-long vs micros-NTZ — see
    // Tables.load), so match either without widening the column set
    assert(plan.contains("ReadSchema: struct<ts:bigint,user_id:bigint,event_type:string>") ||
      plan.contains("ReadSchema: struct<ts:timestamp_ntz,user_id:bigint,event_type:string>"),
      s"funnel scan not pruned:\n$plan")
    // one Exchange total: the collect_list partials shuffle on user_id;
    // the fold itself is a scalar post-projection, never a second shuffle
    assert("Exchange".r.findAllIn(plan).size == 1, s"funnel shuffled more than once:\n$plan")
    // partial collect runs map-side (ObjectHashAggregate below the Exchange)
    assert(plan.contains("ObjectHashAggregate"), s"no map-side partial collect:\n$plan")
  }

  test("dialect-routed queries stay inside whole-stage codegen") {
    core.Tables.registerViews(spark, dir)
    val df = dialect.ChSql.sql(spark,
      "SELECT l_returnflag, sum(pmod(cityHash64(l_orderkey), 1000000007)) AS h FROM lineitem GROUP BY l_returnflag")
    df.collect() // finalize the adaptive plan — codegen wraps appear post-execution
    // codegen stages render as "*(n) Node" in the plan string; both the
    // scan-side partial agg and the final agg must be inside one
    assert(planOf(df).contains("*(1) HashAggregate") || planOf(df).contains("*(2) HashAggregate"),
      s"cityHash64 aggregate fell out of whole-stage codegen:\n${planOf(df)}")
  }
}
