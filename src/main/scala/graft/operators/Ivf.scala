package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.FunctionShim
import graft.functions.{NearestCentroidExpr, VectorDistExpr}

/** IVF (inverted-file) approximate nearest neighbor — the
  * centroid-partitioned scale path for similarity search, complementing
  * the hyperplane-LSH variant in [[Similarity]].
  *
  * Index build: seed `k` centroids deterministically (lowest ids —
  * reproducible, no driver randomness), refine with `iters` Lloyd
  * passes (assign → per-cluster mean), then assign every vector to its
  * nearest centroid. Centroids are tiny (k × dim doubles) and ride to
  * executors as broadcast literals; the corpus is scanned, never
  * self-joined.
  *
  * Search: a query probes its `nprobe` nearest centroids and scores
  * only those inverted lists — work per query is
  * |corpus| × nprobe / k on average, versus |corpus| for brute force.
  *
  * 100 TB posture: build = `iters`+1 scans + one k-way aggregate
  * (k × dim partial states, trivially small); the assignment column
  * can be persisted as a partition key so each probe reads only its
  * clusters' files (partition pruning on `_cluster`).
  */
object Ivf {

  /** Per-row squared-L2 distance between a vector column and one
    * centroid literal — the codegen'd pair-reduce kernel
    * ([[graft.functions.VectorDistExpr]]), one fused pass per row. */
  private def dist2(vec: Column, centroid: Seq[Double]): Column =
    FunctionShim.column(VectorDistExpr(
      FunctionShim.expression(vec),
      FunctionShim.expression(lit(centroid.toArray)), "l2sq"))

  /** Index of the nearest centroid (deterministic ties → lowest
    * index) — a single codegen'd argmin pass
    * ([[graft.functions.NearestCentroidExpr]]): all k distance
    * accumulators advance per element instead of k interpreted folds
    * plus a k-deep `when` chain per row. */
  private def nearest(vec: Column, centroids: Seq[Seq[Double]]): Column =
    NearestCentroidExpr.column(vec, centroids)

  /** Train centroids: deterministic seeds (lowest `k` ids), `iters`
    * Lloyd refinement passes. Returns k × dim (clusters may be empty →
    * their seed survives). */
  def trainCentroids(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      dim: Int,
      iters: Int = 2): Seq[Seq[Double]] = {
    var centroids: Seq[Seq[Double]] = emb
      .orderBy(col(idCol)).limit(k)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
    if (iters <= 0) return centroids
    // Each Lloyd pass is its own collect-action launched serially from
    // the driver, so exchange reuse cannot share work ACROSS passes —
    // persist the projected vectors once and let every pass scan the
    // cached projection instead of re-deriving `emb`'s full lineage per
    // iteration (r20 optimization round; guide §5 — caching is worth it
    // exactly when a frame is reused across actions and recompute costs
    // more). Unpersisted before returning (the OpCache contract for
    // operator-internal state the operator itself releases). A single
    // pass reads the projection once, so it skips the cache: the
    // persist would only add its materialization cost.
    val vecs = emb.select(col(vecCol).as("_v"))
    if (iters > 1) vecs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      (0 until iters).foreach { _ =>
        val assigned = vecs.select(
          col("_v"), nearest(col("_v"), centroids).as("_c"))
        // mean per (cluster, dimension): explode once, codegen'd aggregate
        val means = assigned
          .select(col("_c"), posexplode(col("_v")).as(Seq("_d", "_x")))
          .groupBy("_c", "_d").agg(avg("_x").as("_m"))
          .groupBy("_c").agg(map_from_arrays(
            collect_list("_d"), collect_list("_m")).as("_byDim"))
          .collect()
          .map(r => r.getInt(0) -> r.getMap[Int, Double](1)).toMap
        centroids = centroids.zipWithIndex.map { case (seed, i) =>
          means.get(i) match {
            case Some(byDim) => (0 until dim).map(d => byDim.getOrElse(d, 0.0))
            case None => seed // empty cluster keeps its seed
          }
        }
      }
    } finally if (iters > 1) vecs.unpersist(blocking = false)
    centroids
  }

  /** Assign every vector to its inverted list. */
  def assign(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Seq[Seq[Double]]): DataFrame =
    emb.select(col(idCol).as("_id"), col(vecCol).as("_vec"),
      nearest(col(vecCol), centroids).as("_cluster"))

  /** Persist the index: inverted lists written PARTITIONED BY CLUSTER —
    * on disk each cluster is its own directory, so a probe's scan
    * partition-prunes to its `nprobe` clusters' files (the IVF "read
    * nprobe/k of the data" contract realized at the file-layout level) —
    * plus the centroid table. The index outlives the session; later
    * batches and query jobs [[loadIndex]] instead of retraining. */
  def saveIndex(
      indexed: DataFrame, centroids: Seq[Seq[Double]], path: String): Unit = {
    indexed.write.mode("overwrite").partitionBy("_cluster")
      .parquet(s"$path/lists")
    val spark = indexed.sparkSession
    import spark.implicits._
    centroids.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("_cluster", "_centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Load a persisted index: (inverted lists, centroids) — the same pair
    * [[assign]] + [[trainCentroids]] produce, usable directly by
    * [[topK]]. */
  def loadIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String): (DataFrame, Seq[Seq[Double]]) = {
    val lists = spark.read.parquet(s"$path/lists")
      .select(col("_id"), col("_vec"), col("_cluster").cast("int").as("_cluster"))
    val centroids = spark.read.parquet(s"$path/centroids")
      .orderBy("_cluster").select("_centroid").collect()
      .map(_.getSeq[Double](0).toSeq).toSeq
    (lists, centroids)
  }

  /** Top-k cosine neighbors for `queryIds`, probing only the `nprobe`
    * clusters nearest each query vector. */
  def topK(
      indexed: DataFrame,
      centroids: Seq[Seq[Double]],
      queryIds: Seq[Long],
      k: Int,
      nprobe: Int): DataFrame = {
    val queries = indexed.filter(col("_id").isin(queryIds: _*))
      .select(col("_id").as("qid"), col("_vec").as("qvec"))
    // nprobe nearest centroid ids per query, as an array column
    val probeArr = {
      val ranked = centroids.zipWithIndex.map { case (c, i) =>
        struct(dist2(col("qvec"), c).as("d"), lit(i).as("i"))
      }
      array_compact(slice(transform(
        array_sort(array(ranked: _*)), s => s.getField("i")), 1, nprobe))
    }
    val probes = queries
      .withColumn("_cluster", explode(probeArr))
    probes.join(indexed, Seq("_cluster"))
      .filter(col("qid") =!= col("_id"))
      .select(col("qid"), col("_id").as("nid"),
        Similarity.cosine(col("qvec"), col("_vec")).as("sim"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("sim").desc, col("nid").asc)))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank").cast("long").as("rank"), col("nid"))
  }
}
