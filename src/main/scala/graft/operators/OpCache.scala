package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Registry for operator-INTERNAL persisted intermediates (advisor r7:
  * tfidf/bm25/lexicalCosinePairs/crossCorpusDupPairs persisted frames
  * they never exposed, so repeated calls in a long-lived session
  * accumulated cache entries indefinitely). Every internal persist
  * routes through [[persist]]; a long-lived session (the service shell,
  * a notebook) calls [[releaseAll]] between pipeline runs to drop them
  * in one sweep.
  *
  * NOT tracked here: state frames an operator RETURNS to the caller
  * ([[Dedup.minHashState]]) — those are caller-owned handles, released
  * by the caller's own `unpersist()`; and persists that the operator
  * itself unpersists before returning ([[Dedup.componentLabels]]).
  */
object OpCache {

  private val tracked = scala.collection.mutable.Set.empty[DataFrame]

  /** Persist MEMORY_AND_DISK and remember the handle for [[releaseAll]]. */
  def persist(df: DataFrame): DataFrame = synchronized {
    df.persist(StorageLevel.MEMORY_AND_DISK)
    tracked += df
    df
  }

  /** Unpersist every tracked intermediate (non-blocking) and forget the
    * handles. Safe while queries over them run: Spark recomputes evicted
    * blocks from lineage. Per-frame failures are swallowed: a frame
    * whose originating SparkContext has STOPPED has no block manager to
    * release (unpersist NPEs on the dead driver endpoint) — r15 finding
    * from MultiJvmSmoke, where the doors' idle sweep hit state tracked
    * under an earlier, stopped session and failed the in-flight
    * request. Releasing a dead frame is a no-op, never an error. */
  def releaseAll(): Unit = synchronized {
    tracked.foreach(df =>
      try df.unpersist(blocking = false)
      catch { case scala.util.control.NonFatal(_) => () })
    tracked.clear()
  }

  def trackedCount: Int = synchronized(tracked.size)
}

/** The r19/r20 exchange-materialization layouts (minHashDupPairs,
  * lshNeighbors, bm25/tfidf, SemDedup.dupPairs, simHashDupPairs,
  * ngramJaccardPairs, lexicalCosinePairs) rely on
  * `spark.sql.exchange.reuse` (default true) to serve identical
  * self-join subtrees from ONE shuffle. With it disabled — or under a
  * canonicalization miss — the operators stay CORRECT (every
  * computation is deterministic up to floating-point summation order;
  * see lexicalCosinePairs), but the corpus scan+kernel silently runs
  * once per consumer (up to 4× in minHashDupPairs). Advisor r19: make
  * that config dependency visible instead of silent. */
private[operators] object ExchangeReuse {
  private val warned =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  /** Warn once per session when exchange reuse is off. */
  def warnIfDisabled(spark: org.apache.spark.sql.SparkSession): Unit =
    if (!spark.conf.get("spark.sql.exchange.reuse", "true").toBoolean &&
        warned.add(System.identityHashCode(spark)))
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn("spark.sql.exchange.reuse is DISABLED: the dedup/retrieval " +
          "operators' shared-exchange materialization degrades to one " +
          "corpus derivation per self-join side (correct, but up to 4x " +
          "the scan work)")
}
