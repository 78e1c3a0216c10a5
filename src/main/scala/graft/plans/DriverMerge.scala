package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graft.FunctionShim

/** Single-stage finalization for the columnar aggregation rewrites
  * (VERDICT r16's round-17 lever: "make the two rewrites single-stage
  * where the partial output is provably tiny").
  *
  * The r16 plans were two-stage: the kernel's per-partition partials
  * fed a final `Aggregate`, which Spark plans as partial-hash →
  * EXCHANGE → final-hash — a full shuffle round (stage scheduling, AQE
  * re-plan, 32 reduce tasks) to merge a few-kilobyte result. That
  * exchange was the entire remaining q2/q3 gap vs DuckDB at sf10: the
  * scan stage is at parity, the merge round costs ~50-100 ms of pure
  * scheduling.
  *
  * This node merges the partials ON THE DRIVER instead — the same
  * topology every single-node engine (and Spark's own
  * `CollectLimitExec` / broadcast exchange) uses when the data is
  * provably small: one job runs the scan+partial stage, the
  * per-partition results come back as JOB RESULTS (no shuffle files, no
  * second stage), and a [[DriverMerger]] folds them into the final
  * rows. `executeCollect()` serves those rows directly, so the common
  * `collect()`-terminated query is exactly ONE stage end-to-end;
  * `doExecute()` re-parallelizes them (one tiny partition) for plans
  * that continue past the aggregate (ORDER BY, LIMIT, joins).
  *
  * 100 TB posture: driver-merge volume is (groups × partitions) rows,
  * the same bytes the final shuffle task of the two-stage plan would
  * have pulled — the topology change moves them to the driver, it does
  * not grow them. The rewrites gate engagement so that the worst case
  * is bounded: per-partition group caps shrink as partition counts
  * grow ([[DictAggRewrite]]), and a partial task that exceeds its cap
  * fails fast with [[DriverMerge.OverflowMarker]], which this node
  * converts into executing `fallback` — the untouched native plan —
  * under [[DriverMerge.suppress]] so the rewrite does not re-engage.
  * One wasted partial scan, never a wrong answer, never an OOM.
  */
trait DriverMerger extends Serializable {
  /** Fold the collected partial rows into FINAL output rows (catalyst
    * values: UTF8String for strings, boxed primitives, null). Called
    * once, on the driver, with every partition's rows. */
  def merge(rows: Iterator[Row]): Iterator[InternalRow]
}

object DriverMerge {
  /** Kill switch for the single-stage path (default on). Off reverts
    * to the r16 two-stage plans — same answers, one extra exchange. */
  val EnabledKey = "spark.graft.driverMerge"
  /** Upper bound on rows a driver merge may collect; rewrites divide
    * this by the scan's partition count to size per-partition caps. */
  val MaxTotalRowsKey = "spark.graft.driverMerge.maxTotalRows"
  val MaxTotalRowsDefault: Long = 4L << 20

  /** Message marker a partial task throws when it exceeds its group
    * cap under a driver-merge plan. Matched by SUBSTRING across the
    * driver-side failure chain: a task failure crosses executor JVMs
    * as a serialized/re-wrapped exception, so class identity is not
    * reliable but the message text survives every wrapping. */
  val OverflowMarker = "GRAFT_DRIVER_MERGE_OVERFLOW"

  def overflow(): Nothing = throw new IllegalStateException(OverflowMarker)

  def isOverflow(e: Throwable): Boolean = {
    var t = e
    var depth = 0
    while (t != null && depth < 16) {
      if (t.getMessage != null && t.getMessage.contains(OverflowMarker)) return true
      t = t.getCause
      depth += 1
    }
    false
  }

  /** True while THIS thread is planning an overflow fallback — the
    * rewrite rules stand down so the fallback runs the native plan. */
  val suppress: ThreadLocal[java.lang.Boolean] =
    ThreadLocal.withInitial(() => java.lang.Boolean.FALSE)

  /** Engagement counter — PlanSpec pins that the bench q2/q3 shapes
    * actually plan a single-stage driver merge. */
  val engagements = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Test-only seam (GovernanceSpec r18): invoked at the start of an
    * overflow fallback, BEFORE its job submits — lets the kill pin
    * stretch the window where a deadline cancel races the fallback. */
  @volatile var onFallbackStart: () => Unit = () => ()

  /** Fallbacks that ran to CLEAN completion — the kill pin asserts a
    * deadline that fired mid-fallback kept this from moving. */
  val fallbacksCompleted = new java.util.concurrent.atomic.AtomicLong(0L)

  def enabled(spark: org.apache.spark.sql.SparkSession): Boolean =
    !spark.conf.getOption(EnabledKey).exists(_.trim.equalsIgnoreCase("false"))

  def maxTotalRows(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption(MaxTotalRowsKey)
      .flatMap(v => scala.util.Try(v.toLong).toOption)
      .getOrElse(MaxTotalRowsDefault)
}

/** Logical leaf carrying the partial-scan RDD and its driver-side
  * merger. `fallback` is the original (pre-rewrite) aggregate subtree,
  * executed only if a partial task signals overflow. `sourceDesc`
  * names the scanned source in plan text (the RDD arg prints as an
  * opaque MapPartitionsRDD — audits need to see WHAT is scanned). */
case class DriverMergeAgg(
    output: Seq[Attribute],
    @transient partials: RDD[Row],
    merger: DriverMerger,
    @transient fallback: Option[LogicalPlan],
    sourceDesc: String = "")
    extends LeafNode {
  // tiny by construction (the gates bound collected rows); a fixed
  // small estimate keeps downstream joins broadcasting this side
  override def computeStats(): Statistics =
    Statistics(sizeInBytes = BigInt(64L * 1024))
}

case class DriverMergeAggExec(
    output: Seq[Attribute],
    @transient partials: RDD[Row],
    merger: DriverMerger,
    @transient fallback: Option[LogicalPlan],
    sourceDesc: String = "")
    extends LeafExecNode {

  override def outputPartitioning: Partitioning = SinglePartition

  /** One scan+partial job, merged on the driver. Never run by
    * explain(); cached PER SQL EXECUTION, so within one action
    * collect-then-execute pays once, but a SECOND action on the same
    * DataFrame re-runs the scan — matching every other leaf node's
    * rescan semantics (advisor r17: an unconditional cache froze the
    * first job's results across actions while file-backed leaves
    * re-read changed files). Actions outside a SQL execution id (bare
    * executeCollect) recompute each time — correct, just uncached. */
  @transient private var mergedCache: (String, Array[InternalRow]) = _

  private def merged: Array[InternalRow] = synchronized {
    val execId = sparkContext.getLocalProperty("spark.sql.execution.id")
    if (mergedCache != null && execId != null && mergedCache._1 == execId)
      return mergedCache._2
    val toUnsafe = UnsafeProjection.create(output.map(_.dataType).toArray)
    val rows =
      try {
        val partialRows = partials.collect()
        merger.merge(partialRows.iterator)
          .map(r => toUnsafe(r).copy(): InternalRow).toArray
      } catch {
        case e: Throwable if fallback.isDefined && DriverMerge.isOverflow(e) =>
          logWarning("driver-merge partial overflowed its group cap; " +
            "re-running the native plan (one wasted partial scan, bounded memory)")
          runFallback()
      }
    if (execId != null) mergedCache = (execId, rows)
    rows
  }

  private def runFallback(): Array[InternalRow] = {
    DriverMerge.suppress.set(java.lang.Boolean.TRUE)
    try {
      DriverMerge.onFallbackStart()
      val df = FunctionShim.ofRows(session, fallback.get)
      val rows = df.queryExecution.executedPlan.executeCollect()
      DriverMerge.fallbacksCompleted.incrementAndGet()
      rows
    } finally DriverMerge.suppress.set(java.lang.Boolean.FALSE)
  }

  override def executeCollect(): Array[InternalRow] = merged

  override def executeTake(n: Int): Array[InternalRow] = merged.take(n)

  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(merged.toIndexedSeq, 1)
}

/** Plans [[DriverMergeAgg]] — injected by
  * [[graft.dialect.GraftExtensions]] through `injectPlannerStrategy`. */
object DriverMergeStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case d: DriverMergeAgg =>
      DriverMergeAggExec(d.output, d.partials, d.merger, d.fallback,
        d.sourceDesc) :: Nil
    case _ => Nil
  }
}
