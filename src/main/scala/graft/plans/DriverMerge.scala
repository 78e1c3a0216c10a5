package graft.plans

import scala.util.control.NonFatal

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, NamedExpression, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LeafNode, LogicalPlan, Project, Statistics}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graft.FunctionShim
import org.apache.spark.sql.types.DataType

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

  /** One column of a merger's final rows: group key part `idx`
    * (`isKey`) or the kernel's finalized value `idx`. */
  final case class FinalCol(isKey: Boolean, idx: Int) extends Serializable

  /** The plan every kernel rewrite ends in: a [[DriverMergeAgg]] over
    * the kernel's `partials` (its own `mapPartitions`, so the RDD keeps
    * naming the kernel's source file in plan text).
    *
    * `keys` are the group keys and `values` the (type, nullable) of each
    * finalized value the merger can emit; `valueOf` maps an aggregate
    * call to its value. DIRECT mode: every output is a bare key or a
    * value of the output's exact type, so the leaf emits the
    * aggregate's own attributes, `agg` itself is the overflow fallback
    * and `collect()` is one stage. GENERAL mode: the leaf emits every
    * key and value, a `Project` re-expresses the outputs over them, and
    * the fallback is `agg` re-aimed at the leaf's columns (its rows
    * must have the leaf's layout). None when an output cannot be
    * expressed exactly — the native plan stays. */
  def plan(
      agg: Aggregate,
      outputs: Seq[NamedExpression],
      keys: Seq[Attribute],
      values: Seq[(DataType, Boolean)],
      valueOf: AggregateExpression => Option[Int],
      partials: RDD[Row],
      src: ScanRelations.SrcRel,
      merger: Array[FinalCol] => DriverMerger): Option[LogicalPlan] = {
    def keyOf(a: AttributeReference): Option[Int] =
      Some(keys.indexWhere(_.exprId == a.exprId)).filter(_ >= 0)
    def leaf(attrs: Seq[Attribute], cols: Seq[FinalCol], fallback: Aggregate) =
      DriverMergeAgg(attrs, partials, merger(cols.toArray), Some(fallback), src.desc)
    val direct = outputs.map { ne =>
      val inner = ne match { case Alias(c, _) => c; case other => other }
      inner match {
        case ae: AggregateExpression =>
          valueOf(ae).filter(values(_)._1 == ne.dataType)
            .map(FinalCol(isKey = false, _))
        case a: AttributeReference => keyOf(a).map(FinalCol(isKey = true, _))
        case _ => None
      }
    }
    val planned =
      if (direct.forall(_.isDefined))
        Some(leaf(outputs.map(_.toAttribute), direct.map(_.get), agg))
      else {
        val keyAttrs = keys.indices.map(i =>
          AttributeReference(s"k_$i", keys(i).dataType, nullable = true)())
        val valueAttrs = values.indices.map { j =>
          val (dt, nullable) = values(j)
          AttributeReference(s"a_$j", dt, nullable)()
        }
        val calls = outputs.flatMap(_.collect { case ae: AggregateExpression => ae })
        val valueCalls = values.indices.map { j =>
          calls.find(ae => valueOf(ae).contains(j) && ae.dataType == values(j)._1)
            .getOrElse(return None)
        }
        val fallback = agg.copy(aggregateExpressions =
          (keys ++ valueCalls).zip(keyAttrs ++ valueAttrs).map { case (e, a) =>
            Alias(e, a.name)(exprId = a.exprId)
          })
        RewriteOutputs(outputs,
          ae => valueOf(ae).map(valueAttrs),
          a => keyOf(a).map(keyAttrs))
          .map(Project(_, leaf(keyAttrs ++ valueAttrs,
            keys.indices.map(FinalCol(isKey = true, _)) ++
              values.indices.map(FinalCol(isKey = false, _)), fallback)))
      }
    planned.foreach(_ => engagements.incrementAndGet())
    planned
  }
}

/** The one guard every columnar kernel rule runs under: the kernel's
  * own kill switch (`switch = false` keeps the native plan),
  * [[DriverMerge.suppress]] (an overflow fallback is being planned),
  * and an optimization never failing the query — a rewrite that throws
  * logs and keeps the aggregate. A kernel supplies only its match. */
private[plans] trait DriverMergeRule extends Rule[LogicalPlan] {
  def spark: SparkSession
  protected def switch: graft.service.Settings.Setting[Boolean]
  /** The kernel's rewrite of one aggregate, or None to keep it. */
  protected def tryRewrite(agg: Aggregate): Option[LogicalPlan]

  final override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!switch(spark) || DriverMerge.suppress.get()) return plan
    plan.transformDown {
      case agg: Aggregate =>
        try tryRewrite(agg).getOrElse(agg)
        catch {
          case NonFatal(e) =>
            logWarning(s"$ruleName failed; keeping the native plan: $e")
            agg
        }
    }
  }
}

/** Logical leaf carrying the partial-scan RDD and its driver-side
  * merger. `fallback` is a native aggregate with exactly this leaf's
  * output, executed only if a partial task signals overflow. `sourceDesc`
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
