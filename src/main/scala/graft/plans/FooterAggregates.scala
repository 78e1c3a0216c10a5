package graft.plans

import org.apache.parquet.column.statistics.{IntStatistics, LongStatistics}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Max, Min}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graft.FunctionShim
import org.apache.spark.sql.types._

/** Answer global aggregates over an unfiltered parquet relation from
  * the files' FOOTER metadata instead of scanning data pages — the
  * optimization every columnar warehouse applies (reference analog:
  * ClickHouse `optimize_count_from_files` and part-level minmax
  * indices; DuckDB's metadata-only count/min/max).
  *
  * Supported outputs (ALL outputs of the aggregate must classify, or
  * the plan is left untouched):
  *   - `count(*)` / `count()` / `count(1)` — footer `num_rows`;
  *   - `count(col)` for a top-level column — `num_rows − null_count`,
  *     only when every row group records an exact null count;
  *   - `min(col)` / `max(col)` for integer-family and date columns —
  *     row-group statistics, only when every row group either has
  *     exact stats with values or is provably all-NULL. Restricted to
  *     signed INT32/INT64 physical types (unsigned logical types,
  *     truncatable string stats, and NaN-poisoned float stats are all
  *     excluded by construction).
  *
  * Fires ONLY when provably exact: global aggregate (no GROUP BY), no
  * DISTINCT, no FILTER clause, and the child is a batch parquet
  * [[HadoopFsRelation]] under nothing but cardinality-preserving
  * wrappers (Project / SubqueryAlias — attributes are resolved THROUGH
  * the projection to relation columns; any Filter, Sample, Generate,
  * Limit, join, or v2 relation leaves the plan untouched).
  *
  * At 100 TB this turns the most common smoke queries in existence
  * into a metadata job: footers only — kilobytes per file — instead of
  * a full corpus scan. Footer reads: driver-side thread pool for few
  * files; a tiny Spark job ([[FunctionShim.mapParquetFooters]]) past
  * [[FooterAggregates.DriverReadMaxFiles]] so a 100k-object store
  * never serializes footer fetches on the driver.
  *
  * Disable with `spark.graft.footerAggregates=false`.
  */
case class FooterAggregates(spark: SparkSession) extends Rule[LogicalPlan] {

  import FooterAggregates._

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!graft.service.Settings.FooterAggregates(spark)) return plan
    plan.transformDown {
      case agg @ Aggregate(Nil, aggExprs, child, _) if plainParquet(child).isDefined =>
        val rel = plainParquet(child).get
        classifyAll(aggExprs, child, rel) match {
          case Some(specs) =>
            // an optimization must never fail the query: any sweep
            // error (transient IO, unreadable footer) keeps the scan
            // plan, which has task-level retries of its own
            try answer(rel, specs) match {
              case Some(values) =>
                LocalRelation(agg.output, Seq(InternalRow.fromSeq(values)))
              case None => agg // stats not exact enough — keep the scan
            } catch {
              case scala.util.control.NonFatal(e) =>
                logWarning(s"footer-aggregate sweep failed; keeping the scan plan: $e")
                agg
            }
          case None => agg
        }
    }
  }

  // ---- classification -------------------------------------------------

  private sealed trait Spec
  private case object CountStar extends Spec
  private case class CountCol(name: String) extends Spec
  private case class MinCol(name: String, dt: DataType) extends Spec
  private case class MaxCol(name: String, dt: DataType) extends Spec

  private def classifyAll(
      exprs: Seq[NamedExpression],
      child: LogicalPlan,
      rel: HadoopFsRelation): Option[Seq[Spec]] = {
    val specs = exprs.map(e => classify(strip(e), child, rel))
    if (specs.forall(_.isDefined)) Some(specs.map(_.get)) else None
  }

  private def strip(e: NamedExpression): Expression = e match {
    case Alias(c, _) => c
    case other => other
  }

  private val StatTypes: Set[DataType] =
    Set(ByteType, ShortType, IntegerType, LongType, DateType)

  private def classify(
      e: Expression,
      child: LogicalPlan,
      rel: HadoopFsRelation): Option[Spec] = e match {
    case AggregateExpression(Count(children), Complete, false, None, _)
        if children.forall { case l: Literal => l.value != null; case _ => false } =>
      Some(CountStar)
    case AggregateExpression(Count(Seq(a: AttributeReference)), Complete, false, None, _) =>
      dataColumn(child, a, rel).map(CountCol)
    case AggregateExpression(Min(a: AttributeReference), Complete, false, None, _)
        if StatTypes.contains(a.dataType) =>
      dataColumn(child, a, rel).map(MinCol(_, a.dataType))
    case AggregateExpression(Max(a: AttributeReference), Complete, false, None, _)
        if StatTypes.contains(a.dataType) =>
      dataColumn(child, a, rel).map(MaxCol(_, a.dataType))
    case _ => None
  }

  /** Resolve `attr` through Project/SubqueryAlias wrappers to a
    * DATA column of the relation (partition columns have no footer
    * presence and disqualify). */
  private def dataColumn(
      p: LogicalPlan,
      attr: Attribute,
      rel: HadoopFsRelation): Option[String] =
    ScanRelations.resolve(p, attr).filter(n => rel.dataSchema.fieldNames.contains(n))

  /** The parquet relation under cardinality-preserving wrappers only. */
  private def plainParquet(p: LogicalPlan): Option[HadoopFsRelation] = p match {
    case l: LogicalRelation if !l.isStreaming =>
      l.relation match {
        case r: HadoopFsRelation if r.fileFormat.isInstanceOf[ParquetFileFormat] => Some(r)
        case _ => None
      }
    case Project(_, c) => plainParquet(c)
    case SubqueryAlias(_, c) => plainParquet(c)
    case _ => None
  }

  // ---- footer sweep ---------------------------------------------------

  private def answer(rel: HadoopFsRelation, specs: Seq[Spec]): Option[Seq[Any]] = {
    val wanted = specs.collect {
      case CountCol(n) => n
      case MinCol(n, _) => n
      case MaxCol(n, _) => n
    }.distinct
    val total = sweep(rel, wanted)
    val values = specs.map {
      case CountStar => Some(total.rows)
      case CountCol(n) =>
        total.cols.get(n).orElse(Some(ColState())).collect {
          case c if c.nullsExact => total.rows - c.nulls
        }
      case MinCol(n, dt) => statValue(total, n, dt, _.min)
      case MaxCol(n, dt) => statValue(total, n, dt, _.max)
    }
    if (values.forall(_.isDefined)) Some(values.map(_.get)) else None
  }

  /** null when the column has no non-null values anywhere; None when
    * the footers cannot answer exactly. */
  private def statValue(
      total: FileStats,
      name: String,
      dt: DataType,
      pick: ColState => Long): Option[Any] = {
    val c = total.cols.getOrElse(name, ColState())
    if (!c.statsExact || !c.nullsExact) None
    else if (!c.hasValue) Some(null)
    else Some(dt match {
      case ByteType => pick(c).toByte
      case ShortType => pick(c).toShort
      case IntegerType | DateType => pick(c).toInt
      case _ => pick(c)
    })
  }

  /** One footer pass over every file: num_rows always; null counts and
    * min/max for `wanted` columns. MEMOIZED on the file listing
    * (path+size+mtime) and wanted set: optimizer batches run to
    * fixpoint, so without the cache one query could pay the sweep
    * several times over (and a 100k-object sweep is a real job). */
  private[plans] def sweep(rel: HadoopFsRelation, wanted: Seq[String]): FileStats = {
    val files = rel.location.listFiles(Nil, Nil)
      .flatMap(_.files).filter(_.getLen > 0)
    val key = files.map(f =>
      s"${f.getPath}:${f.getLen}:${f.getModificationTime}")
      .mkString("|") + "##" + wanted.sorted.mkString(",")
    cached(key, doSweep(files.map(_.getPath.toString), wanted))
  }

  private def doSweep(paths: Seq[String], wanted: Seq[String]): FileStats = {
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val perFile: Seq[FileStats] =
      if (paths.isEmpty) Nil
      else if (paths.size > DriverReadMaxFiles)
        FunctionShim.mapParquetFooters(spark, paths, hadoopConf)(
          footerStats(wanted)).toSeq
      else {
        // few files: footer reads on a bounded driver pool (each is a
        // ~kilobyte ranged read; a Spark job would cost more than it saves)
        val f: ParquetMetadata => FileStats = footerStats(wanted)
        graft.core.DriverPool.map(paths, maxThreads = 8)(p =>
          f(FunctionShim.readParquetFooter(p, hadoopConf)))
      }
    perFile.foldLeft(FileStats(0L, Map.empty))(_ merge _)
  }

}

object FooterAggregates {

  /** Bounded LRU of sweep results, shared across rule instances (each
    * session builds its own). */
  private val SweepCacheMax = 128
  private val sweepCache =
    new java.util.LinkedHashMap[String, FileStats](SweepCacheMax, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, FileStats]): Boolean =
        size() > SweepCacheMax
    }

  private def cached(key: String, compute: => FileStats): FileStats = {
    sweepCache.synchronized {
      val hit = sweepCache.get(key)
      if (hit != null) return hit
    }
    val v = compute
    sweepCache.synchronized(sweepCache.put(key, v))
    v
  }

  /** Per-column running state over row groups. `exact` collapses to
    * false the moment any row group's metadata cannot answer exactly. */
  private[plans] case class ColState(
      nulls: Long = 0L,
      min: Long = Long.MaxValue,
      max: Long = Long.MinValue,
      hasValue: Boolean = false,
      nullsExact: Boolean = true,
      statsExact: Boolean = true) {
    def merge(o: ColState): ColState = ColState(
      nulls + o.nulls,
      math.min(min, o.min), math.max(max, o.max),
      hasValue || o.hasValue,
      nullsExact && o.nullsExact,
      statsExact && o.statsExact)
  }

  private[plans] case class FileStats(rows: Long, cols: Map[String, ColState]) {
    def merge(o: FileStats): FileStats = FileStats(
      rows + o.rows,
      (cols.keySet ++ o.cols.keySet).map { k =>
        k -> cols.getOrElse(k, ColState()).merge(o.cols.getOrElse(k, ColState()))
      }.toMap)
  }


  /** Serializable per-footer extraction (runs inside Spark tasks on the
    * distributed path). */
  private def footerStats(wanted: Seq[String])(md: ParquetMetadata): FileStats = {
    import scala.jdk.CollectionConverters._
    val blocks = md.getBlocks.asScala.toSeq
    val rows = blocks.map(_.getRowCount).sum
    val cols = wanted.map { name =>
      val states = blocks.flatMap { b =>
        // zero-row groups contribute nothing and cannot disqualify
        if (b.getRowCount == 0) None
        else Some {
          b.getColumns.asScala.find(_.getPath.toDotString == name) match {
            case None => ColState(nullsExact = false, statsExact = false)
            case Some(cc) =>
              val st = cc.getStatistics
              val pt = cc.getPrimitiveType
              val signedInt = (pt.getPrimitiveTypeName == PrimitiveTypeName.INT32 ||
                pt.getPrimitiveTypeName == PrimitiveTypeName.INT64) &&
                (pt.getLogicalTypeAnnotation match {
                  case null => true
                  case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation => i.isSigned
                  case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation => true
                  case _ => false
                })
              val nullsKnown = st != null && !st.isEmpty && st.isNumNullsSet
              val nulls = if (nullsKnown) st.getNumNulls else 0L
              val allNull = nullsKnown && nulls == b.getRowCount
              val (mn, mx, hasV, ok) = st match {
                case _ if allNull => (Long.MaxValue, Long.MinValue, false, true)
                case s: IntStatistics if signedInt && s.hasNonNullValue =>
                  (s.getMin.toLong, s.getMax.toLong, true, true)
                case s: LongStatistics if signedInt && s.hasNonNullValue =>
                  (s.getMin, s.getMax, true, true)
                case _ => (Long.MaxValue, Long.MinValue, false, false)
              }
              ColState(nulls, mn, mx, hasV, nullsExact = nullsKnown, statsExact = ok)
          }
        }
      }
      name -> states.foldLeft(ColState())(_ merge _)
    }.toMap
    FileStats(rows, cols)
  }

  /** Above this many files the footer sweep becomes a Spark job. */
  val DriverReadMaxFiles = 64

  /** Exact global (min, max) per integer-family column from the
    * relation's footers, or None where the stats cannot answer exactly
    * (missing/truncated stats, unsigned types) or the column is
    * all-NULL. Shares [[sweep]]'s memoization — the dense-domain gate
    * of [[BitmapDistinctRewrite]] costs nothing extra when
    * [[FooterAggregates]] already swept the same listing. */
  private[plans] def columnRanges(
      spark: SparkSession,
      rel: HadoopFsRelation,
      wanted: Seq[String]): Map[String, Option[(Long, Long)]] = {
    val total = FooterAggregates(spark).sweep(rel, wanted)
    wanted.map { n =>
      n -> total.cols.get(n)
        .filter(c => c.statsExact && c.hasValue)
        .map(c => (c.min, c.max))
    }.toMap
  }
}
