package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Alias, AttributeReference, Expression, Literal, NamedExpression, Pmod}
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, Complete, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.execution.vectorized.{Dictionary, GraftVectorShim, WritableColumnVector}
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}

import graft.functions.CityHash

/** Vectorized full-width hash scan (VERDICT r17 next #2): the
  * reference's flagship `SELECT sum(cityHash64(*)) FROM t` shape
  * (reference `README.md:59,106-122` — its published 2.76 TB
  * benchmark) rewritten from the native row pipeline
  * (scan → ColumnarToRow → codegen'd per-row hash+sum) into a columnar
  * kernel that consumes the vectorized reader's `ColumnarBatch`es
  * DIRECTLY: one type-specialized lane loop per column updates a
  * per-batch `Array[Long]` of running CityHash values
  * (`h = Hash128to64(h, hash(col_j[i]))`, CH's own left-fold), then a
  * final lane accumulates `sum(pmod(h, m))` — no per-row InternalRow
  * materialization, no UnsafeRow writes, column-at-a-time locality.
  *
  * Matched shape: a GLOBAL aggregate whose every output is
  * `sum(pmod(cityHash64(cols…), m))` with `m` a positive Long/Int
  * literal and every hash input a bare relation column. The partials
  * (one row per partition holding each aggregate's partial sum) return
  * as job results and the driver adds them — the same single-stage
  * [[DriverMergeAgg]] topology as the r16/r17 rewrites, with the same
  * overflow discipline: `Math.addExact` overflow fails fast into the
  * untouched native plan, whose ANSI `Sum` raises the canonical error.
  *
  * 100 TB posture: the kernel is a pure map-side fold — volume to the
  * driver is exactly one Long per aggregate per partition, and the scan
  * parallelism is the reader's split parallelism, unchanged.
  *
  * Kill switch: `spark.graft.hashScan=false` restores the native plan.
  */
case class HashScanRewrite(spark: SparkSession) extends DriverMergeRule {

  import HashScan._

  override protected def switch = graft.service.Settings.HashScan

  override protected def tryRewrite(agg: Aggregate): Option[LogicalPlan] = {
    if (agg.groupingExpressions.nonEmpty) return None
    // the typical shape keeps `h = cityHash64(…)` in a Project the
    // optimizer does not collapse into the Aggregate — inline one
    // level of deterministic aliases so the Sum(Pmod(hash…)) pattern
    // is visible (the substitution mirrors CollapseProject)
    val (aggExprs, child) = agg.child match {
      case org.apache.spark.sql.catalyst.plans.logical.Project(projList, gc)
          if projList.forall(ne => ne.isInstanceOf[AttributeReference] ||
            (ne.isInstanceOf[Alias] && ne.deterministic)) =>
        val sub: Map[Long, Expression] = projList.collect {
          case a: Alias => a.exprId.id -> a.child
        }.toMap
        val inlined = agg.aggregateExpressions.map(_.transformUp {
          case a: AttributeReference if sub.contains(a.exprId.id) =>
            sub(a.exprId.id)
        }.asInstanceOf[NamedExpression])
        (inlined, gc)
      case other => (agg.aggregateExpressions, other)
    }
    val src = ScanRelations.relationOf(child).getOrElse(return None)
    if (ScanRelations.isProjectionCompanion(spark, src)) return None

    // every output: Alias(Sum(Pmod(CityHash64Expr(attrs…), m)))
    final case class HashAgg(
        call: AggregateExpression, cols: Seq[String], types: Seq[DataType], m: Long)
    val shapes: Seq[HashAgg] = aggExprs.map { ne =>
      val inner = ne match { case Alias(c, _) => c; case other => other }
      inner match {
        case call @ AggregateExpression(
            Sum(Pmod(h: graft.functions.CityHash64Expr, Literal(m, mt), _), _),
            Complete, false, None, _) =>
          val mLong = mt match {
            case LongType => m.asInstanceOf[Long]
            case IntegerType => m.asInstanceOf[Int].toLong
            case _ => return None
          }
          if (mLong <= 0) return None
          if (ne.dataType != LongType) return None
          val cols = h.children.map {
            case a: AttributeReference =>
              ScanRelations.resolve(child, a).getOrElse(return None)
            case _ => return None
          }
          if (h.children.exists(c => !vectorizable(c.dataType))) return None
          HashAgg(call, cols, h.children.map(_.dataType), mLong)
        case _ => return None
      }
    }
    if (shapes.isEmpty) return None
    // filters between aggregate and relation are not consumed here:
    // relationOf already refuses any Filter/Sample/Limit in between
    val neededNames = shapes.flatMap(_.cols).distinct
    val (batchRdd, scanOut) =
      ScanRelations.columnarBatches(spark, src, neededNames, None)
        .getOrElse(return None)
    val idxOf = scanOut.map(_.name).zipWithIndex.toMap
    val specs: Array[HashSpec] = shapes.map { s =>
      val idxs = s.cols.map(n => idxOf.getOrElse(n, return None)).toArray
      // the SCAN's physical type is what the vector carries — it must
      // agree with the expression's input type or the hash differs
      idxs.zip(s.types).foreach { case (i, dt) =>
        if (scanOut(i).dataType != dt) return None
      }
      HashSpec(idxs, s.types.map(typeTag).toArray, s.m)
    }.toArray

    val partials: RDD[Row] = batchRdd.mapPartitions { it =>
      HashScan.partial(it, specs) match {
        case None => Iterator.empty // zero rows: contribute nothing
        case Some(sums) => Iterator.single(Row.fromSeq(sums.toIndexedSeq))
      }
    }
    DriverMerge.plan(agg, aggExprs, Nil, specs.map(_ => (LongType, true)).toSeq,
      ae => Some(shapes.indexWhere(_.call eq ae)).filter(_ >= 0),
      partials, src, cols => SumMerger(specs.length, cols))
      .map { p =>
        engagements.incrementAndGet()
        logInfo(s"hashScan: vectorized cityHash64 fold over " +
          s"${neededNames.size} columns (${specs.length} aggregates)")
        p
      }
  }
}

object HashScan {

  /** Engagement counter — PlanSpec pins the bench q4 shape rides it. */
  val engagements = new java.util.concurrent.atomic.AtomicLong(0L)

  // type tags for the per-lane dispatch (match once per column/batch)
  final val TLong = 0
  final val TInt = 1
  final val TShort = 2
  final val TByte = 3
  final val TBool = 4
  final val TDouble = 5
  final val TFloat = 6
  final val TString = 7
  final val TBinary = 8

  private[plans] def vectorizable(dt: DataType): Boolean = dt match {
    case LongType | TimestampType | TimestampNTZType | IntegerType |
        DateType | ShortType | ByteType | BooleanType | DoubleType |
        FloatType | StringType | BinaryType => true
    case _ => false
  }

  private[graft] def typeTag(dt: DataType): Int = dt match {
    case LongType | TimestampType | TimestampNTZType => TLong
    case IntegerType | DateType => TInt
    case ShortType => TShort
    case ByteType => TByte
    case BooleanType => TBool
    case DoubleType => TDouble
    case FloatType => TFloat
    case StringType => TString
    case BinaryType => TBinary
    case other => throw new IllegalStateException(s"unreachable: $other")
  }

  final case class HashSpec(vecIdxs: Array[Int], tags: Array[Int], m: Long)
    extends Serializable

  /** Per-column memo of dictionary-entry hashes (r19 optimization
    * round): parquet dictionary pages mean each distinct value is
    * decoded — and under this kernel, CityHash64'd — once per COLUMN
    * CHUNK instead of once per row. The memo keys on the
    * [[Dictionary]] instance (one per column chunk); `broken` records
    * a decode-probe failure (unsupported physical type), which
    * permanently reverts that column to the per-row lane. */
  private[plans] final class DictMemo {
    var dict: Dictionary = null
    var hashes = new Array[Long](1024)
    var known = new Array[Boolean](1024)
    var broken = false
    def reset(d: Dictionary): Unit = {
      dict = d
      java.util.Arrays.fill(known, false)
    }
    def ensure(maxId: Int): Unit = {
      if (maxId >= hashes.length) {
        val c = Integer.highestOneBit(maxId) * 2
        hashes = java.util.Arrays.copyOf(hashes, c)
        known = java.util.Arrays.copyOf(known, c)
      }
    }
  }

  /** The hash the typed per-row lane would produce for dictionary
    * entry `id` — MUST stay bit-identical to the `lane` branch of the
    * same tag (the getters used there decode through the same
    * dictionary). */
  private def dictEntryHash(d: Dictionary, id: Int, tag: Int): Long = tag match {
    case TLong => CityHash.hashLong(d.decodeToLong(id))
    case TInt => CityHash.hashInt(d.decodeToInt(id))
    case TShort => CityHash.hashShort(d.decodeToInt(id).toShort)
    case TByte => CityHash.hashByte(d.decodeToInt(id).toByte)
    case TDouble => CityHash.hashDouble(d.decodeToDouble(id))
    case TFloat => CityHash.hashFloat(d.decodeToFloat(id))
    case TString | TBinary => CityHash.hash64(d.decodeToBinary(id))
    case _ => throw new UnsupportedOperationException(s"tag $tag")
  }

  /** Dictionary-coded lane: fold memoized entry hashes by dict id.
    * Returns false when the column cannot ride the dictionary this
    * batch (no dictionary, boolean, or a failed decode probe) — the
    * caller then runs the per-row lane, with `hs` untouched. */
  private def dictLane(v: ColumnVector, tag: Int, n: Int,
      hs: Array[Long], first: Boolean, memo: DictMemo): Boolean = {
    if (memo == null || memo.broken || tag == TBool) return false
    val w = v match {
      case w: WritableColumnVector
          if w.hasDictionary && w.getDictionaryIds != null => w
      case _ => return false
    }
    val d = GraftVectorShim.dictionaryOf(w)
    if (d == null) return false
    if (memo.dict ne d) memo.reset(d)
    val ids = w.getDictionaryIds
    val hasNull = v.hasNull
    // pre-size the memo to the batch's max id. The raw ids array (ids
    // vectors carry neither nulls nor dictionaries) makes the max scan
    // a branch-free primitive sweep; null rows' slots hold stale
    // non-negative ids from earlier batches — they only round the memo
    // size up, never get decoded. Probe one real decode BEFORE any hs
    // write so an unsupported physical type falls back with the fold
    // state intact.
    val rawIds = BitmapDistinct.rawInts(ids)
    var maxId = 0
    var i = 0
    if (rawIds != null) {
      while (i < n) { val id = rawIds(i); if (id > maxId) maxId = id; i += 1 }
    } else {
      while (i < n) { val id = ids.getDictId(i); if (id > maxId) maxId = id; i += 1 }
    }
    var probe = -1
    i = 0
    while (probe < 0 && i < n) {
      if (!hasNull || !v.isNullAt(i)) probe = ids.getDictId(i)
      i += 1
    }
    if (probe < 0) {
      // all-null batch: the per-row lane handles it without decode
      return false
    }
    // pathological id values must degrade to the per-row lane, never
    // overflow the grow arithmetic (see BitmapDistinct.MaxDictId)
    if (maxId > BitmapDistinct.MaxDictId) { memo.broken = true; return false }
    memo.ensure(maxId)
    if (!memo.known(probe)) {
      try {
        memo.hashes(probe) = dictEntryHash(d, probe, tag)
        memo.known(probe) = true
      } catch {
        case _: Throwable => memo.broken = true; return false
      }
    }
    val hashes = memo.hashes
    val known = memo.known
    i = 0
    if (rawIds != null) {
      if (first) {
        while (i < n) {
          hs(i) = if (hasNull && v.isNullAt(i)) CityHash.NullHash
            else {
              val id = rawIds(i)
              if (!known(id)) {
                hashes(id) = dictEntryHash(d, id, tag); known(id) = true
              }
              hashes(id)
            }
          i += 1
        }
      } else {
        while (i < n) {
          hs(i) = CityHash.combine(hs(i),
            if (hasNull && v.isNullAt(i)) CityHash.NullHash
            else {
              val id = rawIds(i)
              if (!known(id)) {
                hashes(id) = dictEntryHash(d, id, tag); known(id) = true
              }
              hashes(id)
            })
          i += 1
        }
      }
    } else if (first) {
      while (i < n) {
        hs(i) = if (hasNull && v.isNullAt(i)) CityHash.NullHash
          else {
            val id = ids.getDictId(i)
            if (!known(id)) {
              hashes(id) = dictEntryHash(d, id, tag); known(id) = true
            }
            hashes(id)
          }
        i += 1
      }
    } else {
      while (i < n) {
        hs(i) = CityHash.combine(hs(i),
          if (hasNull && v.isNullAt(i)) CityHash.NullHash
          else {
            val id = ids.getDictId(i)
            if (!known(id)) {
              hashes(id) = dictEntryHash(d, id, tag); known(id) = true
            }
            hashes(id)
          })
        i += 1
      }
    }
    true
  }

  /** One lane pass: fold column `tag`'s hash into `hs[0..n)`.
    * `first` seeds instead of combining (CH's left-fold). The null
    * check stays out of the hot loop when the vector has no nulls. */
  private def lane(v: ColumnVector, tag: Int, n: Int,
      hs: Array[Long], first: Boolean): Unit = {
    val hasNull = v.hasNull
    var i = 0
    if (first) {
      tag match {
        case TLong =>
          while (i < n) {
            hs(i) = if (hasNull && v.isNullAt(i)) CityHash.NullHash
              else CityHash.hashLong(v.getLong(i)); i += 1 }
        case TInt =>
          while (i < n) {
            hs(i) = if (hasNull && v.isNullAt(i)) CityHash.NullHash
              else CityHash.hashInt(v.getInt(i)); i += 1 }
        case TShort =>
          while (i < n) {
            hs(i) = if (hasNull && v.isNullAt(i)) CityHash.NullHash
              else CityHash.hashShort(v.getShort(i)); i += 1 }
        case TByte =>
          while (i < n) {
            hs(i) = if (hasNull && v.isNullAt(i)) CityHash.NullHash
              else CityHash.hashByte(v.getByte(i)); i += 1 }
        case TBool =>
          while (i < n) {
            hs(i) = if (hasNull && v.isNullAt(i)) CityHash.NullHash
              else CityHash.hashBoolean(v.getBoolean(i)); i += 1 }
        case TDouble =>
          while (i < n) {
            hs(i) = if (hasNull && v.isNullAt(i)) CityHash.NullHash
              else CityHash.hashDouble(v.getDouble(i)); i += 1 }
        case TFloat =>
          while (i < n) {
            hs(i) = if (hasNull && v.isNullAt(i)) CityHash.NullHash
              else CityHash.hashFloat(v.getFloat(i)); i += 1 }
        case TString =>
          while (i < n) {
            hs(i) = if (hasNull && v.isNullAt(i)) CityHash.NullHash
              else CityHash.hashUTF8(v.getUTF8String(i)); i += 1 }
        case TBinary =>
          while (i < n) {
            hs(i) = if (hasNull && v.isNullAt(i)) CityHash.NullHash
              else CityHash.hash64(v.getBinary(i)); i += 1 }
      }
    } else {
      tag match {
        case TLong =>
          while (i < n) {
            hs(i) = CityHash.combine(hs(i),
              if (hasNull && v.isNullAt(i)) CityHash.NullHash
              else CityHash.hashLong(v.getLong(i))); i += 1 }
        case TInt =>
          while (i < n) {
            hs(i) = CityHash.combine(hs(i),
              if (hasNull && v.isNullAt(i)) CityHash.NullHash
              else CityHash.hashInt(v.getInt(i))); i += 1 }
        case TShort =>
          while (i < n) {
            hs(i) = CityHash.combine(hs(i),
              if (hasNull && v.isNullAt(i)) CityHash.NullHash
              else CityHash.hashShort(v.getShort(i))); i += 1 }
        case TByte =>
          while (i < n) {
            hs(i) = CityHash.combine(hs(i),
              if (hasNull && v.isNullAt(i)) CityHash.NullHash
              else CityHash.hashByte(v.getByte(i))); i += 1 }
        case TBool =>
          while (i < n) {
            hs(i) = CityHash.combine(hs(i),
              if (hasNull && v.isNullAt(i)) CityHash.NullHash
              else CityHash.hashBoolean(v.getBoolean(i))); i += 1 }
        case TDouble =>
          while (i < n) {
            hs(i) = CityHash.combine(hs(i),
              if (hasNull && v.isNullAt(i)) CityHash.NullHash
              else CityHash.hashDouble(v.getDouble(i))); i += 1 }
        case TFloat =>
          while (i < n) {
            hs(i) = CityHash.combine(hs(i),
              if (hasNull && v.isNullAt(i)) CityHash.NullHash
              else CityHash.hashFloat(v.getFloat(i))); i += 1 }
        case TString =>
          while (i < n) {
            hs(i) = CityHash.combine(hs(i),
              if (hasNull && v.isNullAt(i)) CityHash.NullHash
              else CityHash.hashUTF8(v.getUTF8String(i))); i += 1 }
        case TBinary =>
          while (i < n) {
            hs(i) = CityHash.combine(hs(i),
              if (hasNull && v.isNullAt(i)) CityHash.NullHash
              else CityHash.hash64(v.getBinary(i))); i += 1 }
      }
    }
  }

  /** One partition's fold: `Some(Array(sum_0, …, sum_k))` — a partial
    * sum per aggregate — or None when the partition held ZERO rows (it
    * must contribute nothing, so an empty scan's sum finalizes NULL,
    * Spark's and CH's shared semantics). `Math.addExact` overflow
    * fails fast into the native plan (whose ANSI Sum raises the
    * canonical error). */
  def partial(batches: Iterator[ColumnarBatch],
      specs: Array[HashSpec]): Option[Array[Any]] = {
    val sums = new Array[Long](specs.length)
    var rowsSeen = 0L
    var hs = new Array[Long](0)
    // per-scan-column dictionary-hash memos, shared across batches
    val nCols =
      (specs.iterator.flatMap(_.vecIdxs.iterator) ++ Iterator.single(-1)).max + 1
    val memos = Array.fill(nCols)(new DictMemo)
    // when every aggregate hashes the same columns in the same order
    // (the `sum(pmod(cityHash64(*), m))` shape), hash once, fold many
    val shared = specs.length == 1 || specs.forall(s =>
      java.util.Arrays.equals(s.vecIdxs, specs(0).vecIdxs))
    try {
      while (batches.hasNext) {
        val b = batches.next()
        val n = b.numRows()
        if (n > 0) {
          rowsSeen += n
          if (hs.length < n) hs = new Array[Long](n)
          if (shared) {
            foldHashes(b, specs(0), n, hs, memos)
            var j = 0
            while (j < specs.length) {
              sums(j) = accumulate(sums(j), hs, n, specs(j).m); j += 1
            }
          } else {
            var j = 0
            while (j < specs.length) {
              foldHashes(b, specs(j), n, hs, memos)
              sums(j) = accumulate(sums(j), hs, n, specs(j).m); j += 1
            }
          }
        }
      }
    } catch {
      case _: ArithmeticException => DriverMerge.overflow()
    }
    if (rowsSeen == 0L) None else Some(sums.map(v => v: Any))
  }

  private def foldHashes(b: ColumnarBatch, spec: HashSpec, n: Int,
      hs: Array[Long], memos: Array[DictMemo]): Unit = {
    var c = 0
    while (c < spec.vecIdxs.length) {
      val idx = spec.vecIdxs(c)
      val v = b.column(idx)
      val tag = spec.tags(c)
      val first = c == 0
      if (!dictLane(v, tag, n, hs, first, memos(idx)))
        lane(v, tag, n, hs, first)
      c += 1
    }
  }

  private def accumulate(sum0: Long, hs: Array[Long], n: Int, m: Long): Long = {
    var s = sum0
    var i = 0
    while (i < n) {
      s = Math.addExact(s, java.lang.Math.floorMod(hs(i), m))
      i += 1
    }
    s
  }

  /** Driver merger: add the per-partition partial sums; output i is
    * aggregate `outCols(i).idx`. A cross-partition overflow (each
    * partial fits, the total does not) throws the overflow marker so
    * [[DriverMergeAggExec]] re-runs the native plan, whose ANSI Sum
    * raises the canonical error — same discipline as the in-partition
    * fold. */
  final case class SumMerger(nAggs: Int, outCols: Array[DriverMerge.FinalCol])
      extends DriverMerger {
    override def merge(rows: Iterator[Row]): Iterator[InternalRow] = {
      val sums = new Array[Long](nAggs)
      var any = false
      while (rows.hasNext) {
        val r = rows.next()
        var j = 0
        while (j < nAggs) {
          sums(j) =
            try Math.addExact(sums(j), r.getLong(j))
            catch { case _: ArithmeticException => DriverMerge.overflow() }
          j += 1
        }
        any = true
      }
      // Sum over zero rows is NULL here, as in Spark: zero-row
      // partitions emit no partial at all, so `any` stays false.
      // ClickHouse returns 0 for a non-Nullable argument; graft follows
      // Spark and that divergence is still open (ROADMAP direction 4)
      val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(outCols.length)
      var i = 0
      while (i < outCols.length) {
        if (any) row.update(i, sums(outCols(i).idx)) else row.update(i, null)
        i += 1
      }
      Iterator.single(row)
    }
  }
}
