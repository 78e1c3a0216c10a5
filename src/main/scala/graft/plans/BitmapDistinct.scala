package graft.plans

import org.roaringbitmap.longlong.Roaring64Bitmap

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.Count
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatch

/** Bitmap-based exact distinct count for integer columns — the q3
  * shape (`uniqExact(o_custkey)`; reference analog: ClickHouse's
  * `uniqExact` state and `groupBitmap`, both of which ship a compact
  * set state instead of the raw keys).
  *
  * Spark's native `count(DISTINCT intCol)` plans THREE shuffle-bound
  * stages: partial-distinct per partition, a hash exchange of every
  * distinct key, a merge stage, then a second (single-partition)
  * exchange for the final count — at sf10 that is ~0.2 s of stage
  * scheduling for ~0.05 s of CPU (SCALING.md r15 decomposition), and
  * at 100 TB it shuffles every distinct key across the cluster.
  *
  * This rewrite (kill switch `spark.graft.bitmapDistinct=false`)
  * folds each partition's values into ONE set state per column and
  * emits one serialized blob per partition. The blobs come back as JOB
  * RESULTS and are OR-merged on the driver under [[DriverMergeAgg]]
  * (r17, the VERDICT r16 lever) — a SINGLE-STAGE plan, no shuffle at
  * all. The moved volume is one compressed state per partition — never
  * larger than the raw distinct keys it replaces, typically orders of
  * magnitude smaller.
  *
  * Set-state representation, chosen PER COLUMN at plan time:
  *   - DENSE bitset when the parquet footers prove the column's
  *     global [min, max] span is small (`spark.graft.bitmapDistinct.
  *     denseMaxRange`, default 2^24): a flat long[] of (range/64)+1
  *     words — `add` is one shift+or (~1 ns vs Roaring's ~6-10 ns),
  *     merge is word-wise OR, cardinality is a popcount sweep. This is
  *     DuckDB's dense-domain trick, and TPC-H key columns (o_custkey,
  *     l_suppkey, …) all qualify. A value outside the footer range
  *     (file mutated between plan and scan) fails fast into the
  *     native fallback — never a wrong count.
  *   - Roaring64 otherwise — sparse-safe for arbitrary 64-bit keys.
  *
  * Scope: a global `Aggregate` (no GROUP BY) over a bare parquet or
  * ATTACHed-MergeTree relation whose every output is
  * `count(DISTINCT col)` on an Int/Long column (several distinct
  * columns each get their own state). NULLs are ignored, as
  * `count(DISTINCT …)` requires.
  */
object BitmapDistinct {

  /** Engagement counter — PlanSpec asserts the rewrite fires on the
    * q3 bench shape. */
  val engagements = new java.util.concurrent.atomic.AtomicLong(0L)

  def serialize(bm: Roaring64Bitmap): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bm.serialize(new java.io.DataOutputStream(bos))
    bos.toByteArray
  }

  def deserialize(bytes: Array[Byte]): Roaring64Bitmap = {
    val bm = new Roaring64Bitmap()
    bm.deserialize(new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes)))
    bm
  }

  /** A column's dense-domain descriptor (None in the specs array ⇒
    * Roaring). `words` = ceil((max-min+1)/64). */
  final case class DenseCol(base: Long, words: Int) extends Serializable

  // Zero-copy access to OnHeapColumnVector's backing arrays (r19): the
  // public getLongs/getInts COPY (and the 3.7 MB/task allocations show
  // up as GC time); the private fields are stable on the pinned Spark
  // build and any reflection failure degrades to the virtual-getter
  // loop. Only null-free, non-dictionary vectors qualify — dictionary
  // ids live in a different array and nulls leave garbage slots.
  private val onHeapLongData: java.lang.reflect.Field =
    try {
      val f = classOf[org.apache.spark.sql.execution.vectorized.OnHeapColumnVector]
        .getDeclaredField("longData")
      f.setAccessible(true); f
    } catch { case _: Throwable => null }
  private val onHeapIntData: java.lang.reflect.Field =
    try {
      val f = classOf[org.apache.spark.sql.execution.vectorized.OnHeapColumnVector]
        .getDeclaredField("intData")
      f.setAccessible(true); f
    } catch { case _: Throwable => null }

  private[plans] def rawLongs(
      vec: org.apache.spark.sql.vectorized.ColumnVector): Array[Long] =
    vec match {
      case v: org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
          if onHeapLongData != null && !v.hasNull && !v.hasDictionary =>
        onHeapLongData.get(v).asInstanceOf[Array[Long]]
      case _ => null
    }

  private[plans] def rawInts(
      vec: org.apache.spark.sql.vectorized.ColumnVector): Array[Int] =
    vec match {
      case v: org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
          if onHeapIntData != null && !v.hasNull && !v.hasDictionary =>
        onHeapIntData.get(v).asInstanceOf[Array[Int]]
      case _ => null
    }

  /** Per-column dictionary "already folded" marker (r19 optimization
    * round): a DISTINCT fold only needs each dictionary entry ONCE per
    * column chunk — the hot loop degrades to id-seen bookkeeping (one
    * int read + one boolean) and the value decode + set insertion runs
    * once per distinct entry instead of once per row. Keys on the
    * [[org.apache.spark.sql.execution.vectorized.Dictionary]] instance
    * (one per column chunk); a decode-probe failure marks the column
    * `broken`, reverting it to the per-row lanes. */
  /** Dictionary ids above this cap fall back to the per-row lanes: the
    * seen/memo grow arithmetic (`Integer.highestOneBit(maxId) * 2`)
    * goes NEGATIVE for maxId >= 2^30, and a 2^28-slot boolean/long
    * array is already far past any real parquet column-chunk
    * dictionary (advisor r19 — a pathological id value must degrade,
    * not throw NegativeArraySizeException). */
  private[plans] val MaxDictId: Int = (1 << 28) - 1

  private final class DictSeen {
    var dict: org.apache.spark.sql.execution.vectorized.Dictionary = null
    var seen = new Array[Boolean](1024)
    var broken = false
    def reset(d: org.apache.spark.sql.execution.vectorized.Dictionary): Unit = {
      dict = d
      java.util.Arrays.fill(seen, false)
    }
    def ensure(maxId: Int): Unit =
      if (maxId >= seen.length)
        seen = java.util.Arrays.copyOf(seen, Integer.highestOneBit(maxId) * 2)
  }

  /** One blob row per partition: every non-null value of each tracked
    * column folded into that column's set state. `colIdxs(j)` is the
    * j-th tracked column's index in the scan output; `isLong(j)` picks
    * the vector getter; `dense(j)`, when set, selects the flat-bitset
    * representation (trailing zero words trimmed from the blob). */
  def partial(
      batches: Iterator[ColumnarBatch],
      colIdxs: Array[Int],
      isLong: Array[Boolean],
      dense: Array[DenseCol]): Iterator[Row] = {
    val n = colIdxs.length
    val bms = new Array[Roaring64Bitmap](n)
    val words = new Array[Array[Long]](n)
    val dictSeen = Array.fill(n)(new DictSeen)
    var j0 = 0
    while (j0 < n) {
      if (dense(j0) == null) bms(j0) = new Roaring64Bitmap()
      else words(j0) = new Array[Long](dense(j0).words)
      j0 += 1
    }

    /** Dictionary-coded fold for column j over this batch; returns
      * false (with no state touched) when the batch cannot ride the
      * dictionary — the caller then runs the per-row lanes. */
    def dictFold(j: Int, vec: org.apache.spark.sql.vectorized.ColumnVector,
        rows: Int): Boolean = {
      val ds = dictSeen(j)
      if (ds.broken) return false
      // a cache-resident dense bitset beats the id-seen indirection —
      // the dict lane only wins when the direct fold would thrash cache
      // (large spans) or pay Roaring's per-add cost (DictKernelBench:
      // 5.5 vs 8.6 ns/row at a 118M span; a wash at ~150k)
      if (dense(j) != null && dense(j).words.toLong * 8 < (1L << 18)) return false
      val w = vec match {
        case w: org.apache.spark.sql.execution.vectorized.WritableColumnVector
            if w.hasDictionary && w.getDictionaryIds != null => w
        case _ => return false
      }
      val d = org.apache.spark.sql.execution.vectorized.GraftVectorShim.dictionaryOf(w)
      if (d == null) return false
      if (ds.dict ne d) ds.reset(d)
      val ids = w.getDictionaryIds
      val hasNull = vec.hasNull
      val long = isLong(j)
      // max-id pre-scan sizes the seen array once — a branch-free
      // primitive sweep over the raw ids array when exposed (ids
      // vectors carry neither nulls nor dictionaries; null rows' slots
      // hold stale non-negative ids that only round the size up)
      val rawIds = rawInts(ids)
      var maxId = 0
      var i = 0
      if (rawIds != null) {
        while (i < rows) { val id = rawIds(i); if (id > maxId) maxId = id; i += 1 }
      } else {
        while (i < rows) { val id = ids.getDictId(i); if (id > maxId) maxId = id; i += 1 }
      }
      if (maxId > BitmapDistinct.MaxDictId) { ds.broken = true; return false }
      var probe = -1
      i = 0
      while (probe < 0 && i < rows) {
        if (!hasNull || !vec.isNullAt(i)) probe = ids.getDictId(i)
        i += 1
      }
      if (probe < 0) return true // all-null batch: nothing to fold
      ds.ensure(maxId)
      // decode probe before any set-state write
      try { if (long) d.decodeToLong(probe) else d.decodeToInt(probe) }
      catch { case _: Throwable => ds.broken = true; return false }
      val seen = ds.seen
      val dc = dense(j)
      i = 0
      if (dc != null) {
        val wd = words(j)
        val base = dc.base
        val span = dc.words.toLong << 6
        if (rawIds != null && !hasNull) {
          while (i < rows) {
            val id = rawIds(i)
            if (!seen(id)) {
              seen(id) = true
              val v = (if (long) d.decodeToLong(id) else d.decodeToInt(id).toLong) - base
              if (v < 0 || v >= span) DriverMerge.overflow()
              wd((v >>> 6).toInt) |= 1L << v
            }
            i += 1
          }
        } else while (i < rows) {
          if (!hasNull || !vec.isNullAt(i)) {
            val id = ids.getDictId(i)
            if (!seen(id)) {
              seen(id) = true
              val v = (if (long) d.decodeToLong(id) else d.decodeToInt(id).toLong) - base
              if (v < 0 || v >= span) DriverMerge.overflow()
              wd((v >>> 6).toInt) |= 1L << v
            }
          }
          i += 1
        }
      } else {
        val bm = bms(j)
        if (rawIds != null && !hasNull) {
          while (i < rows) {
            val id = rawIds(i)
            if (!seen(id)) {
              seen(id) = true
              bm.addLong(if (long) d.decodeToLong(id) else d.decodeToInt(id).toLong)
            }
            i += 1
          }
        } else while (i < rows) {
          if (!hasNull || !vec.isNullAt(i)) {
            val id = ids.getDictId(i)
            if (!seen(id)) {
              seen(id) = true
              bm.addLong(if (long) d.decodeToLong(id) else d.decodeToInt(id).toLong)
            }
          }
          i += 1
        }
      }
      true
    }
    while (batches.hasNext) {
      val batch = batches.next()
      val rows = batch.numRows()
      var j = 0
      while (j < n) {
        val vec = batch.column(colIdxs(j))
        val d = dense(j)
        var i = 0
        if (dictFold(j, vec, rows)) {
          // dictionary lane handled the whole batch for this column
        } else if (d != null) {
          val w = words(j)
          val base = d.base
          val span = d.words.toLong << 6
          // bulk lanes (r19): a null-free non-dictionary ON-HEAP vector
          // exposes its backing array zero-copy — the loop then runs
          // free of virtual getLong dispatch and allocation (the
          // getLongs() copy variant traded the win back as GC time).
          // Dictionary-backed, nullable, or off-heap batches take the
          // per-row path with the null check hoisted per batch.
          val longLane = if (isLong(j)) rawLongs(vec) else null
          val intLane = if (isLong(j)) null else rawInts(vec)
          if (longLane != null) {
            while (i < rows) {
              val v = longLane(i) - base
              // footer-stats race (file replaced after planning):
              // fail fast into the native fallback, never a wrong count
              if (v < 0 || v >= span) DriverMerge.overflow()
              w((v >>> 6).toInt) |= 1L << v
              i += 1
            }
          } else if (intLane != null) {
            while (i < rows) {
              val v = intLane(i).toLong - base
              if (v < 0 || v >= span) DriverMerge.overflow()
              w((v >>> 6).toInt) |= 1L << v
              i += 1
            }
          } else if (!vec.hasNull) {
            while (i < rows) {
              val v = (if (isLong(j)) vec.getLong(i) else vec.getInt(i).toLong) - base
              if (v < 0 || v >= span) DriverMerge.overflow()
              w((v >>> 6).toInt) |= 1L << v
              i += 1
            }
          } else while (i < rows) {
            if (!vec.isNullAt(i)) {
              val v = (if (isLong(j)) vec.getLong(i) else vec.getInt(i).toLong) - base
              if (v < 0 || v >= span) DriverMerge.overflow()
              w((v >>> 6).toInt) |= 1L << v
            }
            i += 1
          }
        } else {
          val bm = bms(j)
          if (isLong(j)) {
            while (i < rows) {
              if (!vec.isNullAt(i)) bm.addLong(vec.getLong(i))
              i += 1
            }
          } else {
            while (i < rows) {
              if (!vec.isNullAt(i)) bm.addLong(vec.getInt(i).toLong)
              i += 1
            }
          }
        }
        j += 1
      }
    }
    val blobs = new Array[Any](n)
    var j = 0
    while (j < n) {
      blobs(j) =
        if (dense(j) == null) { bms(j).runOptimize(); serialize(bms(j)) }
        else packWords(words(j))
      j += 1
    }
    Iterator.single(Row.fromSeq(
      scala.collection.immutable.ArraySeq.unsafeWrapArray(blobs)))
  }

  /** LE bytes of the word array, trailing zero words trimmed. */
  private[plans] def packWords(w: Array[Long]): Array[Byte] = {
    var last = w.length - 1
    while (last >= 0 && w(last) == 0L) last -= 1
    val bb = java.nio.ByteBuffer.allocate((last + 1) * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var i = 0
    while (i <= last) { bb.putLong(w(i)); i += 1 }
    bb.array()
  }

  /** Driver-side OR + cardinality — the merge half of the
    * single-stage plan. `outCols(i).idx` is output position i's
    * tracked column (several outputs may share one column's state).
    * Zero partial rows (an empty relation with no splits) still
    * yields the global aggregate's one row of zeros. */
  final case class BitmapCardMerger(
      nCols: Int,
      dense: Array[DenseCol],
      outCols: Array[DriverMerge.FinalCol])
      extends DriverMerger {

    override def merge(rows: Iterator[Row]): Iterator[InternalRow] = {
      val bms = new Array[Roaring64Bitmap](nCols)
      val words = new Array[Array[Long]](nCols)
      while (rows.hasNext) {
        val r = rows.next()
        var j = 0
        while (j < nCols) {
          val blob = r.get(j).asInstanceOf[Array[Byte]]
          if (blob != null) {
            if (dense(j) == null) {
              val bm = deserialize(blob)
              if (bms(j) == null) bms(j) = bm else bms(j).or(bm)
            } else {
              if (words(j) == null) words(j) = new Array[Long](dense(j).words)
              val w = words(j)
              val bb = java.nio.ByteBuffer.wrap(blob)
                .order(java.nio.ByteOrder.LITTLE_ENDIAN)
              var i = 0
              val m = blob.length / 8
              while (i < m) { w(i) |= bb.getLong(i * 8); i += 1 }
            }
          }
          j += 1
        }
      }
      val cards = new Array[Long](nCols)
      var j = 0
      while (j < nCols) {
        cards(j) =
          if (dense(j) != null) {
            val w = words(j)
            if (w == null) 0L
            else {
              var c = 0L
              var i = 0
              while (i < w.length) { c += java.lang.Long.bitCount(w(i)); i += 1 }
              c
            }
          } else if (bms(j) == null) 0L
          else bms(j).getLongCardinality
        j += 1
      }
      val vals = new Array[Any](outCols.length)
      var i = 0
      while (i < outCols.length) {
        vals(i) = java.lang.Long.valueOf(cards(outCols(i).idx)); i += 1
      }
      Iterator.single(new GenericInternalRow(vals))
    }
  }
}

/** The rewrite rule — see [[BitmapDistinct]]. */
case class BitmapDistinctRewrite(spark: SparkSession) extends DriverMergeRule {

  import BitmapDistinct._

  override protected def switch = graft.service.Settings.BitmapDistinct

  override protected def tryRewrite(agg: Aggregate): Option[LogicalPlan] = {
    if (agg.groupingExpressions.nonEmpty) return None
    val src = ScanRelations.relationOf(agg.child).getOrElse(return None)
    // never re-rewrite an AggProjections COMPANION scan
    if (ScanRelations.isProjectionCompanion(spark, src)) return None

    // every aggregate call must be count(DISTINCT intCol); collect the
    // distinct columns in first-seen order
    val (aeList, aeIdx) = RewriteOutputs.aggregateCalls(agg.aggregateExpressions)
    if (aeList.isEmpty) return None
    // aeIdx → relation column name
    val cols: Seq[String] = aeList.map { ae =>
      if (!ae.isDistinct || ae.filter.isDefined) return None
      ae.aggregateFunction match {
        case Count(Seq(a: AttributeReference))
            if a.dataType == LongType || a.dataType == IntegerType =>
          ScanRelations.resolve(agg.child, a).getOrElse(return None)
        case _ => return None
      }
    }

    val neededNames = cols.distinct
    // planned-scan cache (r18): repeats skip the ~30 ms sub-scan
    // planning that dominated this rule's per-query cost (PlanPhases)
    val (batchRdd, scanOut) =
      ScanRelations.columnarBatches(spark, src, neededNames, None)
        .getOrElse(return None)
    // one set state per DISTINCT tracked column; aggregates share them
    val colIdxs = neededNames.map(n => scanOut.indexWhere(_.name == n)).toArray
    if (colIdxs.exists(_ < 0)) return None
    val isLong = colIdxs.map(i => scanOut(i).dataType == LongType)
    val blobIdxOf: Map[String, Int] = neededNames.zipWithIndex.toMap

    // dense-domain gate per column: footer-exact [min, max] with a
    // small span → flat bitset instead of Roaring (parquet only; the
    // MergeTree scan keeps Roaring)
    val dense: Array[DenseCol] = {
      val maxRange = graft.service.Settings.BitmapDistinctDenseMaxRange(spark)
      val ranges: Map[String, Option[(Long, Long)]] = src match {
        case ScanRelations.ParquetRel(lr) =>
          try FooterAggregates.columnRanges(spark,
            lr.relation.asInstanceOf[HadoopFsRelation], neededNames)
          catch {
            case scala.util.control.NonFatal(_) =>
              neededNames.map(_ -> None).toMap
          }
        case _ => neededNames.map(_ -> None).toMap
      }
      neededNames.map { n =>
        ranges.getOrElse(n, None) match {
          case Some((mn, mx)) if mx - mn >= 0 && mx - mn < maxRange =>
            DenseCol(mn, (((mx - mn) >> 6) + 1).toInt)
          case _ => null
        }
      }.toArray
    }
    val rowRdd: RDD[Row] = batchRdd
      .mapPartitions(it => BitmapDistinct.partial(it, colIdxs, isLong, dense))

    DriverMerge.plan(agg, agg.aggregateExpressions, Nil,
      neededNames.map(_ => (LongType, false)),
      ae => aeIdx(ae).map(i => blobIdxOf(cols(i))),
      rowRdd, src,
      outCols => BitmapCardMerger(neededNames.size, dense, outCols))
      .map { p =>
        engagements.incrementAndGet()
        logInfo(s"bitmapDistinct: single-stage count(DISTINCT " +
          s"${neededNames.mkString(", ")}) — " +
          neededNames.indices.map(i =>
            if (dense(i) != null) "dense" else "roaring").mkString("/"))
        p
      }
  }
}
