package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.execution.vectorized.WritableColumnVector
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}
import org.apache.spark.unsafe.types.UTF8String

/** Dictionary-code aggregation for GROUP BY over a low-cardinality
  * string key of a parquet table (reference analog: the reference's own
  * headline query shape, `sum(commits) … GROUP BY event_type` over a
  * LowCardinality(String) key — `temporal/workflow_query_executor_test.go:75`;
  * its delegated ClickHouse engine aggregates LowCardinality keys on
  * dictionary positions, and DuckDB aggregates parquet dictionary codes
  * directly).
  *
  * The problem this removes (measured, SCALING.md "Round 15" Q2Matrix):
  * Spark's row-oriented hash aggregate materializes a `UTF8String` from
  * the column vector and re-hashes its bytes FOR EVERY ROW — ~13 ns/row
  * over the 600 M-row sf10 fixture, which is the entire remaining
  * q2-vs-DuckDB gap. Parquet already ships the key as a small dictionary
  * plus per-row integer codes; within one batch a group's identity is
  * fully determined by its code.
  *
  * The rewrite (kill switch `spark.graft.dictAgg=false`):
  *
  * {{{
  *   Aggregate([0-2 stringKeys], [sum/count/min/max/avg/count-distinct-int]) — over —
  *   (Project of attrs)? (LogicalRelation parquet)
  * }}}
  *
  * becomes a SINGLE-STAGE plan (r17, the VERDICT r16 lever): a
  * per-partition partial aggregation that consumes the vectorized
  * scan's `ColumnarBatch`es directly ([[DictAgg.partial]]) and emits
  * one row per (partition, group), collected as JOB RESULTS and folded
  * into the final answer on the driver by [[DictAgg.DictAggMerger]]
  * under [[DriverMergeAgg]] — no exchange, no second stage, the same
  * merge topology DuckDB's gather uses. Sums re-sum, counts re-sum,
  * min/max re-min/max, avg merges as Σsum ÷ Σcount (the same
  * mergeable-state discipline as [[AggProjections]]).
  *
  * The kernel's inner loop per row is: dictionary code → int array
  * index → accumulator update. The UTF8String is materialized ONCE per
  * distinct code per batch (when the code→slot cache misses), not once
  * per row. Batches without dictionary encoding (plain pages, partition
  * constants) fall back to per-row key materialization inside the same
  * kernel — never a wrong answer, worst case the old cost.
  *
  * Exactness guardrails:
  *   - group keys travel as BINARY partials and are compared byte-wise
  *     (the composite map in the driver merger), then decoded back —
  *     byte-exact even for non-UTF-8-roundtrippable data (a
  *     java.lang.String key would collapse invalid sequences);
  *   - every aggregate must rewrite onto a mergeable partial (no
  *     FILTER clause, no decimals; DISTINCT only as count(DISTINCT
  *     intCol) via per-slot Roaring64 bitmaps) and the rewritten
  *     output's data type must equal the original's exactly;
  *   - integral sums honor the session's ANSI mode (Math.addExact vs
  *     wrapping add);
  *   - float/double min/max use java.lang.Double.compare ordering —
  *     Spark's NaN-greatest, -0.0 < 0.0 contract.
  *
  * 100 TB posture: the partial stage is embarrassingly parallel over
  * scan splits and its output volume is (distinct keys × partitions)
  * rows — for a LowCardinality key, kilobytes. A high-cardinality key
  * is the wrong target for this path, so the kernel caps its groups
  * per partition at `min(DriverMergeGroupCap, maxTotalRows /
  * partitions)` (total collected rows stay under
  * `spark.graft.driverMerge.maxTotalRows`). A task past the cap FAILS
  * FAST with the overflow marker — [[DriverMergeAggExec]] then runs
  * the untouched native plan, so a mis-gated high-cardinality key costs
  * one wasted partial scan, never a driver OOM. A cap below 16 (more
  * than maxTotalRows / 16 scan partitions) would overflow on almost
  * any key, so the rewrite stands down and the native plan runs.
  */
object DictAgg {

  /** Per-partition group cap (further shrunk so partitions × cap ≤
    * `spark.graft.driverMerge.maxTotalRows`). */
  val DriverMergeGroupCap = 1 << 16

  // op codes
  final val OpSum = 0
  final val OpCountStar = 1
  final val OpCountCol = 2
  final val OpMin = 3
  final val OpMax = 4
  final val OpAvg = 5
  /** count(DISTINCT intCol) per group — a Roaring64 bitmap per slot,
    * OR-merged by the driver merger (the grouped composition of the
    * two r16 rewrites; the
    * reference's natural `GROUP BY event_type, uniqExact(actor_login)`
    * analytics shape). */
  final val OpUniq = 6
  /** APPROXIMATE distinct per group — `uniq()` (HLL++ at the default
    * rsd 0.05): per-slot register words driven by Spark's own helper
    * ([[HllRegisters]]), so the estimate is bit-identical to the
    * native HyperLogLogPlusPlus plan (r18). */
  final val OpHll = 7

  // value type tags (the scan column's data type)
  final val TInt = 0
  final val TLong = 1
  final val TFloat = 2
  final val TDouble = 3
  /** String values — OpHll only (every other op is numeric). */
  final val TStr = 4

  // group-key kinds (r17 generalization past string keys): the kernel
  // encodes every key part as bytes (numerics 8-byte LE) so slot
  // identity and partial rows stay uniform; the kind drives encode/
  // decode and the single-numeric-key fast path. KInt covers Date
  // (int days), KLong covers Timestamp (long micros).
  final val KStr = 0
  final val KInt = 1
  final val KLong = 2

  // predicate ops for filtered scans (r17): the kernel re-applies the
  // pushed-down filter exactly on the scan's batches (parquet pushdown
  // prunes row groups, it does not guarantee row-level filtering)
  final val PIsNotNull = 0
  final val PIsNull = 1
  final val PEq = 2
  final val PLt = 3
  final val PLe = 4
  final val PGt = 5
  final val PGe = 6
  final val PNe = 7
  /** `col IN (…)` — int-family via sorted-array binary search, strings
    * via a per-partition UTF8String set (r17b). NULL literals drop from
    * the set: `a IN (1, NULL)` is true on match and NULL (⇒ filtered)
    * otherwise, so the row outcome is identical. */
  final val PIn = 8
  /** `col LIKE 'x%'` after Spark's LikeSimplification. */
  final val PStartsWith = 9

  // predicate value types: TInt/TLong/TFloat/TDouble from above, plus
  final val PTStr = 4

  /** One compiled filter conjunct: `vecIdx` in the SCAN output, value
    * type, op, and the literal(s) in the matching slot. String
    * literals travel as bytes (UTF8String is rebuilt per partition);
    * `lSet` is the SORTED integral IN-list, `bSet` the string one. */
  final case class Pred(vecIdx: Int, typ: Int, op: Int,
      lLit: Long, dLit: Double, bLit: Array[Byte],
      lSet: Array[Long] = null,
      bSet: Array[Array[Byte]] = null) extends Serializable

  /** Spark's SQL comparison for doubles: NaN greatest, -0.0 == 0.0
    * (SQLOrderingUtil's contract — `NaN > x` is TRUE in Spark, unlike
    * raw IEEE). */
  private def cmpD(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  private def predSat(op: Int, cmp: Int): Boolean = op match {
    case PEq => cmp == 0
    case PLt => cmp < 0
    case PLe => cmp <= 0
    case PGt => cmp > 0
    case PGe => cmp >= 0
    case PNe => cmp != 0
  }

  private[plans] def le8(v: Long): Array[Byte] = {
    val b = new Array[Byte](8)
    var i = 0
    var x = v
    while (i < 8) { b(i) = (x & 0xFF).toByte; x >>>= 8; i += 1 }
    b
  }

  private[plans] def le8ToLong(b: Array[Byte]): Long = {
    var v = 0L
    var i = 7
    while (i >= 0) { v = (v << 8) | (b(i) & 0xFFL); i -= 1 }
    v
  }

  /** One aggregate's kernel descriptor. `vecIdx` is the column's index
    * in the SCAN output (-1 for count(*)); `ansi` only matters for
    * integral sums; `hllRsd` only for OpHll (r19 — the precision the
    * registers are sized for, resolved per-process via
    * [[HllRegisters.forRsd]]). */
  final case class Spec(op: Int, vecIdx: Int, typ: Int, ansi: Boolean,
      hllRsd: Double = HllRegisters.Rsd)
      extends Serializable {
    /** Number of partial columns this spec emits (avg emits sum+count). */
    def width: Int = if (op == OpAvg) 2 else 1
  }

  /** Engagement counter — PlanSpec asserts the rewrite actually fired
    * on the bench q2 shape (a silently-disengaged optimization is the
    * bug class this guards against). */
  val engagements = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Length-prefixed byte composite of all key parts (-1-length marks
    * NULL — unambiguous, unlike separators); the cross-partition group
    * identity both the kernel and the driver merger hash on. */
  private[plans] def compositeKey(parts: Array[Array[Byte]]): UTF8String = {
    var len = 0
    var i = 0
    while (i < parts.length) {
      len += 4 + (if (parts(i) == null) 0 else parts(i).length); i += 1
    }
    val b = java.nio.ByteBuffer.allocate(len)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    i = 0
    while (i < parts.length) {
      if (parts(i) == null) b.putInt(-1)
      else { b.putInt(parts(i).length); b.put(parts(i)) }
      i += 1
    }
    UTF8String.fromBytes(b.array())
  }

  /** Per-partition compiled predicate-conjunction evaluator
    * (UTF8String literals and IN-sets rebuilt from bytes once per
    * partition; one tight typed loop per conjunct per batch). Shared
    * by the global filter mask and the per-spec sumIf/FILTER masks. */
  private[plans] final class CompiledPreds(ps: Array[Pred]) {
    private val strLits: Array[UTF8String] = ps.map(p =>
      if (p.bLit == null) null else UTF8String.fromBytes(p.bLit))
    private val strSets: Array[java.util.HashSet[UTF8String]] = ps.map { p =>
      if (p.bSet == null) null
      else {
        val s = new java.util.HashSet[UTF8String](p.bSet.length * 2)
        p.bSet.foreach(b => s.add(UTF8String.fromBytes(b)))
        s
      }
    }

    /** Fill `m(0 until n)` with the conjunction over the batch,
      * starting from `seed` (null = all-true). */
    def evalInto(vecs: Array[ColumnVector], n: Int, m: Array[Boolean],
        seed: Array[Boolean]): Unit = {
      if (seed == null) java.util.Arrays.fill(m, 0, n, true)
      else System.arraycopy(seed, 0, m, 0, n)
      var pi = 0
      while (pi < ps.length) {
        val p = ps(pi)
        val vec = vecs(p.vecIdx)
        var i = 0
        p.op match {
          case PIsNotNull =>
            while (i < n) { if (vec.isNullAt(i)) m(i) = false; i += 1 }
          case PIsNull =>
            while (i < n) { if (!vec.isNullAt(i)) m(i) = false; i += 1 }
          case PIn => p.typ match {
            case PTStr =>
              val set = strSets(pi)
              while (i < n) {
                if (m(i)) m(i) = !vec.isNullAt(i) &&
                  set.contains(vec.getUTF8String(i))
                i += 1
              }
            case t =>
              while (i < n) {
                if (m(i)) m(i) = !vec.isNullAt(i) &&
                  java.util.Arrays.binarySearch(p.lSet,
                    if (t == TInt) vec.getInt(i).toLong else vec.getLong(i)) >= 0
                i += 1
              }
          }
          case PStartsWith =>
            val lit = strLits(pi)
            while (i < n) {
              if (m(i)) m(i) = !vec.isNullAt(i) &&
                vec.getUTF8String(i).startsWith(lit)
              i += 1
            }
          case op => p.typ match {
            case TInt =>
              while (i < n) {
                if (m(i)) m(i) = !vec.isNullAt(i) && predSat(op,
                  java.lang.Long.compare(vec.getInt(i).toLong, p.lLit))
                i += 1
              }
            case TLong =>
              while (i < n) {
                if (m(i)) m(i) = !vec.isNullAt(i) && predSat(op,
                  java.lang.Long.compare(vec.getLong(i), p.lLit))
                i += 1
              }
            case TFloat =>
              while (i < n) {
                if (m(i)) m(i) = !vec.isNullAt(i) && predSat(op,
                  cmpD(vec.getFloat(i).toDouble, p.dLit))
                i += 1
              }
            case TDouble =>
              while (i < n) {
                if (m(i)) m(i) = !vec.isNullAt(i) && predSat(op,
                  cmpD(vec.getDouble(i), p.dLit))
                i += 1
              }
            case PTStr =>
              val lit = strLits(pi)
              while (i < n) {
                if (m(i)) m(i) = !vec.isNullAt(i) && predSat(op,
                  vec.getUTF8String(i).compareTo(lit))
                i += 1
              }
          }
        }
        pi += 1
      }
    }
  }

  /** Per-batch primitive long→slot map (open addressing, linear
    * probing). Only non-negative slots are ever stored, so `get`
    * returns -1 as the miss marker. Not thread-safe — one instance per
    * partition iterator. */
  private[plans] final class LongSlotMap(initCap: Int) {
    private var cap = Integer.highestOneBit(math.max(16, initCap)) * 2
    private var ks = new Array[Long](cap)
    private var vs = new Array[Int](cap)
    private var live = new Array[Boolean](cap)
    private var n = 0
    def clear(): Unit = { java.util.Arrays.fill(live, false); n = 0 }
    def get(k: Long): Int = {
      var i = java.lang.Long.hashCode(k) & (cap - 1)
      while (live(i)) {
        if (ks(i) == k) return vs(i)
        i = (i + 1) & (cap - 1)
      }
      -1
    }
    def put(k: Long, v: Int): Unit = {
      if (n * 2 >= cap) grow()
      var i = java.lang.Long.hashCode(k) & (cap - 1)
      while (live(i)) {
        if (ks(i) == k) { vs(i) = v; return }
        i = (i + 1) & (cap - 1)
      }
      live(i) = true; ks(i) = k; vs(i) = v; n += 1
    }
    private def grow(): Unit = {
      val oldKs = ks; val oldVs = vs; val oldLive = live
      cap = cap * 2
      ks = new Array[Long](cap); vs = new Array[Int](cap)
      live = new Array[Boolean](cap); n = 0
      var i = 0
      while (i < oldKs.length) {
        if (oldLive(i)) put(oldKs(i), oldVs(i))
        i += 1
      }
    }
  }

  /** Per-partition partial aggregation over the vectorized scan's
    * batches. Consumes every batch, then emits `Row(key0Bytes[,
    * key1Bytes], partial0, partial1, …)` — one row per group. A group
    * past `maxGroups` throws [[DriverMerge.OverflowMarker]] (the exec
    * then runs the native plan). ZERO to FOUR keys of string /
    * int(+date) / long(+timestamp) kinds (r17): empty `keyIdxs` is the
    * GLOBAL-aggregate spelling (one slot, load-bearing for the mixed
    * distinct+plain shape); a single string key rides the per-batch
    * code→slot array and a single NUMERIC key the raw-value slot map;
    * a dict-coded string PAIR rides a per-batch packed-long
    * (code0,code1) cache; everything else goes through the
    * byte-composite map. */
  def partial(
      batches: Iterator[ColumnarBatch],
      keyIdxs: Array[Int],
      keyKinds: Array[Int],
      specs: Array[Spec],
      preds: Array[Pred],
      /** DISTINCT per-spec condition groups (the `sumIf`/`FILTER
        * (WHERE …)` compilation, r17b) + each spec's group index (-1 =
        * unconditional): a spec's accumulation only sees rows its
        * group's mask passes — the NULL-skip semantics of
        * `agg(If(cond, x, NULL))` — and specs sharing a condition
        * share ONE evaluation per batch. */
      specPredGroups: Array[Array[Pred]],
      specGroupIdx: Array[Int],
      maxGroups: Int): Iterator[Row] = {

    val nSpecs = specs.length
    val nKeys = keyIdxs.length
    val totalWidth = nKeys + specs.map(_.width).sum
    // per-spec HLL algebra (OpHll only) — resolved once per partition
    // from the spec's rsd (r19: the kernel engages at ANY supported
    // precision, not just the default)
    val hllOf: Array[HllRegisters.Hll] =
      specs.map(s => if (s.op == OpHll) HllRegisters.forRsd(s.hllRsd) else null)
    // single NUMERIC key: slot identity is the raw long value — a
    // cross-batch primitive map, no byte composites on the hot path
    val singleNumKey = nKeys == 1 && keyKinds(0) != KStr
    val valueSlots = if (singleNumKey) new DictAgg.LongSlotMap(256) else null
    val globalPreds = if (preds.isEmpty) null else new CompiledPreds(preds)
    val nGroupsM = if (specPredGroups == null) 0 else specPredGroups.length
    val compiledGroupPreds: Array[CompiledPreds] =
      if (specPredGroups == null) Array.empty
      else specPredGroups.map(ps => new CompiledPreds(ps))
    // mask buffers, grown with the batch size, reused across batches
    val groupMasks = new Array[Array[Boolean]](nGroupsM)
    var gMask: Array[Boolean] = null

    // group state: per-slot per-key bytes (null = NULL key part) +
    // per-spec accumulators
    var cap = 64
    var keys = new Array[Array[Array[Byte]]](cap)
    // cross-batch identity: the length-prefixed composite
    val slots = new java.util.HashMap[UTF8String, Integer]()
    var nullSlot = -1 // single-key NULL group fast path
    var nGroups = 0

    // acc layout per spec: longs (sums/counts/int min-max), doubles
    // (float sums/min-max), cnt (non-null count: null-sum semantics,
    // countCol, avg count). OpCountStar uses cnt as the row count.
    var accL = Array.fill(nSpecs)(new Array[Long](cap))
    var accD = Array.fill(nSpecs)(new Array[Double](cap))
    var accC = Array.fill(nSpecs)(new Array[Long](cap))
    // per-slot bitmaps, allocated lazily and only for OpUniq specs
    var accB = Array.fill(nSpecs)(
      null: Array[org.roaringbitmap.longlong.Roaring64Bitmap])
    // per-slot HLL register words, lazily and only for OpHll specs
    var accH = Array.fill(nSpecs)(null: Array[Array[Long]])

    def grow(need: Int): Unit = {
      var c = cap
      while (c < need) c = c * 2
      if (c != cap) {
        keys = java.util.Arrays.copyOf(keys, c)
        var j = 0
        while (j < nSpecs) {
          accL(j) = java.util.Arrays.copyOf(accL(j), c)
          accD(j) = java.util.Arrays.copyOf(accD(j), c)
          accC(j) = java.util.Arrays.copyOf(accC(j), c)
          if (accB(j) != null) accB(j) = java.util.Arrays.copyOf(accB(j), c)
          if (accH(j) != null) accH(j) = java.util.Arrays.copyOf(accH(j), c)
          j += 1
        }
        cap = c
      }
    }

    def newSlot(keyBytes: Array[Array[Byte]]): Int = {
      if (nGroups >= maxGroups) DriverMerge.overflow()
      grow(nGroups + 1)
      keys(nGroups) = keyBytes
      nGroups += 1
      nGroups - 1
    }

    /** Cross-batch lookup-or-create off the composite identity. */
    def slotOf(parts: Array[Array[Byte]]): Int = {
      val ck = compositeKey(parts)
      val hit = slots.get(ck)
      if (hit != null) hit.intValue()
      else {
        val s = newSlot(parts)
        slots.put(ck, Integer.valueOf(s))
        s
      }
    }

    // per-batch code→slot cache (parquet dictionaries are per
    // column-chunk: codes are only comparable within one batch)
    var codeSlots = new Array[Int](1024)
    // per-batch (code0,code1)→slot cache for the two-key dict path —
    // primitive open addressing: a boxed-Long HashMap key would
    // allocate once per ROW on the hot path
    val pairSlots = new DictAgg.LongSlotMap(256)

    def boxPartial(spec: Spec, sIdx: Int, l: Long, d: Double, c: Long,
        out: Array[Any], at: Int): Unit = spec.op match {
      case OpSum =>
        out(at) =
          if (c == 0L) null
          else if (spec.typ == TInt || spec.typ == TLong) java.lang.Long.valueOf(l)
          else java.lang.Double.valueOf(d)
      case OpCountStar | OpCountCol => out(at) = java.lang.Long.valueOf(c)
      case OpMin | OpMax =>
        out(at) =
          if (c == 0L) null
          else spec.typ match {
            case TInt => java.lang.Integer.valueOf(l.toInt)
            case TLong => java.lang.Long.valueOf(l)
            case TFloat => java.lang.Float.valueOf(d.toFloat)
            case TDouble => java.lang.Double.valueOf(d)
          }
      case OpAvg =>
        // always the Double accumulator — see the OpAvg kernel branch
        out(at) = if (c == 0L) null else java.lang.Double.valueOf(d)
        out(at + 1) = java.lang.Long.valueOf(c)
      case OpUniq => () // filled by slotRow from accB directly
      case OpHll => () // filled by slotRow from accH directly
    }

    def slotRow(slot: Int): Row = {
      val vals = new Array[Any](totalWidth)
      var at = 0
      while (at < nKeys) { vals(at) = keys(slot)(at); at += 1 }
      var j = 0
      while (j < nSpecs) {
        if (specs(j).op == OpUniq) {
          val bm =
            if (accB(j) == null || accB(j)(slot) == null)
              new org.roaringbitmap.longlong.Roaring64Bitmap()
            else { accB(j)(slot).runOptimize(); accB(j)(slot) }
          vals(at) = BitmapDistinct.serialize(bm)
        } else if (specs(j).op == OpHll) {
          vals(at) =
            if (accH(j) == null || accH(j)(slot) == null) null
            else hllOf(j).serialize(accH(j)(slot))
        } else boxPartial(specs(j), slot,
          accL(j)(slot), accD(j)(slot), accC(j)(slot), vals, at)
        at += specs(j).width
        j += 1
      }
      Row.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(vals))
    }

    var slotsBuf = new Array[Int](16384)
    // the GLOBAL-aggregate spelling (no keys): one slot for everything
    if (nKeys == 0) newSlot(Array.empty)

    def processBatch(batch: ColumnarBatch): Unit = {
      val n = batch.numRows()
      if (n == 0) return
      if (slotsBuf.length < n) slotsBuf = new Array[Int](n)
      val vecs = new Array[ColumnVector](batch.numCols())
      var v = 0
      while (v < vecs.length) { vecs(v) = batch.column(v); v += 1 }

      def dictOf(vec: ColumnVector): ColumnVector = vec match {
        case w: WritableColumnVector
            if w.hasDictionary && w.getDictionaryIds != null =>
          w.getDictionaryIds
        case _ => null
      }
      def partsOf(i: Int): Array[Array[Byte]] = {
        val p = new Array[Array[Byte]](nKeys)
        var k = 0
        while (k < nKeys) {
          val kv = vecs(keyIdxs(k))
          p(k) =
            if (kv.isNullAt(i)) null
            else keyKinds(k) match {
              case KStr => kv.getUTF8String(i).getBytes
              case KInt => le8(kv.getInt(i).toLong)
              case KLong => le8(kv.getLong(i))
            }
          k += 1
        }
        p
      }

      // ---- filter masks: rows failing a GLOBAL conjunct never reach a
      // slot (slotsBuf -1 = skip); a spec's own mask (sumIf/FILTER)
      // only gates that spec's accumulation ----
      val mask: Array[Boolean] =
        if (globalPreds == null) null
        else {
          if (gMask == null || gMask.length < n)
            gMask = new Array[Boolean](math.max(n, 16384))
          globalPreds.evalInto(vecs, n, gMask, null)
          gMask
        }
      var jm = 0
      while (jm < nGroupsM) {
        if (groupMasks(jm) == null || groupMasks(jm).length < n)
          groupMasks(jm) = new Array[Boolean](math.max(n, 16384))
        // seed with the global mask: rows the WHERE already dropped
        // never pay the spec conjunction
        compiledGroupPreds(jm).evalInto(vecs, n, groupMasks(jm), mask)
        jm += 1
      }

      // per-batch key-shape setup
      val keyVec = if (nKeys == 1) vecs(keyIdxs(0)) else null
      val dictIds = if (nKeys == 1) dictOf(keyVec) else null
      val kv0 = if (nKeys == 2) vecs(keyIdxs(0)) else null
      val kv1 = if (nKeys == 2) vecs(keyIdxs(1)) else null
      val d0 = if (nKeys == 2) dictOf(kv0) else null
      val d1 = if (nKeys == 2) dictOf(kv1) else null
      val paired = d0 != null && d1 != null
      if (dictIds != null) java.util.Arrays.fill(codeSlots, -1)
      if (paired) pairSlots.clear()

      /** Resolve every row's slot into slotsBuf (-1 = filtered out). */
      def resolveSlots(): Unit = {
        if (nKeys == 0) {
          if (mask == null) java.util.Arrays.fill(slotsBuf, 0, n, 0)
          else {
            var i = 0
            while (i < n) { slotsBuf(i) = if (mask(i)) 0 else -1; i += 1 }
          }
          return
        }
        var i = 0
        if (singleNumKey) {
          val kind = keyKinds(0)
          while (i < n) {
            if (mask != null && !mask(i)) slotsBuf(i) = -1
            else if (keyVec.isNullAt(i)) {
              if (nullSlot == -1) nullSlot = newSlot(Array(null))
              slotsBuf(i) = nullSlot
            } else {
              val v = if (kind == KInt) keyVec.getInt(i).toLong else keyVec.getLong(i)
              var slot = valueSlots.get(v)
              if (slot < 0) {
                slot = newSlot(Array(le8(v)))
                valueSlots.put(v, slot)
              }
              slotsBuf(i) = slot
            }
            i += 1
          }
        } else if (nKeys == 1) {
          while (i < n) {
            if (mask != null && !mask(i)) {
              slotsBuf(i) = -1
              i += 1
            } else {
              var slot = -1
              if (keyVec.isNullAt(i)) {
                if (nullSlot == -1) nullSlot = newSlot(Array(null))
                slot = nullSlot
              } else if (dictIds != null) {
                val code = dictIds.getInt(i)
                if (code >= codeSlots.length) {
                  val old = codeSlots
                  codeSlots = new Array[Int](Integer.highestOneBit(code) * 2)
                  java.util.Arrays.fill(codeSlots, -1)
                  System.arraycopy(old, 0, codeSlots, 0, old.length)
                }
                slot = codeSlots(code)
                if (slot == -1) {
                  slot = slotOf(partsOf(i))
                  codeSlots(code) = slot
                }
              } else slot = slotOf(partsOf(i))
              slotsBuf(i) = slot
              i += 1
            }
          }
        } else {
          // two keys: packed-long (code0,code1) cache when both columns
          // are dictionary-coded in this batch (the common parquet
          // case); rows with a NULL part or plain pages go composite
          while (i < n) {
            if (mask != null && !mask(i)) {
              slotsBuf(i) = -1
              i += 1
            } else {
              var slot = -1
              if (paired && !kv0.isNullAt(i) && !kv1.isNullAt(i)) {
                val packed =
                  (d0.getInt(i).toLong << 32) | (d1.getInt(i).toLong & 0xFFFFFFFFL)
                val hit = pairSlots.get(packed)
                if (hit >= 0) slot = hit
                else {
                  slot = slotOf(partsOf(i))
                  pairSlots.put(packed, slot)
                }
              } else slot = slotOf(partsOf(i))
              slotsBuf(i) = slot
              i += 1
            }
          }
        }
      }

      /** Run each spec's tight typed loop over the recorded slots. */
      def accumulate(): Unit = {
        var j = 0
        while (j < nSpecs) {
          val spec = specs(j)
          val l = accL(j); val d = accD(j); val c = accC(j)
          val vec = if (spec.vecIdx >= 0) vecs(spec.vecIdx) else null
          // this spec's own condition mask (sumIf/FILTER), or null
          val sm =
            if (specGroupIdx == null || specGroupIdx(j) < 0) null
            else groupMasks(specGroupIdx(j))
          spec.op match {
            case OpCountStar =>
              var i = 0
              while (i < n) {
                val s = slotsBuf(i)
                if (s >= 0 && (sm == null || sm(i))) c(s) += 1
                i += 1
              }
            case OpCountCol =>
              var i = 0
              while (i < n) {
                val s = slotsBuf(i)
                if (s >= 0 && (sm == null || sm(i)) && !vec.isNullAt(i)) c(s) += 1
                i += 1
              }
            // avg ALWAYS accumulates in Double — Spark's Average sums
            // every non-decimal numeric in Double and can never
            // overflow, so a Long accumulator here would crash (ANSI)
            // or silently wrap (legacy) where the native plan succeeds
            // (review r16)
            case OpAvg if spec.typ == TInt || spec.typ == TLong =>
              var i = 0
              while (i < n) {
                val s = slotsBuf(i)
                if (s >= 0 && (sm == null || sm(i)) && !vec.isNullAt(i)) {
                  d(s) += (if (spec.typ == TInt) vec.getInt(i).toDouble
                           else vec.getLong(i).toDouble)
                  c(s) += 1
                }
                i += 1
              }
            case OpSum | OpAvg => spec.typ match {
              case TInt =>
                var i = 0
                while (i < n) {
                  val s = slotsBuf(i)
                  if (s >= 0 && (sm == null || sm(i)) && !vec.isNullAt(i)) {
                    val x = vec.getInt(i).toLong
                    l(s) = if (spec.ansi) Math.addExact(l(s), x) else l(s) + x
                    c(s) += 1
                  }
                  i += 1
                }
              case TLong =>
                var i = 0
                while (i < n) {
                  val s = slotsBuf(i)
                  if (s >= 0 && (sm == null || sm(i)) && !vec.isNullAt(i)) {
                    val x = vec.getLong(i)
                    l(s) = if (spec.ansi) Math.addExact(l(s), x) else l(s) + x
                    c(s) += 1
                  }
                  i += 1
                }
              case TFloat =>
                var i = 0
                while (i < n) {
                  val s = slotsBuf(i)
                  if (s >= 0 && (sm == null || sm(i)) && !vec.isNullAt(i)) { d(s) += vec.getFloat(i); c(s) += 1 }
                  i += 1
                }
              case TDouble =>
                var i = 0
                while (i < n) {
                  val s = slotsBuf(i)
                  if (s >= 0 && (sm == null || sm(i)) && !vec.isNullAt(i)) { d(s) += vec.getDouble(i); c(s) += 1 }
                  i += 1
                }
            }
            case OpUniq =>
              if (accB(j) == null) accB(j) =
                new Array[org.roaringbitmap.longlong.Roaring64Bitmap](cap)
              val bmArr = accB(j)
              var i = 0
              while (i < n) {
                val sl = slotsBuf(i)
                if (sl >= 0 && (sm == null || sm(i)) && !vec.isNullAt(i)) {
                  var bm = bmArr(sl)
                  if (bm == null) {
                    bm = new org.roaringbitmap.longlong.Roaring64Bitmap()
                    bmArr(sl) = bm
                  }
                  bm.addLong(
                    if (spec.typ == TInt) vec.getInt(i).toLong else vec.getLong(i))
                }
                i += 1
              }
            case OpHll =>
              if (accH(j) == null) accH(j) = new Array[Array[Long]](cap)
              val hArr = accH(j)
              // the DataType drives the helper's xxHash — identical
              // bits to the native plan's hash of the same value
              val dt = spec.typ match {
                case TInt => IntegerType
                case TLong => LongType
                case TFloat => FloatType
                case TDouble => DoubleType
                case _ => org.apache.spark.sql.types.StringType
              }
              var i = 0
              while (i < n) {
                val sl = slotsBuf(i)
                if (sl >= 0 && (sm == null || sm(i)) && !vec.isNullAt(i)) {
                  var regs = hArr(sl)
                  if (regs == null) {
                    regs = new Array[Long](hllOf(j).numWords)
                    hArr(sl) = regs
                  }
                  val v: Any = spec.typ match {
                    case TInt => java.lang.Integer.valueOf(vec.getInt(i))
                    case TLong => java.lang.Long.valueOf(vec.getLong(i))
                    case TFloat => java.lang.Float.valueOf(vec.getFloat(i))
                    case TDouble => java.lang.Double.valueOf(vec.getDouble(i))
                    case _ => vec.getUTF8String(i)
                  }
                  hllOf(j).update(regs, v, dt)
                }
                i += 1
              }
            case OpMin | OpMax => spec.typ match {
              case TInt | TLong =>
                val isMin = spec.op == OpMin
                var i = 0
                while (i < n) {
                  val s = slotsBuf(i)
                  if (s >= 0 && (sm == null || sm(i)) && !vec.isNullAt(i)) {
                    val x = if (spec.typ == TInt) vec.getInt(i).toLong else vec.getLong(i)
                    if (c(s) == 0L || (if (isMin) x < l(s) else x > l(s))) l(s) = x
                    c(s) += 1
                  }
                  i += 1
                }
              case _ =>
                val isMin = spec.op == OpMin
                var i = 0
                while (i < n) {
                  val s = slotsBuf(i)
                  if (s >= 0 && (sm == null || sm(i)) && !vec.isNullAt(i)) {
                    val x = if (spec.typ == TFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
                    val cmp = java.lang.Double.compare(x, d(s))
                    if (c(s) == 0L || (if (isMin) cmp < 0 else cmp > 0)) d(s) = x
                    c(s) += 1
                  }
                  i += 1
                }
            }
          }
          j += 1
        }
      }

      resolveSlots()
      accumulate()
    }

    batches.foreach(processBatch)
    (0 until nGroups).iterator.map(slotRow)
  }

  /** Per-group merge state of [[DictAggMerger]]. */
  private final class MergeSt(val parts: Array[Array[Byte]], nSpecs: Int) {
    val l = new Array[Long](nSpecs)
    val d = new Array[Double](nSpecs)
    val c = new Array[Long](nSpecs)
    var bms: Array[org.roaringbitmap.longlong.Roaring64Bitmap] = null
    var hlls: Array[Array[Long]] = null
  }

  /** Driver-side fold of [[partial]] rows into FINAL rows — the merge
    * half of the single-stage plan. One pass over (groups × partitions)
    * tiny rows; finalization follows the native aggregates' per-op
    * contracts (null sum for all-NULL groups, LEGACY avg divide — null
    * on zero count, bitmap OR → cardinality). */
  final case class DictAggMerger(
      nKeys: Int,
      keyKinds: Array[Int],
      specs: Array[Spec],
      finalCols: Array[DriverMerge.FinalCol],
      globalIdentity: Boolean)
      extends DriverMerger {

    // per-spec HLL algebra, resolved driver-side from the spec's rsd
    @transient private lazy val hllOf: Array[HllRegisters.Hll] =
      specs.map(s => if (s.op == OpHll) HllRegisters.forRsd(s.hllRsd) else null)

    override def merge(rows: Iterator[Row]): Iterator[InternalRow] = {
      val nSpecs = specs.length
      val specOff = new Array[Int](nSpecs)
      var off = nKeys
      var j0 = 0
      while (j0 < nSpecs) { specOff(j0) = off; off += specs(j0).width; j0 += 1 }

      val byKey = new java.util.LinkedHashMap[UTF8String, MergeSt]()

      while (rows.hasNext) {
        val r = rows.next()
        val parts = new Array[Array[Byte]](nKeys)
        var k = 0
        while (k < nKeys) {
          parts(k) = r.get(k).asInstanceOf[Array[Byte]]; k += 1
        }
        val ck = compositeKey(parts)
        var st = byKey.get(ck)
        if (st == null) { st = new MergeSt(parts, nSpecs); byKey.put(ck, st) }
        var j = 0
        while (j < nSpecs) {
          val spec = specs(j)
          val at = specOff(j)
          spec.op match {
            case OpSum =>
              val v = r.get(at)
              if (v != null) {
                if (spec.typ == TInt || spec.typ == TLong) {
                  val x = v.asInstanceOf[java.lang.Long].longValue()
                  st.l(j) = if (spec.ansi) Math.addExact(st.l(j), x) else st.l(j) + x
                } else st.d(j) += v.asInstanceOf[java.lang.Double].doubleValue()
                st.c(j) += 1
              }
            case OpCountStar | OpCountCol =>
              st.c(j) += r.getLong(at)
            case OpMin | OpMax =>
              val v = r.get(at)
              if (v != null) {
                val isMin = spec.op == OpMin
                if (spec.typ == TInt || spec.typ == TLong) {
                  val x = v match {
                    case i: java.lang.Integer => i.longValue()
                    case l: java.lang.Long => l.longValue()
                  }
                  if (st.c(j) == 0L || (if (isMin) x < st.l(j) else x > st.l(j)))
                    st.l(j) = x
                } else {
                  val x = v match {
                    case f: java.lang.Float => f.doubleValue()
                    case d: java.lang.Double => d.doubleValue()
                  }
                  val cmp = java.lang.Double.compare(x, st.d(j))
                  if (st.c(j) == 0L || (if (isMin) cmp < 0 else cmp > 0))
                    st.d(j) = x
                }
                st.c(j) += 1
              }
            case OpAvg =>
              val s = r.get(at)
              if (s != null) st.d(j) += s.asInstanceOf[java.lang.Double].doubleValue()
              st.c(j) += r.getLong(at + 1)
            case OpUniq =>
              val blob = r.get(at).asInstanceOf[Array[Byte]]
              if (blob != null) {
                if (st.bms == null) st.bms =
                  new Array[org.roaringbitmap.longlong.Roaring64Bitmap](nSpecs)
                val bm = BitmapDistinct.deserialize(blob)
                if (st.bms(j) == null) st.bms(j) = bm else st.bms(j).or(bm)
              }
            case OpHll =>
              val blob = r.get(at).asInstanceOf[Array[Byte]]
              if (blob != null) {
                if (st.hlls == null) st.hlls = new Array[Array[Long]](nSpecs)
                val regs = hllOf(j).deserialize(blob)
                if (st.hlls(j) == null) st.hlls(j) = regs
                else hllOf(j).merge(st.hlls(j), regs)
              }
          }
          j += 1
        }
      }

      // a GLOBAL aggregate over zero partitions still yields one row
      if (byKey.isEmpty && globalIdentity)
        byKey.put(compositeKey(Array.empty), new MergeSt(Array.empty, nSpecs))

      val it = byKey.values().iterator()
      new Iterator[InternalRow] {
        override def hasNext: Boolean = it.hasNext
        override def next(): InternalRow = finalizeRow(it.next())
      }
    }

    /** UnsafeRowWriter's float normalization contract: -0.0 → +0.0,
      * every NaN → the canonical NaN. A shuffled aggregate gets this
      * for free when its state crosses an UnsafeRow boundary; the
      * driver merger must apply it explicitly or `min(d)` could surface
      * a -0.0 the native plan never shows. */
    private def normD(v: Double): Double =
      if (v != v) Double.NaN else if (v == 0.0d) 0.0d else v
    private def normF(v: Float): Float =
      if (v != v) Float.NaN else if (v == 0.0f) 0.0f else v

    /** One FINAL row from a merged group — catalyst values, same
      * per-op contracts as the native aggregates. */
    private def finalizeRow(st: MergeSt): InternalRow = {
      val vals = new Array[Any](finalCols.length)
      var i = 0
      while (i < finalCols.length) {
        val fc = finalCols(i)
        vals(i) =
          if (fc.isKey) {
            val p = st.parts(fc.idx)
            if (p == null) null
            else keyKinds(fc.idx) match {
              case KStr => UTF8String.fromBytes(p)
              // KInt covers Date (internal int days); KLong covers
              // Timestamp (internal long micros)
              case KInt => java.lang.Integer.valueOf(le8ToLong(p).toInt)
              case KLong => java.lang.Long.valueOf(le8ToLong(p))
            }
          } else {
            val j = fc.idx
            val spec = specs(j)
            spec.op match {
              case OpSum =>
                if (st.c(j) == 0L) null
                else if (spec.typ == TInt || spec.typ == TLong)
                  java.lang.Long.valueOf(st.l(j))
                else java.lang.Double.valueOf(normD(st.d(j)))
              case OpCountStar | OpCountCol => java.lang.Long.valueOf(st.c(j))
              case OpMin | OpMax =>
                if (st.c(j) == 0L) null
                else spec.typ match {
                  case TInt => java.lang.Integer.valueOf(st.l(j).toInt)
                  case TLong => java.lang.Long.valueOf(st.l(j))
                  case TFloat => java.lang.Float.valueOf(normF(st.d(j).toFloat))
                  case TDouble => java.lang.Double.valueOf(normD(st.d(j)))
                }
              case OpAvg =>
                // LEGACY divide: an all-NULL group merges to 0 count
                // and yields NULL, matching the direct path's Average
                if (st.c(j) == 0L) null
                else java.lang.Double.valueOf(normD(st.d(j) / st.c(j)))
              case OpUniq =>
                java.lang.Long.valueOf(
                  if (st.bms == null || st.bms(j) == null) 0L
                  else st.bms(j).getLongCardinality)
              case OpHll =>
                java.lang.Long.valueOf(
                  if (st.hlls == null || st.hlls(j) == null) 0L
                  else hllOf(j).cardinality(st.hlls(j)))
            }
          }
        i += 1
      }
      new GenericInternalRow(vals)
    }
  }

  /** The finalized data type of spec `j`'s driver-merge output. */
  private[plans] def mergedType(spec: Spec): DataType = spec.op match {
    case OpSum => if (spec.typ == TInt || spec.typ == TLong) LongType else DoubleType
    case OpCountStar | OpCountCol | OpUniq | OpHll => LongType
    case OpAvg => DoubleType
    case OpMin | OpMax => spec.typ match {
      case TInt => IntegerType
      case TLong => LongType
      case TFloat => FloatType
      case TDouble => DoubleType
    }
  }

  private[plans] def mergedNullable(spec: Spec): Boolean = spec.op match {
    case OpCountStar | OpCountCol | OpUniq | OpHll => false
    case _ => true
  }
}

/** The rewrite rule — see [[DictAgg]] for semantics and guardrails.
  * Injected by [[graft.dialect.GraftExtensions]], after
  * [[FooterAggregates]] and [[AggProjectionRewrite]] (a projection
  * reroute, when fresh, is strictly better than re-scanning; this rule
  * picks up the shapes no projection covers). */
case class DictAggRewrite(spark: SparkSession) extends DriverMergeRule
    with org.apache.spark.sql.catalyst.expressions.PredicateHelper {

  import DictAgg._

  override protected def switch = graft.service.Settings.DictAgg

  private def typeTag(dt: DataType): Option[Int] = dt match {
    case IntegerType => Some(TInt)
    case LongType => Some(TLong)
    case FloatType => Some(TFloat)
    case DoubleType => Some(TDouble)
    case _ => None
  }

  /** r17 key generalization: DateType rides KInt (internal int days),
    * TimestampType rides KLong (internal long micros). */
  private def keyKindOf(dt: DataType): Option[Int] = dt match {
    case StringType => Some(KStr)
    case IntegerType | DateType => Some(KInt)
    case LongType | TimestampType | TimestampNTZType => Some(KLong)
    case _ => None
  }

  /** Peel every Filter between the aggregate and the relation into
    * conjuncts (the kernel re-applies them exactly; the rebuilt scan
    * gets them pushed for row-group pruning). */
  private def decomposeFilters(p: LogicalPlan): (Seq[Expression], LogicalPlan) =
    p match {
      case org.apache.spark.sql.catalyst.plans.logical.Filter(cond, c) =>
        val (fs, leaf) = decomposeFilters(c)
        (splitConjunctivePredicates(cond) ++ fs, leaf)
      case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) =>
        decomposeFilters(c)
      case org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias(_, c) =>
        decomposeFilters(c)
      case other => (Nil, other)
    }

  private def predTypeOf(dt: DataType): Option[Int] = dt match {
    case IntegerType | DateType => Some(TInt)
    case LongType | TimestampType | TimestampNTZType => Some(TLong)
    case FloatType => Some(TFloat)
    case DoubleType => Some(TDouble)
    case StringType => Some(PTStr)
    case _ => None
  }

  /** One conjunct → (column name, Pred builder given the scan vecIdx),
    * or None if the shape is outside the kernel's predicate language —
    * the whole rewrite then stands down (never a partial filter). */
  private def classifyPred(
      child: LogicalPlan, e: Expression): Option[(String, Int => Pred)] = {
    import org.apache.spark.sql.catalyst.expressions._
    def col(a: AttributeReference): Option[String] = ScanRelations.resolve(child, a)
    def lits(a: AttributeReference, l: Literal, op: Int): Option[(String, Int => Pred)] = {
      if (l.value == null || l.dataType != a.dataType) return None
      val typ = predTypeOf(a.dataType).getOrElse(return None)
      val n = col(a).getOrElse(return None)
      typ match {
        case TInt =>
          val v = l.value.asInstanceOf[Int].toLong
          Some((n, idx => Pred(idx, typ, op, v, 0d, null)))
        case TLong =>
          val v = l.value.asInstanceOf[Long]
          Some((n, idx => Pred(idx, typ, op, v, 0d, null)))
        case TFloat =>
          val v = l.value.asInstanceOf[Float].toDouble
          Some((n, idx => Pred(idx, typ, op, 0L, v, null)))
        case TDouble =>
          val v = l.value.asInstanceOf[Double]
          Some((n, idx => Pred(idx, typ, op, 0L, v, null)))
        case PTStr =>
          val b = l.value.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
          Some((n, idx => Pred(idx, typ, op, 0L, 0d, b)))
      }
    }
    /** `col IN (…)` — NULL literals drop (see [[PIn]]); float/double
      * IN-lists stand down (ordering-equality edge cases are not worth
      * the kernel's while). */
    def inPred(a: AttributeReference, values: Iterable[Any]): Option[(String, Int => Pred)] = {
      val typ = predTypeOf(a.dataType).getOrElse(return None)
      if (typ == TFloat || typ == TDouble) return None
      val n = col(a).getOrElse(return None)
      val nonNull = values.filter(_ != null)
      if (typ == PTStr) {
        val bs = nonNull.map {
          case u: org.apache.spark.unsafe.types.UTF8String => u.getBytes
          case _ => return None
        }.toArray
        Some((n, idx => Pred(idx, typ, PIn, 0L, 0d, null, null, bs)))
      } else {
        val ls = nonNull.map {
          case i: java.lang.Integer => i.longValue()
          case l: java.lang.Long => l.longValue()
          case _ => return None
        }.toArray
        java.util.Arrays.sort(ls)
        Some((n, idx => Pred(idx, typ, PIn, 0L, 0d, null, ls, null)))
      }
    }
    def flip(op: Int): Int = op match {
      case PLt => PGt
      case PLe => PGe
      case PGt => PLt
      case PGe => PLe
      case other => other
    }
    e match {
      case IsNotNull(a: AttributeReference) =>
        col(a).map(n => (n, (idx: Int) => Pred(idx, TInt, PIsNotNull, 0L, 0d, null)))
      case IsNull(a: AttributeReference) =>
        col(a).map(n => (n, (idx: Int) => Pred(idx, TInt, PIsNull, 0L, 0d, null)))
      case EqualTo(a: AttributeReference, l: Literal) => lits(a, l, PEq)
      case EqualTo(l: Literal, a: AttributeReference) => lits(a, l, PEq)
      case Not(EqualTo(a: AttributeReference, l: Literal)) => lits(a, l, PNe)
      case Not(EqualTo(l: Literal, a: AttributeReference)) => lits(a, l, PNe)
      case LessThan(a: AttributeReference, l: Literal) => lits(a, l, PLt)
      case LessThan(l: Literal, a: AttributeReference) => lits(a, l, flip(PLt))
      case LessThanOrEqual(a: AttributeReference, l: Literal) => lits(a, l, PLe)
      case LessThanOrEqual(l: Literal, a: AttributeReference) => lits(a, l, flip(PLe))
      case GreaterThan(a: AttributeReference, l: Literal) => lits(a, l, PGt)
      case GreaterThan(l: Literal, a: AttributeReference) => lits(a, l, flip(PGt))
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) => lits(a, l, PGe)
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) => lits(a, l, flip(PGe))
      case In(a: AttributeReference, ls)
          if ls.nonEmpty && ls.forall {
            case lit: Literal => lit.dataType == a.dataType
            case _ => false
          } =>
        inPred(a, ls.map(_.asInstanceOf[Literal].value))
      case InSet(a: AttributeReference, hset) => inPred(a, hset)
      case StartsWith(a: AttributeReference, l: Literal)
          if a.dataType == StringType && l.value != null =>
        col(a).map { n =>
          val b = l.value.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
          (n, (idx: Int) => Pred(idx, PTStr, PStartsWith, 0L, 0d, b))
        }
      case _ => None
    }
  }

  override protected def tryRewrite(agg: Aggregate): Option[LogicalPlan] = {
    // up to FOUR group keys (r17b): 1 key rides the code→slot /
    // raw-value fast paths, 2 dict-coded string keys the packed-pair
    // cache, anything else the byte-composite map — still one scan,
    // one stage
    if (agg.groupingExpressions.size > 4) return None
    val gs = agg.groupingExpressions.map {
      case a: AttributeReference if keyKindOf(a.dataType).isDefined => a
      case _ => return None
    }
    val aggExprs = agg.aggregateExpressions
    val child = agg.child
    // r17: peel filters between the aggregate and the relation — every
    // conjunct must compile into the kernel's predicate language or
    // the rewrite stands down entirely
    val (conds, scanChild) = decomposeFilters(child)
    val src = ScanRelations.relationOf(scanChild).getOrElse(return None)
    val keyNames = gs.map(g =>
      ScanRelations.resolve(child, g).getOrElse(return None))
    val keyKinds: Array[Int] =
      gs.map(g => keyKindOf(g.dataType).getOrElse(return None)).toArray
    // compiled predicates (vecIdx filled after the scan is built) +
    // the attr→name map for rebuilding the pushdown condition. Filter
    // attrs resolve against the RELATION side (`scanChild`): the
    // column-pruning Project above a filter does not carry filter-only
    // columns, but projections are attr-transparent so the exprIds
    // reach the relation unchanged
    val predsRaw: Seq[(String, Int => Pred)] =
      conds.map(c => classifyPred(scanChild, c).getOrElse(return None))
    val attrNameOf: Map[Long, String] = conds.flatMap(_.collect {
      case a: AttributeReference =>
        a.exprId.id -> ScanRelations.resolve(scanChild, a).getOrElse(return None)
    }).toMap
    // the groupless spelling engages ONLY for the mixed shape — at
    // least one count(DISTINCT intCol) alongside at least one plain
    // aggregate (Spark's native plan pays an Expand there; see the
    // engagement guard after classification). Pure-plain globals keep
    // their codegen'd native plan; pure-distinct globals belong to
    // BitmapDistinctRewrite.

    val (aeList, aeIdx) = RewriteOutputs.aggregateCalls(aggExprs)

    val ansi = spark.conf.get("spark.sql.ansi.enabled", "true")
      .equalsIgnoreCase("true")

    // classify each aggregate → (input column name or None for count(*),
    // op, value type tag, compiled per-spec condition)
    final case class AggPlan(ae: AggregateExpression, op: Int,
        colName: Option[String], typ: Int,
        conds: Seq[Expression] = Nil,
        hllRsd: Double = HllRegisters.Rsd)
    def colOf(e: Expression): Option[String] = e match {
      case a: AttributeReference => ScanRelations.resolve(child, a)
      case _ => None
    }
    // r17b: conditional aggregates — `agg(If(cond, x, NULL))` (the -If
    // combinators' shape; NULL-skip makes the If a per-row gate) and
    // the SQL FILTER (WHERE …) clause both compile into a per-SPEC
    // predicate mask. Any conjunct outside the language stands the
    // whole rewrite down (native handles it).
    def unwrapIf(e: Expression): (Seq[Expression], Expression) = e match {
      case org.apache.spark.sql.catalyst.expressions.If(c, t, Literal(null, _)) =>
        (splitConjunctivePredicates(c), t)
      // the DataFrame `when(cond, x)` / SQL single-branch CASE spelling
      case org.apache.spark.sql.catalyst.expressions.CaseWhen(Seq((c, t)), None) =>
        (splitConjunctivePredicates(c), t)
      case org.apache.spark.sql.catalyst.expressions.CaseWhen(
          Seq((c, t)), Some(Literal(null, _))) =>
        (splitConjunctivePredicates(c), t)
      case other => (Nil, other)
    }
    val plans: Seq[AggPlan] = aeList.map { ae =>
      val filterConds: Seq[Expression] =
        ae.filter.map(splitConjunctivePredicates).getOrElse(Nil)
      if (ae.isDistinct) ae.aggregateFunction match {
        // grouped count(DISTINCT intCol): per-slot Roaring64 bitmap,
        // OR-merged by the driver merger
        case Count(Seq(a: AttributeReference))
            if a.dataType == IntegerType || a.dataType == LongType =>
          val n = colOf(a).getOrElse(return None)
          AggPlan(ae, OpUniq, Some(n),
            if (a.dataType == LongType) TLong else TInt, filterConds)
        case _ => return None
      }
      else ae.aggregateFunction match {
        case Count(cs) if cs.forall { case l: Literal => l.value != null; case _ => false } =>
          AggPlan(ae, OpCountStar, None, TLong, filterConds)
        case Count(Seq(e)) =>
          val (ifConds, v) = unwrapIf(e)
          v match {
            // countIf spelling: count(If(cond, lit, NULL)) counts the
            // cond-true rows
            case l: Literal if l.value != null && ifConds.nonEmpty =>
              AggPlan(ae, OpCountStar, None, TLong, filterConds ++ ifConds)
            case _ =>
              val n = colOf(v).getOrElse(return None)
              // count(col) only needs null-ness: the kernel reads
              // validity, never the value, so any vectorized-scannable
              // type works (scan.supportsColumnar below gates the rest)
              AggPlan(ae, OpCountCol, Some(n), TLong, filterConds ++ ifConds)
          }
        case s: Sum =>
          val (ifConds, v) = unwrapIf(s.child)
          val n = colOf(v).getOrElse(return None)
          AggPlan(ae, OpSum, Some(n), typeTag(v.dataType).getOrElse(return None),
            filterConds ++ ifConds)
        case m: Min =>
          val (ifConds, v) = unwrapIf(m.child)
          val n = colOf(v).getOrElse(return None)
          AggPlan(ae, OpMin, Some(n), typeTag(v.dataType).getOrElse(return None),
            filterConds ++ ifConds)
        case m: Max =>
          val (ifConds, v) = unwrapIf(m.child)
          val n = colOf(v).getOrElse(return None)
          AggPlan(ae, OpMax, Some(n), typeTag(v.dataType).getOrElse(return None),
            filterConds ++ ifConds)
        case a: Average =>
          val (ifConds, v) = unwrapIf(a.child)
          val n = colOf(v).getOrElse(return None)
          AggPlan(ae, OpAvg, Some(n), typeTag(v.dataType).getOrElse(return None),
            filterConds ++ ifConds)
        // the dialect's uniq()/uniqCombined() — HLL++ at any rsd whose
        // precision Spark's bias tables cover (r19; was default-rsd
        // only). The spec carries the rsd; registers size per spec.
        case h: org.apache.spark.sql.catalyst.expressions.aggregate.HyperLogLogPlusPlus
            if HllRegisters.supported(h.relativeSD) =>
          val (ifConds, v) = unwrapIf(h.child)
          val n = colOf(v).getOrElse(return None)
          val tag = v.dataType match {
            case IntegerType | DateType => TInt
            case LongType | TimestampType | TimestampNTZType => TLong
            case FloatType => TFloat
            case DoubleType => TDouble
            case StringType => TStr
            case _ => return None
          }
          AggPlan(ae, OpHll, Some(n), tag, filterConds ++ ifConds,
            hllRsd = h.relativeSD)
        case _ => return None
      }
    }

    // dedupe identical spec conditions (canonicalized): one compiled
    // group, ONE per-batch evaluation shared by every spec that carries
    // it — q231-style sumIf(x, c) + countIf(c) pay c once (review r17)
    val groupConds = scala.collection.mutable.ArrayBuffer.empty[Seq[Expression]]
    val groupKeyOf = scala.collection.mutable.HashMap.empty[String, Int]
    val specGroupIdx: Array[Int] = plans.map { p =>
      if (p.conds.isEmpty) -1
      else {
        val key = p.conds.map(_.canonicalized.toString).sorted.mkString(" && ")
        groupKeyOf.getOrElseUpdate(key,
          { groupConds += p.conds; groupConds.size - 1 })
      }
    }.toArray
    val groupPredsRaw: Seq[Seq[(String, Int => Pred)]] =
      groupConds.toSeq.map(_.map(c => classifyPred(child, c).getOrElse(return None)))

    if (gs.isEmpty) {
      val hasUniq = plans.exists(_.op == OpUniq)
      val hasHll = plans.exists(_.op == OpHll)
      val mixed = (hasUniq || hasHll) &&
        plans.exists(p => p.op != OpUniq && p.op != OpHll)
      // the groupless spelling engages for the MIXED shape (native pays
      // an Expand there) and — r17 — for FILTERED pure-distinct (native
      // plans 3 shuffle-bound stages; the kernel masks and bitmaps in
      // one). UNFILTERED pure-distinct stays with BitmapDistinctRewrite
      // (its dense-bitset state beats per-slot Roaring); pure-plain
      // globals keep their codegen'd native plan.
      // pure-HLL globals engage too: the native plan still pays a
      // partial→exchange→final round for a 400-byte sketch
      if (!mixed && !hasHll && !(hasUniq && conds.nonEmpty)) return None
    }

    // ---- build the columnar scan over exactly the needed columns ----
    val neededNames =
      (keyNames ++ plans.flatMap(_.colName) ++ predsRaw.map(_._1) ++
        groupPredsRaw.flatten.map(_._1)).distinct
    val mkFilter: Option[Map[String, Attribute] => Expression] =
      if (conds.isEmpty) None
      else Some(byName => conds.map(_.transform {
        case a: AttributeReference => byName(attrNameOf(a.exprId.id))
      }).reduce(org.apache.spark.sql.catalyst.expressions.And(_, _)))
    // planned-scan cache (r18): unfiltered repeats skip the ~30 ms
    // sub-scan planning; filtered shapes plan fresh (no stable key)
    val (batchRdd, scanOut) =
      ScanRelations.columnarBatches(spark, src, neededNames, mkFilter)
        .getOrElse(return None)
    val keyIdxs = keyNames.map(n => scanOut.indexWhere(_.name == n)).toArray
    if (keyIdxs.exists(_ < 0)) return None
    val specs: Array[Spec] = plans.map { p =>
      val vecIdx = p.colName.map(n => scanOut.indexWhere(_.name == n)).getOrElse(-1)
      if (p.colName.isDefined && vecIdx < 0) return None
      Spec(p.op, vecIdx, p.typ, ansi, p.hllRsd)
    }.toArray
    val preds: Array[Pred] = predsRaw.map { case (n, mk) =>
      val vecIdx = scanOut.indexWhere(_.name == n)
      if (vecIdx < 0) return None
      mk(vecIdx)
    }.toArray
    val specPredGroups: Array[Array[Pred]] = groupPredsRaw.map { g =>
      g.map { case (n, mk) =>
        val vecIdx = scanOut.indexWhere(_.name == n)
        if (vecIdx < 0) return None
        mk(vecIdx)
      }.toArray
    }.toArray

    // per-partition cap sized so the collected volume stays bounded
    // regardless of cluster width: partitions × cap ≤ maxTotalRows.
    // At 32 partitions that is 64k groups/partition; at 100k scan
    // splits the cap shrinks to ~40 and a non-LC key fails fast into
    // the native plan instead of flooding the driver.
    val parts = math.max(1, batchRdd.getNumPartitions)
    val dmCapRows = math.min(DriverMergeGroupCap.toLong,
      graft.service.Settings.DriverMergeMaxTotalRows(spark) / parts).toInt
    // r19: OpHll registers are fixed-size but can be BIG (precision 17
    // — the uniqCombined class — is ~105 KB/slot vs ~416 B at the
    // default rsd), so the gather is bounded in BYTES too: partitions
    // × cap × per-slot register bytes ≤ hllGatherBytes (floored at 16;
    // past the cap the overflow fails fast into the native plan, which
    // shuffles sketches instead of gathering them).
    val hllBytesPerSlot = specs.collect {
      case s if s.op == OpHll => HllRegisters.forRsd(s.hllRsd).numWords * 8L
    }.sum
    val dmCap =
      if (hllBytesPerSlot == 0L) dmCapRows
      else math.min(dmCapRows.toLong, math.max(16L,
        graft.service.Settings.DictAggHllGatherBytes(spark) / (parts * hllBytesPerSlot))).toInt
    // a cap this small would overflow on almost any key: the native
    // plan runs instead
    if (dmCap < 16) return None

    val rowRdd: RDD[Row] = batchRdd.mapPartitions(it =>
      DictAgg.partial(it, keyIdxs, keyKinds, specs, preds, specPredGroups,
        specGroupIdx, dmCap))
    DriverMerge.plan(agg, aggExprs, gs,
      specs.map(s => (mergedType(s), mergedNullable(s))).toSeq, aeIdx,
      rowRdd, src,
      cols => DictAggMerger(gs.size, keyKinds, specs, cols, gs.isEmpty))
      .map { p =>
        engagements.incrementAndGet()
        logInfo(s"dictAgg: single-stage driver-merge GROUP BY " +
          s"${keyNames.mkString(", ")} (${specs.length} aggregates, " +
          s"${preds.length} predicates, cap $dmCap × $parts partitions)")
        p
      }
  }
}
