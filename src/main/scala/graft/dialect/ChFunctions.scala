package graft.dialect

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.graft.FunctionShim
import org.apache.spark.sql.types._

import graft.functions.CityHash64Expr

/** ClickHouse-compat function surface, registered as native Catalyst
  * expression builders (never UDFs — everything stays codegen-able).
  *
  * The names cover what the reference demonstrably exercises plus the
  * common CH idioms a user would hit first (SURVEY §2.2 P5/P6, §2.3
  * A4/A7): `cityHash64` (`README.md:59`), `uniq`/`uniqExact`
  * (`README.md:57`), conditional/If-combinator aggregates, `toDate`-style
  * casts, `multiIf`, `arrayJoin` (`explode`).
  */
object ChFunctions {

  /** hostName()'s answer, resolved once — getLocalHost can take ms
    * per call and builders run during every query's analysis. */
  private lazy val cachedHostName: String =
    try java.net.InetAddress.getLocalHost.getHostName
    catch { case _: Exception => "localhost" }

  /** Every ClickHouse-named function as (name, native-expression
    * builder), injected into every session by [[GraftExtensions]]. */
  lazy val builders: Seq[(String, Seq[Expression] => Expression)] = {
    val out = Seq.newBuilder[(String, Seq[Expression] => Expression)]
    def reg(name: String)(b: Seq[Expression] => Expression): Unit = out += (name -> b)

    reg("cityHash64")(exprs => CityHash64Expr(exprs))
      // CH xxHash64/xxHash32 (reference XXH at seed 0 — NOT Spark's
      // seed-42 xxhash64). Dialect text routes here via the
      // rewriteConflictingFunctions pre-pass so Spark's own xxhash64
      // keeps its semantics on non-dialect queries of the same session.
      reg("chXxHash64")({ case Seq(x) => graft.functions.XxHashChExpr(x, 64) })
      reg("chXxHash32")({ case Seq(x) => graft.functions.XxHashChExpr(x, 32) })
      // SipHash-2-4, zero key — CH's default sharding/sampling hash
      reg("sipHash64")({ case Seq(x) => graft.functions.SipHash64Expr(x) })

      // approximate distinct — HLL++, the same sketch family as CH uniq
      reg("uniq")(exprs => new HyperLogLogPlusPlus(exprs.head))
      // uniqCombined/uniqCombined64 — CH's higher-accuracy class: HLL
      // precision 17 by default (~0.3% rsd vs uniq's ~5%), and the
      // parametric `uniqCombined(p)(x)` spelling (pre-pass delivers it
      // as (x, p)). CH admits p in [12, 20]; Spark's HLL++ bias tables
      // stop at 18, so 19/20 saturate there (same estimate class, the
      // deviation documented here). uniqCombined64's 64-bit-hash
      // distinction is moot: the helper always hashes via xxHash64.
      // Both ride the DictAgg kernel (r19 — per-spec register sizing).
      def uniqCombinedAt(exprs: Seq[Expression]): Expression = exprs match {
        case Seq(x) =>
          new HyperLogLogPlusPlus(x, graft.plans.HllRegisters.rsdForPrecision(17))
        case Seq(x, Literal(p: Int, IntegerType)) =>
          require(p >= 12 && p <= 20,
            s"uniqCombined precision must be in [12, 20], got $p")
          new HyperLogLogPlusPlus(
            x, graft.plans.HllRegisters.rsdForPrecision(math.min(p, 18)))
        case other => throw new IllegalArgumentException(
          s"uniqCombined expects (x) or (precision)(x), got ${other.length} args")
      }
      reg("uniqCombined")(uniqCombinedAt)
      reg("uniqCombined64")(uniqCombinedAt)
      // exact distinct
      reg("uniqExact")(exprs => Count(exprs).toAggregateExpression(isDistinct = true))

      // -State/-Merge combinators for uniq: a RE-AGGREGATABLE sketch,
      // CH's partial-aggregation contract
      // (`workflow_query_executor.go:313` passes these through to CH).
      // The state is a DataSketches HLL buffer (binary) — not CH's wire
      // format, but the same algebra: uniqState produces a mergeable
      // sketch per group, uniqMerge unions sketches and estimates.
      // Merging per-group sketches yields the IDENTICAL register state
      // (and therefore estimate) as one direct pass — pinned by test.
      reg("uniqState")(exprs => new HllSketchAgg(exprs.head))
      reg("uniqMerge")(exprs =>
        HllSketchEstimate(new HllUnionAgg(exprs.head).toAggregateExpression()))
      reg("uniqHLL12")(exprs => new HyperLogLogPlusPlus(exprs.head))
      // uniqUpTo(N)(x): exact while ≤ N distinct, N+1 past the cap
      reg("uniqUpTo")({ case Seq(x, n) =>
        Least(Seq(
          Count(Seq(x)).toAggregateExpression(isDistinct = true),
          Cast(Add(n, Literal(1)), LongType)))
      })
      // groupArray(x) — CH's collect-into-array (order is arrival order,
      // engine-defined like CH's)
      reg("groupArray")(exprs => CollectList(exprs.head))
      // groupArraySorted(n)(x) → (x, n) via the parametric pre-pass: the
      // n SMALLEST values, sorted. Deterministic (unlike groupArray).
      // State caveat vs CH: this collects the group then sorts/slices —
      // per-group memory is the group size, not n; at corpus scale
      // bound the group first or use topK-style shapes.
      reg("groupArraySorted")({ case Seq(x, n) =>
        Slice(new ArraySort(CollectList(x).toAggregateExpression()),
          Literal(1), Cast(n, IntegerType))
      })
      // groupArrayLast(n)(x) — the LAST n values in arrival order
      // (r19b); negative-start slice, whole array when it fits
      reg("groupArrayLast")({ case Seq(x, n) =>
        val arr = CollectList(x).toAggregateExpression()
        val nn = Cast(n, IntegerType)
        If(LessThanOrEqual(Size(arr), nn), arr,
          Slice(arr, UnaryMinus(nn), nn))
      })

      // groupArrayMovingSum/Avg(x[, n]): running (windowed) sums/avgs in
      // the group's arrival order — same engine-defined ordering caveat
      // as groupArray, same Int64 sum accumulator as arraySum, O(n²)
      // slice+fold per group (a surface function, not a scan operator)
      // ArrayAggregate's zero and merge types must MATCH the element
      // type (no implicit cast is applied there): a hardcoded 0L fails
      // analysis on Float64/Decimal columns (advisor r7). Deriving the
      // zero from the data — first element × 0L — types it per input
      // AND applies CH's sum-type promotion: integer elements widen to
      // Int64 (no ANSI overflow on Int32 sums), fractional/decimal stay
      // fractional. The Coalesce keeps the zero NON-NULL for EMPTY
      // arrays (element_at on [] is NULL), so arraySum([]) folds to 0
      // like ClickHouse (advisor r8); a NULL array still yields NULL
      // because ArrayAggregate is null-intolerant on the array itself.
      def typedZero(arr: Expression): Expression =
        Coalesce(Seq(
          Multiply(new ElementAt(arr, Literal(1), None, false), Literal(0L)),
          Literal(0L)))

      def movingAgg(x: Expression, nOpt: Option[Expression],
                    finish: (Expression, Expression, Expression) => Expression): Expression = {
        val arr = CollectList(x).toAggregateExpression()
        val e = lv("eMV"); val i = lv("iMV")
        val acc = lv("accMV"); val y = lv("yMV"); val f = lv("fMV")
        ArrayTransform(arr, LambdaFunction({
          val from = nOpt match {
            case Some(n) => Greatest(Seq(Literal(1),
              Subtract(Add(i, Literal(2)), Cast(n, IntegerType))))
            case None => Literal(1)
          }
          val len = Subtract(Add(i, Literal(2)), from)
          val winSum = ArrayAggregate(Slice(arr, from, len), typedZero(arr),
            LambdaFunction(Add(acc, y), Seq(acc, y)),
            LambdaFunction(f, Seq(f)))
          finish(winSum, len, arr)
        }, Seq(e, i)))
      }
      reg("groupArrayMovingSum")({
        case Seq(x) => movingAgg(x, None, (s, _, _) => s)
        case Seq(x, n) => movingAgg(x, Some(n), (s, _, _) => s)
      })
      // CH divides by the WINDOW SIZE even for incomplete leading
      // windows (group size when no window given); we keep that divisor
      // but return Float64 where CH truncates integer inputs
      reg("groupArrayMovingAvg")({
        case Seq(x) =>
          val out = movingAgg(x, None, (s, _, arrRef) =>
            Divide(Cast(s, DoubleType), Cast(Size(arrRef), DoubleType)))
          out
        case Seq(x, n) => movingAgg(x, Some(n),
          (s, _, _) => Divide(Cast(s, DoubleType), Cast(n, DoubleType)))
      })

      // -State/-Merge for the ALGEBRAIC aggregates: their partial state
      // is expressible in plain SQL types (a sum's state IS a sum, a
      // count's state is a count merged by summing, an avg's state is
      // the (sum, count) pair), so the combinators compose from native
      // aggregates with no opaque buffer
      reg("sumState")(exprs => Sum(exprs.head))
      reg("sumMerge")(exprs => Sum(exprs.head))
      reg("countState")(exprs => Count(exprs))
      reg("countMerge")(exprs => Sum(exprs.head))
      reg("minState")(exprs => Min(exprs.head))
      reg("minMerge")(exprs => Min(exprs.head))
      reg("maxState")(exprs => Max(exprs.head))
      reg("maxMerge")(exprs => Max(exprs.head))
      reg("avgState")({ case Seq(x) =>
        CreateNamedStruct(Seq(
          Literal("sum"), Sum(x).toAggregateExpression(),
          Literal("count"), Count(Seq(x)).toAggregateExpression()))
      })
      reg("avgMerge")({ case Seq(s) =>
        Divide(
          Sum(org.apache.spark.sql.catalyst.analysis
            .UnresolvedExtractValue(s, Literal("sum"))).toAggregateExpression(),
          Cast(Sum(org.apache.spark.sql.catalyst.analysis
            .UnresolvedExtractValue(s, Literal("count"))).toAggregateExpression(),
            DoubleType))
      })

      // If-combinators: CH `aggIf(x, cond)` — aggregate over rows where
      // cond holds. Spark aggs skip NULLs, so route through If(cond,x,null).
      def ifArm(x: Expression, cond: Expression): Expression =
        If(cond, x, Literal(null))
      reg("sumIf")(
        { case Seq(x, cond) => Sum(ifArm(x, cond)) })
      reg("countIf")(
        { case Seq(cond) => Count(Seq(ifArm(Literal(1), cond))) })
      reg("avgIf")(
        { case Seq(x, cond) => Average(ifArm(x, cond)) })
      reg("minIf")(
        { case Seq(x, cond) => Min(ifArm(x, cond)) })
      reg("maxIf")(
        { case Seq(x, cond) => Max(ifArm(x, cond)) })
      reg("uniqIf")(
        { case Seq(x, cond) => new HyperLogLogPlusPlus(ifArm(x, cond)) })
      reg("uniqExactIf")({ case Seq(x, cond) =>
        Count(Seq(ifArm(x, cond))).toAggregateExpression(isDistinct = true) })

      // bitwise aggregates (CH groupBit* family) — native mergeable aggs
      reg("groupBitAnd")(exprs => BitAndAgg(exprs.head))
      reg("groupBitOr")(exprs => BitOrAgg(exprs.head))
      reg("groupBitXor")(exprs => BitXorAgg(exprs.head))

      // anyLast(x) — CH "last seen value". CH's `any`/`position` are NOT
      // registered here: both names shadow standard Spark functions
      // (`any` = bool_or aggregate, `position(substr IN str)`), which
      // would silently change behavior for non-dialect queries sharing
      // the session. The CH spellings are handled by the [[ChSql]]
      // pre-pass instead (any → any_value, position → instr), so only
      // dialect-routed text sees them.
      reg("anyLast")(exprs => new Last(exprs.head))

      // multiIf(c1,v1, c2,v2, …, else)
      reg("multiIf")({ exprs =>
        require(exprs.length >= 3 && exprs.length % 2 == 1,
          "multiIf needs cond,value pairs plus an else")
        val branches = exprs.dropRight(1).grouped(2).map(p => (p(0), p(1))).toSeq
        CaseWhen(branches, Some(exprs.last))
      })

      // lateral array expansion — CH arrayJoin ↔ Spark explode (Generator)
      reg("arrayJoin")(exprs => Explode(exprs.head))

      // CH higher-order array functions: lambda comes FIRST in CH
      // (`arrayMap(x -> x*2, arr)`); Spark's parser hands us the parsed
      // LambdaFunction, we re-seat it in Spark's arg order
      reg("arrayMap")({ case Seq(f, arr) => ArrayTransform(arr, f) })
      reg("arrayFilter")({ case Seq(f, arr) => ArrayFilter(arr, f) })
      reg("arrayExists")({ case Seq(f, arr) => ArrayExists(arr, f) })
      reg("arrayDistinct")(exprs => ArrayDistinct(exprs.head))
      reg("arraySort")(exprs => new ArraySort(exprs.head))
      reg("has")({ case Seq(arr, x) => ArrayContains(arr, x) })
      reg("arrayAll")({ case Seq(f, arr) => ArrayForAll(arr, f) })
      // arrayCount: the analyzer requires any expression containing a
      // parser-supplied lambda to have a HigherOrderFunction ROOT, so
      // the count is an aggregate over the filtered array, not
      // Size(ArrayFilter(…))
      def countElems(arr: Expression): Expression = {
        val acc = lv("accC"); val x = lv("xC"); val f = lv("fC")
        ArrayAggregate(arr, Literal(0),
          LambdaFunction(Add(acc, Literal(1)), Seq(acc, x)),
          LambdaFunction(f, Seq(f)))
      }
      reg("arrayCount")({
        // arrayCount(arr): non-zero elements; arrayCount(f, arr): matches
        case Seq(arr) =>
          val x = lv("xC0")
          countElems(ArrayFilter(arr, LambdaFunction(
            Not(EqualTo(x, Literal(0))), Seq(x))))
        case Seq(f, arr) => countElems(ArrayFilter(arr, f))
      })
      // arrayFirst/arrayLast(f, arr): first/last matching element, NULL
      // if none. Same HOF-ROOT constraint as arrayCount — the result is
      // an ArrayAggregate over the filtered array (array-typed
      // accumulator carries "found"; the finish lambda unwraps)
      def firstElem(arr: Expression): Expression = {
        val acc = lv("accFst"); val x = lv("xFst"); val fin = lv("fFst")
        ArrayAggregate(arr, Slice(arr, Literal(1), Literal(0)),
          LambdaFunction(
            If(GreaterThan(Size(acc), Literal(0)), acc, CreateArray(Seq(x))),
            Seq(acc, x)),
          LambdaFunction(
            If(GreaterThan(Size(fin), Literal(0)),
              ElementAt(fin, Literal(1)), Literal(null)),
            Seq(fin)))
      }
      reg("arrayFirst")({ case Seq(f, arr) => firstElem(ArrayFilter(arr, f)) })
      reg("arrayLast")({ case Seq(f, arr) => firstElem(Reverse(ArrayFilter(arr, f))) })
      // index twins (r19b). Same HOF-ROOT constraint as arrayCount, so
      // the whole thing is ONE ArrayAggregate over per-position match
      // markers; the user lambda's body inlines with its parameter
      // substituted (pre-binding lambda variables are named, so the
      // substitution is purely syntactic). No match answers 0 (CH).
      def inlineLambda(f: Expression, arg: Expression): Expression = f match {
        case LambdaFunction(body, Seq(p: UnresolvedNamedLambdaVariable), _) =>
          body.transformUp {
            case v: UnresolvedNamedLambdaVariable
                if v.nameParts == p.nameParts => arg
          }
        case other => throw new IllegalArgumentException(
          s"expected a one-argument lambda, got $other")
      }
      def matchIndexes(f: Expression, arr: Expression): Expression = {
        val x = lv("xMIdx"); val i = lv("iMIdx")
        ArrayTransform(arr, LambdaFunction(
          If(Cast(inlineLambda(f, x), BooleanType),
            Add(Cast(i, LongType), Literal(1L)), Literal(0L)),
          Seq(x, i)))
      }
      reg("arrayFirstIndex")({ case Seq(f, arr) =>
        val acc = lv("accFIdx"); val m = lv("mFIdx"); val fin = lv("fFIdx")
        ArrayAggregate(matchIndexes(f, arr), Literal(0L),
          LambdaFunction(
            If(And(EqualTo(acc, Literal(0L)), GreaterThan(m, Literal(0L))),
              m, acc), Seq(acc, m)),
          LambdaFunction(fin, Seq(fin)))
      })
      reg("arrayLastIndex")({ case Seq(f, arr) =>
        val acc = lv("accLIdx"); val m = lv("mLIdx"); val fin = lv("fLIdx")
        ArrayAggregate(matchIndexes(f, arr), Literal(0L),
          LambdaFunction(
            If(GreaterThan(m, Literal(0L)), m, acc), Seq(acc, m)),
          LambdaFunction(fin, Seq(fin)))
      })
      reg("arrayWithConstant")({ case Seq(n, x) =>
        ArrayRepeat(x, Cast(n, IntegerType)) })
      // arrayFill(f, arr): where f answers false the element copies
      // its left neighbor (the first element always stays) — a
      // sequential struct fold like arrayCumSumNonNegative, user
      // lambda inlined; reverse form runs over the reversed array
      def fillFold(f: Expression, arr: Expression,
          reverseOut: Boolean = false): Expression = {
        val acc = lv("accAF"); val e = lv("eAF")
        import org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue
        val last = UnresolvedExtractValue(acc, Literal("c"))
        val out = UnresolvedExtractValue(acc, Literal("r"))
        val keep = Cast(inlineLambda(f, e), BooleanType)
        // seed c with a TYPED null (max of an empty slice) — the root
        // must stay the ArrayAggregate itself (HOF-root constraint),
        // so no If-guard and no element_at on a possibly-empty array.
        // First element: keep OR null-seed both take e.
        val v = If(Or(keep, IsNull(last)), e, last)
        ArrayAggregate(arr,
          CreateNamedStruct(Seq(
            Literal("c"), ArrayMax(Slice(arr, Literal(1), Literal(0))),
            Literal("r"), Slice(arr, Literal(1), Literal(0)))),
          LambdaFunction(CreateNamedStruct(Seq(
            Literal("c"), v,
            Literal("r"), Concat(Seq(out, CreateArray(Seq(v)))))),
            Seq(acc, e)),
          // the un-reverse lives INSIDE the finish lambda so the
          // expression root stays the HOF
          LambdaFunction(if (reverseOut) Reverse(out) else out, Seq(acc)))
      }
      reg("arrayFill")({ case Seq(f, arr) => fillFold(f, arr) })
      reg("arrayReverseFill")({ case Seq(f, arr) =>
        fillFold(f, Reverse(arr), reverseOut = true) })
      // elements in the union but not the intersection (folds n-ary)
      reg("arraySymmetricDifference")({ case arrs if arrs.length >= 2 =>
        val union = arrs.reduceLeft((a, b) => ArrayUnion(a, b))
        val inter = arrs.reduceLeft((a, b) => ArrayIntersect(a, b))
        ArrayExcept(union, inter)
      })
      reg("arrayEnumerate")(exprs =>
        new Sequence(Literal(1), Size(exprs.head)))
      reg("arrayReverse")(exprs => Reverse(exprs.head))
      reg("arraySlice")({
        case Seq(arr, off) =>
          Slice(arr, off, Subtract(Add(Size(arr), Literal(1)), off))
        case Seq(arr, off, len) => Slice(arr, off, len)
      })
      reg("arrayStringConcat")({
        case Seq(arr) => ArrayJoin(arr, Literal(""), None)
        case Seq(arr, sep) => ArrayJoin(arr, sep, None)
      })
      reg("arrayFlatten")(exprs => Flatten(exprs.head))
      reg("arrayConcat")(exprs => Concat(exprs))
      reg("arrayUniq")(exprs => Size(ArrayDistinct(exprs.head)))
      reg("indexOf")({ case Seq(arr, x) => ArrayPosition(arr, x) })
      // hasAll(a, b): every element of b occurs in a — set containment,
      // expressed without a lambda (b \ a empty)
      reg("hasAll")({ case Seq(a, b) =>
        EqualTo(Size(ArrayExcept(b, a)), Literal(0)) })
      reg("hasAny")({ case Seq(a, b) => ArraysOverlap(a, b) })
      // countEqual(arr, x): occurrences of x — size delta after removal
      reg("countEqual")({ case Seq(arr, x) =>
        Subtract(Size(arr), Size(ArrayRemove(arr, x))) })
      reg("arrayZip")(exprs => ArraysZip(exprs))
      // arrayCompact: drop CONSECUTIVE duplicates (CH semantics, not
      // distinct) — keep element i iff i == 0 or it differs from its
      // predecessor; the 2-arg filter lambda indexes back into the array
      reg("arrayCompact")({ case Seq(arr) =>
        val x = lv("xAC"); val i = lv("iAC")
        ArrayFilter(arr, LambdaFunction(
          Or(EqualTo(i, Literal(0)),
            Not(EqualTo(x, ElementAt(arr, i)))), // element_at is 1-based: i = predecessor
          Seq(x, i)))
      })
      // arrayDifference: d[0] = 0, d[i] = x[i] - x[i-1]
      reg("arrayDifference")({ case Seq(arr) =>
        val x = lv("xAD"); val i = lv("iAD")
        ArrayTransform(arr, LambdaFunction(
          If(EqualTo(i, Literal(0)), Literal(0),
            Subtract(x, ElementAt(arr, i))),
          Seq(x, i)))
      })
      // arrayCumSum: prefix sums — O(n²) slice+reduce per element, fine
      // for the row-local array sizes this surface serves
      reg("arrayCumSum")({ case Seq(arr) =>
        val x = lv("xCS"); val i = lv("iCS")
        val acc = lv("accCS"); val e = lv("eCS")
        ArrayTransform(arr, LambdaFunction(
          ArrayAggregate(
            Slice(arr, Literal(1), Add(i, Literal(1))),
            typedZero(arr),
            LambdaFunction(Add(acc, e), Seq(acc, e)),
            LambdaFunction(acc, Seq(acc))),
          Seq(x, i)))
      })
      // arrayCumSumNonNegative: the clamped running sum is SEQUENTIAL
      // (each step depends on the clamped previous — prefix sums can't
      // express it), so a single left fold carries (last, out) in a
      // struct; the empty typed array zero is Slice(arr, 1, 0) and the
      // element-typed floor is typedZero (r19b)
      reg("arrayCumSumNonNegative")({ case Seq(arr) =>
        import org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue
        val acc = lv("accCN"); val e = lv("eCN")
        val last = UnresolvedExtractValue(acc, Literal("c"))
        val out = UnresolvedExtractValue(acc, Literal("r"))
        val step = Greatest(Seq(Add(last, e), typedZero(arr)))
        // the zero's array must already carry the WIDENED element type
        // (int arrays fold in Int64) or the fold's accumulator type
        // mismatches — widen via a transform before the empty slice
        val w = lv("wCN")
        val emptyWidened = Slice(
          ArrayTransform(arr,
            LambdaFunction(Add(w, typedZero(arr)), Seq(w))),
          Literal(1), Literal(0))
        ArrayAggregate(arr,
          CreateNamedStruct(Seq(
            Literal("c"), typedZero(arr),
            Literal("r"), emptyWidened)),
          LambdaFunction(CreateNamedStruct(Seq(
            Literal("c"), step,
            Literal("r"), Concat(Seq(out, CreateArray(Seq(step)))))),
            Seq(acc, e)),
          LambdaFunction(out, Seq(acc)))
      })
      // arrayProduct → Float64, CH's contract
      reg("arrayProduct")({ case Seq(arr) =>
        val acc = lv("accAP"); val e = lv("eAP"); val f = lv("fAP")
        ArrayAggregate(
          ArrayTransform(arr, LambdaFunction(
            Cast(lv("xAP"), DoubleType), Seq(lv("xAP")))),
          Literal(1.0d),
          LambdaFunction(Multiply(acc, e), Seq(acc, e)),
          LambdaFunction(f, Seq(f)))
      })
      // arrayShuffle — Spark's own non-deterministic Shuffle
      reg("arrayShuffle")(exprs => new Shuffle(exprs.head))

      // arithmetic under CH's function-call spellings
      reg("plus")({ case Seq(a, b) => Add(a, b) })
      reg("minus")({ case Seq(a, b) => Subtract(a, b) })
      reg("multiply")({ case Seq(a, b) => Multiply(a, b) })
      reg("divide")({ case Seq(a, b) => Divide(a, b) })
      reg("intDiv")({ case Seq(a, b) => IntegralDivide(a, b) })
      reg("modulo")({ case Seq(a, b) => Remainder(a, b) })
      // zero-divisor-safe variants (CH returns 0 instead of erroring —
      // Spark ANSI mode would throw on the plain forms)
      reg("intDivOrZero")({ case Seq(a, b) =>
        If(EqualTo(b, Literal(0L)), Literal(0L),
          IntegralDivide(a, If(EqualTo(b, Literal(0L)), Literal(1L), b)))
      })
      reg("moduloOrZero")({ case Seq(a, b) =>
        If(EqualTo(b, Literal(0L)), Literal(0L),
          Remainder(a, If(EqualTo(b, Literal(0L)), Literal(1L), b)))
      })
      reg("divideOrZero")({ case Seq(a, b) =>
        If(EqualTo(Cast(b, DoubleType), Literal(0.0)), Literal(0.0),
          Divide(Cast(a, DoubleType),
            If(EqualTo(Cast(b, DoubleType), Literal(0.0)), Literal(1.0),
              Cast(b, DoubleType))))
      })
      reg("ifNotFinite")({ case Seq(x, alt) =>
        val d = Cast(x, DoubleType)
        If(Or(IsNaN(d), Or(EqualTo(d, Literal(Double.PositiveInfinity)),
          EqualTo(d, Literal(Double.NegativeInfinity)))), alt, d)
      })

      // time conversions
      reg("toUnixTimestamp")(exprs =>
        UnixTimestamp(exprs.head, Literal("yyyy-MM-dd HH:mm:ss")))
      reg("fromUnixTimestamp")(exprs =>
        Cast(SecondsToTimestamp(exprs.head), TimestampType))

      // to* casts (CH names); unsigned targets widen per SURVEY §1.2
      def cast(dt: DataType): Seq[Expression] => Expression =
        exprs => Cast(exprs.head, dt)
      reg("toDate")(cast(DateType))
      reg("toDateTime")(cast(TimestampType))
      reg("toString")(cast(StringType))
      reg("toInt8")(cast(ByteType))
      reg("toInt16")(cast(ShortType))
      reg("toInt32")(cast(IntegerType))
      reg("toInt64")(cast(LongType))
      reg("toUInt8")(cast(ShortType))
      reg("toUInt16")(cast(IntegerType))
      reg("toUInt32")(cast(LongType))
      reg("toUInt64")(cast(LongType))
      reg("toFloat32")(cast(FloatType))
      reg("toFloat64")(cast(DoubleType))

      // string predicates CH users reach for first
      reg("empty")(
        exprs => EqualTo(Length(exprs.head), Literal(0)))
      reg("notEmpty")(
        exprs => GreaterThan(Length(exprs.head), Literal(0)))

      // splitByChar(sep, s) — CH argument order (separator first); the
      // literal separator is regex-quoted for Spark's split
      reg("splitByChar")({ case Seq(sep, s) =>
        val escaped = sep match {
          case Literal(v: org.apache.spark.unsafe.types.UTF8String, StringType) =>
            Literal(java.util.regex.Pattern.quote(v.toString))
          case other => other // non-literal: caller supplies a regex-safe separator
        }
        StringSplit(s, escaped, Literal(-1))
      })
      reg("lengthUTF8")(exprs => Length(exprs.head))

      // ---- URL functions (CH URL family) — regex-native, codegen'd.
      // CH's parsers are lenient (scheme-less "example.com/p" still
      // yields a domain) and return '' on no match, which is exactly
      // RegExpExtract's contract — java.net.URI-based parse_url would
      // NULL out the scheme-less forms CH accepts. Patterns stay in the
      // RE2-compatible subset so cross-engine oracles can share them.
      def SchemeOpt = "^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?"
      def rex(s: Expression, pattern: String): Expression =
        RegExpExtract(s, Literal(pattern), Literal(1))
      def domainOf(url: Expression): Expression =
        rex(url, SchemeOpt + """(?:[^/?#@]*@)?([^/:?#]+)""")
      reg("protocol")(exprs =>
        rex(exprs.head, """^([a-zA-Z][a-zA-Z0-9+.-]*)://"""))
      reg("domain")(exprs => domainOf(exprs.head))
      reg("domainWithoutWWW")(exprs =>
        RegExpReplace(domainOf(exprs.head), Literal("""^www\."""), Literal("")))
      reg("topLevelDomain")(exprs =>
        rex(domainOf(exprs.head), """\.([A-Za-z0-9-]+)$"""))
      reg("path")(exprs =>
        rex(exprs.head, SchemeOpt + """[^/?#]*(/[^?#]*)"""))
      reg("pathFull")(exprs =>
        rex(exprs.head, SchemeOpt + """[^/?#]*(/[^#]*)"""))
      reg("queryString")(exprs =>
        rex(exprs.head, """\?([^#]*)"""))
      reg("fragment")(exprs =>
        rex(exprs.head, """#(.*)$"""))
      reg("cutQueryString")(exprs =>
        RegExpReplace(exprs.head, Literal("""\?[^#]*"""), Literal("")))
      reg("cutFragment")(exprs =>
        RegExpReplace(exprs.head, Literal("""#.*$"""), Literal("")))
      reg("cutQueryStringAndFragment")(exprs =>
        RegExpReplace(exprs.head, Literal("""[?#].*$"""), Literal("")))
      reg("cutWWW")(exprs =>
        RegExpReplace(exprs.head,
          Literal("(" + SchemeOpt + """(?:[^/?#@]*@)?)www\."""), Literal("$1")))
      // firstSignificantSubdomain: CH's effective-TLD heuristic — for
      // a.b.c.tld the label before the effective TLD, where a
      // second-to-last label in the known second-level set (com.tr,
      // co.uk, …) extends the TLD by one label. CH ships a full public
      // suffix list; this carries the same common second-level set its
      // docs illustrate.
      def urlLabels(u: Expression): Expression =
        StringSplit(domainOf(u), Literal("""\."""), Literal(-1))
      def secondLevel: Seq[Expression] =
        Seq("com", "net", "org", "co", "biz", "gov", "mil", "edu", "ac", "info")
          .map(Literal(_))
      def ccTldCase(u: Expression)(
          cc: (Expression, Expression) => Expression,
          plain: (Expression, Expression) => Expression): Expression = {
        val labels = urlLabels(u)
        val n = Size(labels)
        If(
          And(GreaterThanOrEqual(n, Literal(3)),
            In(ElementAt(labels, Subtract(n, Literal(1))), secondLevel)),
          cc(labels, n),
          If(GreaterThanOrEqual(n, Literal(2)), plain(labels, n), Literal("")))
      }
      reg("firstSignificantSubdomain")({ case Seq(u) =>
        ccTldCase(u)(
          (labels, n) => ElementAt(labels, Subtract(n, Literal(2))),
          (labels, n) => ElementAt(labels, Subtract(n, Literal(1))))
      })
      reg("cutToFirstSignificantSubdomain")({ case Seq(u) =>
        ccTldCase(u)(
          (labels, n) =>
            ArrayJoin(Slice(labels, Subtract(n, Literal(2)), Literal(3)),
              Literal("."), None),
          (labels, n) =>
            ArrayJoin(Slice(labels, Subtract(n, Literal(1)), Literal(2)),
              Literal("."), None))
      })
      // r19b URL tail
      reg("netloc")(exprs =>
        rex(exprs.head, SchemeOpt + """([^/?#]*)"""))
      // port(url[, default]) — 0 (CH's default) when absent
      reg("port")({ case url +: rest =>
        val dflt = rest.headOption.getOrElse(Literal(0))
        Coalesce(Seq(
          Cast(new NullIf(
            rex(url, SchemeOpt + """(?:[^/?#@]*@)?[^/?#:]*:(\d+)"""),
            Literal("")), IntegerType),
          Cast(dflt, IntegerType)))
      })
      reg("queryStringAndFragment")(exprs =>
        rex(exprs.head, """\?(.*)$"""))
      reg("URLHierarchy")(e =>
        graft.functions.UrlHierarchyExpr(e.head, pathOnly = false))
      reg("URLPathHierarchy")(e =>
        graft.functions.UrlHierarchyExpr(e.head, pathOnly = true))
      // names of the query parameters, in order
      reg("extractURLParameterNames")({ case Seq(url) =>
        val q = rex(url, """\?([^#]*)""")
        ArrayRemove(
          ArrayTransform(
            StringSplit(q, Literal("&"), Literal(-1)),
            LambdaFunction(
              ElementAt(StringSplit(lv("pUPN"), Literal("="), Literal(2)),
                Literal(1)),
              Seq(lv("pUPN")))),
          Literal(""))
      })
      // form-encoding twins: '+' is the space convention
      reg("encodeURLFormComponent")({ case Seq(s) =>
        StringReplace(UrlEncode(s), Literal("%20"), Literal("+"))
      })
      reg("decodeURLFormComponent")({ case Seq(s) =>
        UrlDecode(StringReplace(s, Literal("+"), Literal("%20")))
      })
      // URLHash: CH's "hash without one trailing /?#" contract; the
      // hash itself is engine-defined — this engine's is cityHash64
      reg("URLHash")({ case Seq(url) =>
        CityHash64Expr(Seq(
          RegExpReplace(url, Literal("""[/?#]$"""), Literal(""))))
      })
      // extractURLParameter(url, 'name') — value of one query parameter
      reg("extractURLParameter")({ case Seq(url, name) =>
        val pat = name match {
          case Literal(v: org.apache.spark.unsafe.types.UTF8String, StringType) =>
            Literal("[?&]" + java.util.regex.Pattern.quote(v.toString) + "=([^&#]*)")
          case other =>
            Concat(Seq(Literal("[?&]"), other, Literal("=([^&#]*)")))
        }
        RegExpExtract(url, pat, Literal(1))
      })
      // JSONExtract family: CH extracts by top-level key name
      def jsonPath(key: Expression): Expression = key match {
        case Literal(v: org.apache.spark.unsafe.types.UTF8String, StringType) =>
          Literal("$." + v.toString)
        case other => Concat(Seq(Literal("$."), other))
      }
      reg("JSONExtractString")(
        { case Seq(json, key) => GetJsonObject(json, jsonPath(key)) })
      reg("JSONExtractInt")(
        { case Seq(json, key) => Cast(GetJsonObject(json, jsonPath(key)), LongType) })
      reg("JSONExtractFloat")(
        { case Seq(json, key) => Cast(GetJsonObject(json, jsonPath(key)), DoubleType) })
      reg("JSONExtractBool")(
        { case Seq(json, key) => Cast(GetJsonObject(json, jsonPath(key)), BooleanType) })
      reg("JSONExtractRaw")(
        { case Seq(json, key) => GetJsonObject(json, jsonPath(key)) })
      reg("JSONHas")(
        { case Seq(json, key) => IsNotNull(GetJsonObject(json, jsonPath(key))) })
      // CH JSONLength = element count of an array (or keys of an object);
      // the array form is the one the reference-style event logs use
      reg("JSONLength")({
        case Seq(json) => LengthOfJsonArray(json)
        case Seq(json, key) => LengthOfJsonArray(GetJsonObject(json, jsonPath(key)))
      })
      reg("JSONExtractKeys")(exprs => JsonObjectKeys(exprs.head))
      reg("JSONArrayLength")(exprs => LengthOfJsonArray(exprs.head))
      reg("JSONType")({
        case Seq(json) => graft.functions.JsonTypeExpr(json, isValid = false)
        case Seq(json, key) =>
          graft.functions.JsonTypeExpr(
            GetJsonObject(json, jsonPath(key)), isValid = false)
      })
      reg("isValidJSON")(e => graft.functions.JsonTypeExpr(e.head, isValid = true))
      // UUID family (r19b)
      reg("generateUUIDv4")(_ => new Uuid())
      reg("generateUUIDv7")(_ => graft.functions.RandomGenExpr(Literal(0), 0))
      reg("randomString")(e => graft.functions.RandomGenExpr(e.head, 1))
      reg("randomPrintableASCII")(e => graft.functions.RandomGenExpr(e.head, 2))
      reg("UUIDStringToNum")(e => graft.functions.UuidBytesExpr(e.head, 0))
      reg("UUIDNumToString")(e => graft.functions.UuidBytesExpr(e.head, 1))
      reg("toUUID")(e => graft.functions.UuidBytesExpr(e.head, 2))
      reg("toUUIDOrNull")(e => graft.functions.UuidBytesExpr(e.head, 3))
      reg("serverUUID")(_ =>
        Literal(graft.functions.UuidBytesExpr.serverUuid))
      // introspection/misc tail (r19b). Literal-at-analysis is the
      // right granularity for the per-query constants (builders run
      // during each query's resolution).
      reg("hostName")(_ => Literal(ChFunctions.cachedHostName))
      reg("currentUser")(_ => CurrentUser())
      reg("currentDatabase")(_ => CurrentDatabase())
      // the version the native door presents in its hello (23.8);
      // dialect text routes version() here via the conflict pre-pass
      // (Spark's own version() keeps its build string)
      reg("chVersion")(_ => Literal("23.8.0"))
      reg("uptime")(_ => Literal(
        (System.currentTimeMillis() -
          java.lang.management.ManagementFactory.getRuntimeMXBean
            .getStartTime) / 1000L))
      reg("identity")(e => e.head)
      reg("ignore")(_ => Literal(0))
      reg("isZeroOrNull")({ case Seq(x) =>
        Or(IsNull(x), EqualTo(x, Literal(0))) })
      reg("throwIf")({
        case Seq(c) => If(Cast(c, BooleanType),
          RaiseError(Literal("throwIf condition met")), Literal(0))
        case Seq(c, msg) => If(Cast(c, BooleanType),
          RaiseError(msg), Literal(0))
      })
      reg("sleep")(e => graft.functions.SleepExpr(e.head))
      // encrypt/decrypt — CH's mode strings onto Spark's own AES
      // expressions. Self-consistent pair (encrypt → decrypt
      // round-trips here); the CIPHERTEXT LAYOUT is engine-defined —
      // Spark prefixes the random IV in GCM/CBC where CH keys the IV
      // separately, so cross-engine blobs do not interchange
      // (documented deviation; same key-length rules).
      def aesMode(m: Expression): (Expression, Expression) = m match {
        case Literal(v: org.apache.spark.unsafe.types.UTF8String, StringType) =>
          v.toString.toLowerCase match {
            case s if s.endsWith("-gcm") => (Literal("GCM"), Literal("NONE"))
            case s if s.endsWith("-cbc") => (Literal("CBC"), Literal("PKCS"))
            case s if s.endsWith("-ecb") => (Literal("ECB"), Literal("PKCS"))
            case other => throw new IllegalArgumentException(
              s"encrypt: unsupported mode '$other' (aes-*-gcm/cbc/ecb)")
          }
        case other => throw new IllegalArgumentException(
          s"encrypt needs a literal mode, got $other")
      }
      reg("encrypt")({ case m +: data +: key +: _ =>
        val (mode, pad) = aesMode(m)
        new AesEncrypt(Cast(data, BinaryType), Cast(key, BinaryType),
          mode, pad)
      })
      reg("decrypt")({ case m +: data +: key +: _ =>
        val (mode, pad) = aesMode(m)
        Cast(new AesDecrypt(Cast(data, BinaryType), Cast(key, BinaryType),
          mode, pad), StringType)
      })
      reg("tryDecrypt")({ case m +: data +: key +: _ =>
        val (mode, pad) = aesMode(m)
        TryEval(Cast(new AesDecrypt(Cast(data, BinaryType),
          Cast(key, BinaryType), mode, pad), StringType))
      })
      reg("reinterpretAsUInt64")(e =>
        graft.functions.ReinterpretExpr(e.head, toInt = true))
      reg("reinterpretAsString")(e =>
        graft.functions.ReinterpretExpr(e.head, toInt = false))
      // blockNumber/rowNumberInAllBlocks: block = partition here (the
      // engine-defined granularity CH also disclaims)
      reg("blockNumber")(_ => Cast(SparkPartitionID(), LongType))
      reg("rowNumberInAllBlocks")(_ => MonotonicallyIncreasingID())
      reg("basename")({ case Seq(s) =>
        ElementAt(StringSplit(s, Literal("/"), Literal(-1)), Literal(-1)) })
      reg("toStringCutToZero")({ case Seq(s) =>
        ElementAt(StringSplit(s, Literal("\u0000"), Literal(2)), Literal(1)) })
      // toFixedString(s, n): CH errors past n bytes, zero-pads under
      reg("toFixedString")({ case Seq(s, n) =>
        If(GreaterThan(OctetLength(s), Cast(n, IntegerType)),
          RaiseError(Literal("toFixedString: value longer than N")),
          StringRPad(s, Cast(n, IntegerType), Literal("\u0000")))
      })
      // normalizeQuery: literals → placeholders (log analytics shape)
      reg("normalizeQuery")({ case Seq(q) =>
        RegExpReplace(
          RegExpReplace(
            RegExpReplace(q, Literal("'[^']*'"), Literal("?")),
            Literal("\"[^\"]*\""), Literal("?")),
          Literal("""\b\d+(\.\d+)?\b"""), Literal("?"))
      })
      reg("normalizedQueryHash")({ case Seq(q) =>
        CityHash64Expr(Seq(RegExpReplace(
          RegExpReplace(
            RegExpReplace(q, Literal("'[^']*'"), Literal("?")),
            Literal("\"[^\"]*\""), Literal("?")),
          Literal("""\b\d+(\.\d+)?\b"""), Literal("?"))))
      })
      // simpleJSON* (a.k.a. visitParam*): CH's naive-scan variants; we
      // parse properly — a documented superset (CH finds the first
      // occurrence of the key at ANY nesting level, we resolve the
      // top-level field; identical on the flat metadata JSON they are
      // used for)
      reg("simpleJSONExtractString")(
        { case Seq(json, key) => GetJsonObject(json, jsonPath(key)) })
      reg("simpleJSONExtractInt")(
        { case Seq(json, key) => Cast(GetJsonObject(json, jsonPath(key)), LongType) })
      reg("simpleJSONExtractFloat")(
        { case Seq(json, key) => Cast(GetJsonObject(json, jsonPath(key)), DoubleType) })
      reg("simpleJSONExtractBool")(
        { case Seq(json, key) => Cast(GetJsonObject(json, jsonPath(key)), BooleanType) })
      reg("simpleJSONHas")(
        { case Seq(json, key) => IsNotNull(GetJsonObject(json, jsonPath(key))) })
      // date/time helpers (CH names) — all map to native expressions
      reg("toStartOfHour")(
        exprs => TruncTimestamp(Literal("hour"), exprs.head))
      reg("toStartOfDay")(
        exprs => TruncTimestamp(Literal("day"), exprs.head))
      reg("toStartOfMonth")(
        exprs => TruncDate(Cast(exprs.head, DateType), Literal("month")))
      reg("toLastDayOfMonth")(
        exprs => LastDay(Cast(exprs.head, DateType)))
      reg("toStartOfSecond")(
        exprs => TruncTimestamp(Literal("second"), Cast(exprs.head, TimestampType)))
      // toTime: the time-of-day moved onto CH's fixed 1970-01-02 date
      reg("toTime")({ case Seq(t) =>
        Cast(Concat(Seq(Literal("1970-01-02 "),
          DateFormatClass(Cast(t, TimestampType), Literal("HH:mm:ss")))),
          TimestampType)
      })
      // makeDate(y, m, d) | makeDate(y, dayOfYear)
      reg("makeDate")({
        case Seq(y, m, d) => MakeDate(Cast(y, IntegerType),
          Cast(m, IntegerType), Cast(d, IntegerType))
        case Seq(y, doy) => DateAdd(
          MakeDate(Cast(y, IntegerType), Literal(1), Literal(1)),
          Subtract(Cast(doy, IntegerType), Literal(1)))
      })
      reg("makeDateTime")({ case Seq(y, m, d, h, mi, s) =>
        MakeTimestamp(Cast(y, IntegerType), Cast(m, IntegerType),
          Cast(d, IntegerType), Cast(h, IntegerType), Cast(mi, IntegerType),
          Cast(s, DecimalType(8, 6)), None, None)
      })
      reg("toRelativeHourNum")({ case Seq(t) =>
        Cast(Divide(Cast(Cast(t, TimestampType), LongType),
          Literal(3600L)), LongType) })
      reg("toRelativeMinuteNum")({ case Seq(t) =>
        Cast(Divide(Cast(Cast(t, TimestampType), LongType),
          Literal(60L)), LongType) })
      reg("toRelativeSecondNum")({ case Seq(t) =>
        Cast(Cast(t, TimestampType), LongType) })
      // days since 0000-01-01 (proleptic): epoch day + 719528
      reg("toDaysSinceYearZero")({ case Seq(d) =>
        Add(Cast(UnixDate(Cast(d, DateType)), LongType), Literal(719528L)) })
      reg("fromDaysSinceYearZero")({ case Seq(n) =>
        DateAdd(Literal.create(java.time.LocalDate.ofEpochDay(0), DateType),
          Cast(Subtract(Cast(n, LongType), Literal(719528L)), IntegerType)) })
      reg("UTCTimestamp")(_ => CurrentTimestamp())
      // Twitter-epoch snowflake ids (CH's default epoch 1288834974657)
      reg("snowflakeToDateTime")({ case Seq(id) =>
        Cast(Divide(
          Cast(Add(ShiftRight(Cast(id, LongType), Literal(22)),
            Literal(1288834974657L)), DoubleType),
          Literal(1000.0d)), TimestampType)
      })
      reg("dateTimeToSnowflake")({ case Seq(t) =>
        ShiftLeft(Subtract(
          Multiply(Cast(Cast(t, TimestampType), LongType), Literal(1000L)),
          Literal(1288834974657L)), Literal(22))
      })
      reg("generateULID")(_ => graft.functions.RandomGenExpr(Literal(0), 3))
      reg("ULIDStringToDateTime")(e => graft.functions.UlidTimeExpr(e.head))
      // timeDiff(older, newer) — seconds between, CH arg order
      reg("timeDiff")({ case Seq(a, b) =>
        Subtract(
          Cast(Cast(b, TimestampType), LongType),
          Cast(Cast(a, TimestampType), LongType))
      })
      reg("toYear")(
        exprs => Year(Cast(exprs.head, DateType)))
      reg("toMonth")(
        exprs => Month(Cast(exprs.head, DateType)))
      reg("toDayOfMonth")(
        exprs => DayOfMonth(Cast(exprs.head, DateType)))
      reg("toDayOfYear")(
        exprs => DayOfYear(Cast(exprs.head, DateType)))
      reg("toISOWeek")( // Spark's weekofyear IS the ISO-8601 week
        exprs => WeekOfYear(Cast(exprs.head, DateType)))
      reg("toHour")(
        exprs => Hour(exprs.head))
      reg("toYYYYMM")({ exprs =>
        val d = Cast(exprs.head, DateType)
        Add(Multiply(Year(d), Literal(100)), Month(d))
      })
      // lambda-building helper for composed higher-order expressions:
      // fresh UnresolvedNamedLambdaVariables, bound by the analyzer
      // exactly as parser-written `x -> …` text would be
      def lv(name: String) = UnresolvedNamedLambdaVariable(Seq(name))

      // bitmap family (CH's segment/funnel analytics surface):
      // Roaring64 blobs as binary values — native typed aggregates +
      // eval'd scalar ops, the -State/-Merge incremental-audience flow
      // included (graft.functions.Bitmaps for the contracts)
      {
        import graft.functions._
        reg("groupBitmap")(e => GroupBitmapAgg(e.head, 0).toAggregateExpression())
        reg("groupBitmapState")(e => GroupBitmapAgg(e.head, 1).toAggregateExpression())
        reg("groupBitmapMerge")(e => GroupBitmapAgg(e.head, 2).toAggregateExpression())
        reg("groupBitmapMergeState")(e => GroupBitmapAgg(e.head, 3).toAggregateExpression())
        reg("bitmapBuild")(e => BitmapBuild(e.head))
        reg("bitmapCardinality")(e => BitmapUnary(e.head, 0))
        reg("bitmapMin")(e => BitmapUnary(e.head, 1))
        reg("bitmapMax")(e => BitmapUnary(e.head, 2))
        reg("bitmapToArray")(e => BitmapUnary(e.head, 3))
        reg("bitmapAnd")(e => BitmapBinary(e(0), e(1), 0, cardinality = false))
        reg("bitmapOr")(e => BitmapBinary(e(0), e(1), 1, cardinality = false))
        reg("bitmapXor")(e => BitmapBinary(e(0), e(1), 2, cardinality = false))
        reg("bitmapAndnot")(e => BitmapBinary(e(0), e(1), 3, cardinality = false))
        reg("bitmapAndCardinality")(e => BitmapBinary(e(0), e(1), 0, cardinality = true))
        reg("bitmapOrCardinality")(e => BitmapBinary(e(0), e(1), 1, cardinality = true))
        reg("bitmapXorCardinality")(e => BitmapBinary(e(0), e(1), 2, cardinality = true))
        reg("bitmapAndnotCardinality")(e => BitmapBinary(e(0), e(1), 3, cardinality = true))
        // r19b: cross-segment rollups over already-built states + the
        // subset/transform scalars (CH's full bitmap namespace)
        reg("groupBitmapAnd")(e =>
          GroupBitmapCombineAgg(e.head, 0, blobOut = false).toAggregateExpression())
        reg("groupBitmapOr")(e =>
          GroupBitmapCombineAgg(e.head, 1, blobOut = false).toAggregateExpression())
        reg("groupBitmapXor")(e =>
          GroupBitmapCombineAgg(e.head, 2, blobOut = false).toAggregateExpression())
        reg("groupBitmapAndState")(e =>
          GroupBitmapCombineAgg(e.head, 0, blobOut = true).toAggregateExpression())
        reg("groupBitmapOrState")(e =>
          GroupBitmapCombineAgg(e.head, 1, blobOut = true).toAggregateExpression())
        reg("groupBitmapXorState")(e =>
          GroupBitmapCombineAgg(e.head, 2, blobOut = true).toAggregateExpression())
        reg("bitmapSubsetInRange")(e => BitmapSubset(e(0), e(1), e(2), 0))
        reg("bitmapSubsetLimit")(e => BitmapSubset(e(0), e(1), e(2), 1))
        reg("subBitmap")(e => BitmapSubset(e(0), e(1), e(2), 2))
        reg("bitmapTransform")(e => BitmapTransform(e(0), e(1), e(2)))
        reg("bitmapContains")(e => BitmapContains(e(0), e(1)))
        reg("bitmapHasAny")(e => BitmapHas(e(0), e(1), all = false))
        reg("bitmapHasAll")(e => BitmapHas(e(0), e(1), all = true))
      }

      // topK(x[, k]) — CH's "≈k most frequent values". Exact here (the
      // approximation in CH is a space bound, not a semantic): rank
      // distinct values by (count desc, value asc — deterministic
      // tie-break, unlike CH's arbitrary) and keep k. Composed from
      // collect_list + higher-order functions; a surface function for
      // moderate group cardinalities, not a hot-path scan operator.
      reg("topK")({ exprs =>
        val (x, k) = exprs match {
          case Seq(x0) => (x0, Literal(10): Expression)
          case Seq(x0, k0) => (x0, k0)
        }
        val arr = CollectList(x).toAggregateExpression()
        val e = lv("e"); val y = lv("y"); val s = lv("s")
        val pairs = ArrayTransform(ArrayDistinct(arr),
          LambdaFunction(
            CreateNamedStruct(Seq(
              Literal("c"),
              UnaryMinus(Size(ArrayFilter(arr,
                LambdaFunction(EqualTo(y, e), Seq(y))))),
              Literal("v"), e)),
            Seq(e)))
        val top = Slice(new ArraySort(pairs), Literal(1), Cast(k, IntegerType))
        ArrayTransform(top, LambdaFunction(
          org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(s, Literal("v")),
          Seq(s)))
      })

      // topKWeighted(x, w[, k]) — like topK but ranked by summed weight
      // (desc, value asc tie-break). Same collect-then-rank surface
      // shape and the same moderate-cardinality caveat as topK.
      reg("topKWeighted")({ exprs =>
        val (x, w, k) = exprs match {
          case Seq(x0, w0) => (x0, w0, Literal(10): Expression)
          case Seq(x0, w0, k0) => (x0, w0, k0)
        }
        val arr = CollectList(CreateNamedStruct(Seq(
          Literal("x"), x, Literal("w"), Cast(w, LongType)))).toAggregateExpression()
        val e = lv("eW"); val p = lv("pW"); val p2 = lv("p2W")
        val a = lv("aW"); val f = lv("fW"); val s = lv("sW")
        def fld(st: Expression, n: String) =
          org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(st, Literal(n))
        val vals = ArrayDistinct(ArrayTransform(arr,
          LambdaFunction(fld(p, "x"), Seq(p))))
        val pairs = ArrayTransform(vals, LambdaFunction(
          CreateNamedStruct(Seq(
            Literal("c"),
            UnaryMinus(ArrayAggregate(
              ArrayFilter(arr, LambdaFunction(EqualTo(fld(p2, "x"), e), Seq(p2))),
              Literal(0L),
              LambdaFunction(Add(a, fld(s, "w")), Seq(a, s)),
              LambdaFunction(f, Seq(f)))),
            Literal("v"), e)),
          Seq(e)))
        val top = Slice(new ArraySort(pairs), Literal(1), Cast(k, IntegerType))
        val s2 = lv("s2W")
        ArrayTransform(top, LambdaFunction(fld(s2, "v"), Seq(s2)))
      })

      // entropy(x): Shannon entropy (bits) of the group's value
      // distribution — -Σ p·log2(p) over distinct values. Same
      // collect-then-rank surface shape as topK (per-group memory is
      // the distinct-value count).
      reg("entropy")({ case Seq(x) =>
        val arr = CollectList(x).toAggregateExpression()
        val e = lv("eEN"); val y = lv("yEN")
        val acc = lv("accEN"); val p = lv("pEN"); val f = lv("fEN")
        val n = Cast(Size(arr), DoubleType)
        // per distinct value: p = count(v)/n, contribute -p*log2(p)
        val probs = ArrayTransform(ArrayDistinct(arr), LambdaFunction(
          Divide(Cast(Size(ArrayFilter(arr,
            LambdaFunction(EqualTo(y, e), Seq(y)))), DoubleType), n),
          Seq(e)))
        ArrayAggregate(probs, Literal(0.0d),
          LambdaFunction(
            Subtract(acc, Multiply(p, Logarithm(Literal(2.0d), p))),
            Seq(acc, p)),
          LambdaFunction(f, Seq(f)))
      })

      // IPv4 family: dotted-quad rendering/parsing on the UInt32 value
      // (carried in a Long, CH's storage), all codegen-native
      def octet(n: Expression, shift: Int): Expression =
        Cast(BitwiseAnd(ShiftRightUnsigned(n, Literal(shift)), Literal(255L)), StringType)
      reg("IPv4NumToString")({ case Seq(x) =>
        val n = Cast(x, LongType)
        Concat(Seq(
          octet(n, 24), Literal("."), octet(n, 16), Literal("."),
          octet(n, 8), Literal("."), octet(n, 0)))
      })
      reg("IPv4StringToNum")({ case Seq(s) =>
        val parts = StringSplit(s, Literal("\\."), Literal(-1))
        def part(i: Int): Expression =
          Cast(ElementAt(parts, Literal(i)), LongType)
        Add(Add(Multiply(part(1), Literal(16777216L)),
            Multiply(part(2), Literal(65536L))),
          Add(Multiply(part(3), Literal(256L)), part(4)))
      })
      reg("isIPv4String")({ case Seq(s) =>
        RLike(s, Literal(
          "^((25[0-5]|2[0-4][0-9]|[01]?[0-9]?[0-9])\\.){3}(25[0-5]|2[0-4][0-9]|[01]?[0-9]?[0-9])$"))
      })
      // IPv6/MAC family (r19b): 16-byte binary addresses, RFC 5952
      // rendering, pure-JDK parse (graft.functions.IpKernels — no
      // InetAddress, whose hostname path could resolve DNS)
      reg("IPv6StringToNum")(e => graft.functions.IpExpr(e.head, 0))
      reg("IPv6NumToString")(e => graft.functions.IpExpr(e.head, 1))
      reg("isIPv6String")(e => graft.functions.IpExpr(e.head, 2))
      reg("MACNumToString")(e => graft.functions.IpExpr(e.head, 3))
      reg("MACStringToNum")(e => graft.functions.IpExpr(e.head, 4))
      reg("IPv4ToIPv6")(e => graft.functions.IpExpr(e.head, 5))
      reg("toIPv6")(e => graft.functions.IpExpr(e.head, 0))
      reg("cutIPv6")(
        { case Seq(b, c6, c4) => graft.functions.CutIpv6Expr(b, c6, c4) })
      // toIPv4 — CH's IPv4 type carries the UInt32 value (Long here)
      reg("toIPv4")({ case Seq(s) =>
        val parts = StringSplit(s, Literal("\\."), Literal(-1))
        def part(i: Int): Expression =
          Cast(ElementAt(parts, Literal(i)), LongType)
        Add(Add(Multiply(part(1), Literal(16777216L)),
            Multiply(part(2), Literal(65536L))),
          Add(Multiply(part(3), Literal(256L)), part(4)))
      })

      // sumMap/minMap/maxMap(keys, vals): per-group reduce of the
      // zipped (key, value) pairs, keyed by distinct key, returned as
      // CH's tuple of (sorted keys, reduced values). Same
      // collect-then-rank surface shape (and moderate-cardinality
      // caveat) as topK; sumMap uses the Int64 accumulator the
      // arrayReduce('sum') path documents.
      def mapAgg(keys: Expression, vals: Expression,
                 red: Expression => Expression): Expression = {
        def fld(s: Expression, nme: String) =
          org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(s, Literal(nme))
        val k0 = lv("k0MM"); val v0 = lv("v0MM"); val p = lv("pMM")
        val kk = lv("kkMM"); val q = lv("qMM"); val r = lv("rMM")
        val pairs = Flatten(CollectList(
          ZipWith(keys, vals, LambdaFunction(
            CreateNamedStruct(Seq(Literal("k"), k0, Literal("v"), v0)),
            Seq(k0, v0)))).toAggregateExpression())
        val ks = new ArraySort(ArrayDistinct(
          ArrayTransform(pairs, LambdaFunction(fld(p, "k"), Seq(p)))))
        val vs = ArrayTransform(ks, LambdaFunction(
          red(ArrayTransform(
            ArrayFilter(pairs, LambdaFunction(EqualTo(fld(q, "k"), kk), Seq(q))),
            LambdaFunction(fld(r, "v"), Seq(r)))),
          Seq(kk)))
        CreateNamedStruct(Seq(Literal("keys"), ks, Literal("values"), vs))
      }
      def foldSum(arr: Expression): Expression = {
        val acc = lv("accMM"); val x = lv("xMM"); val f = lv("fMM")
        ArrayAggregate(arr, typedZero(arr),
          LambdaFunction(Add(acc, x), Seq(acc, x)),
          LambdaFunction(f, Seq(f)))
      }
      reg("sumMap")({ case Seq(k, v) => mapAgg(k, v, foldSum) })
      reg("minMap")({ case Seq(k, v) => mapAgg(k, v, ArrayMin) })
      reg("maxMap")({ case Seq(k, v) => mapAgg(k, v, ArrayMax) })

      // ---- behavioral analytics: CH's funnel family ----
      // retention(c1, …, cn): array of 0/1 per group — r[1] = "c1 ever
      // held"; r[i] = "c1 AND c_i both held" (each over ANY row of the
      // group, independently — CH semantics). Pure native Max
      // aggregates, n ints of state, map-side combinable.
      reg("retention")({ exprs =>
        require(exprs.nonEmpty, "retention needs at least one condition")
        def ever(c: Expression): Expression =
          Max(Cast(c, IntegerType)).toAggregateExpression()
        CreateArray(
          ever(exprs.head) +:
            exprs.tail.map(c => Multiply(ever(exprs.head), ever(c))))
      })

      // windowFunnel(window)(t, c1, …, cn) — the parametric pre-pass
      // hands the builder (t, c1…cn, window); window is in SECONDS
      // (CH's DateTime convention; timestamps are compared at
      // microsecond precision internally). Returns the deepest level k
      // for which events e1 … ek exist in processing order (time, then
      // condition bitmask) matching c1…ck with t(ek) - t(e1) ≤ window;
      // one event may satisfy consecutive steps (CH inserts an entry
      // per matched condition — see the inner fold below).
      // One pass over the time-sorted event array; state is
      // array<long> of per-level chain-START times. Keeping only the
      // LATEST viable start per level is exact: a later start is
      // easier to extend within the window and starts propagate
      // unchanged up the chain, so it dominates every earlier one
      // (CH keeps a list per level instead).
      reg("windowFunnel")({ exprs =>
        require(exprs.length >= 3, "windowFunnel(window)(t, cond1, …)")
        val t = exprs.head
        val conds = exprs.slice(1, exprs.length - 1)
        val w = exprs.last
        val n = conds.length
        require(n <= 32, "windowFunnel supports at most 32 steps")
        def fld(s: Expression, nme: String) =
          org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(s, Literal(nme))
        val bits = conds.zipWithIndex
          .map { case (c, i) => If(c, Literal(1L << i), Literal(0L)) }
          .reduce[Expression]((a, b) => BitwiseOr(a, b))
        val ev = CreateNamedStruct(Seq(
          Literal("t"), UnixMicros(Cast(t, TimestampType)),
          Literal("b"), bits))
        val evs = new ArraySort(CollectList(ev).toAggregateExpression())
        val sentinel = Literal(Long.MinValue)
        val winUs = Multiply(Cast(w, LongType), Literal(1000000L))
        val st = lv("stWF"); val e = lv("eWF"); val k = lv("kWF")
        val f = lv("fWF"); val v = lv("vWF")
        val tE = fld(e, "t"); val bE = fld(e, "b")
        def hit(kE: Expression): Expression =
          Not(EqualTo(BitwiseAnd(bE, ShiftLeft(Literal(1L), kE)), Literal(0L)))
        // Per event, conditions apply SEQUENTIALLY in ascending index
        // order (an inner fold over 0…n-1), each seeing the slots the
        // same event already updated — CH inserts one entry per matched
        // condition, so an event matching cond_k AND cond_{k+1} (or two
        // events sharing a timestamp) advances multiple levels
        // (advisor r7; the previous all-slots-from-old-state transform
        // could not chain within one event). ANSI-safe: the
        // prev≠sentinel guard short-circuits before tE - prev could
        // overflow.
        val inner = lv("innWF"); val ki = lv("kiWF"); val g = lv("gWF")
        val curI = ElementAt(inner, Add(ki, Literal(1)))  // 1-based slot ki+1
        val prevI = ElementAt(inner, ki)                  // the level below
        val slotVal =
          If(EqualTo(ki, Literal(0)),
            If(hit(Literal(0)), Greatest(Seq(curI, tE)), curI),
            If(And(And(hit(ki), Not(EqualTo(prevI, sentinel))),
                LessThanOrEqual(Subtract(tE, prevI), winUs)),
              Greatest(Seq(curI, prevI)), curI))
        val step = ArrayAggregate(
          new Sequence(Literal(0), Literal(n - 1)),
          st,
          LambdaFunction(
            ArrayTransform(
              new Sequence(Literal(0), Literal(n - 1)),
              LambdaFunction(
                If(EqualTo(k, ki), slotVal, ElementAt(inner, Add(k, Literal(1)))),
                Seq(k))),
            Seq(inner, ki)),
          LambdaFunction(g, Seq(g)))
        // levels fill bottom-up, so depth = populated slots
        ArrayAggregate(evs,
          CreateArray(Seq.fill(n)(sentinel)),
          LambdaFunction(step, Seq(st, e)),
          LambdaFunction(
            Size(ArrayFilter(f,
              LambdaFunction(Not(EqualTo(v, sentinel)), Seq(v)))),
            Seq(f)))
      })

      // sequenceMatch('pattern')(t, c1, …, cn) / sequenceCount — the
      // time-ordered subsequence of events matching ANY condition is
      // encoded as a digit string (events matching none are invisible,
      // CH semantics) and the pattern (atoms `(?N)`, wildcards `.` and
      // `.*`) becomes a regex over it. Exact when the conditions are
      // mutually exclusive — each event takes its FIRST matching
      // condition, where CH explores every assignment. `(?t…)` time
      // bounds are not supported (loud failure). n ≤ 9.
      def seqString(t: Expression, conds: Seq[Expression]): Expression = {
        require(conds.nonEmpty && conds.length <= 9,
          "sequence functions support 1–9 conditions")
        val chr = CaseWhen(
          conds.zipWithIndex.map { case (c, i) =>
            (c, Literal(String.valueOf(i + 1)): Expression) },
          Some(Literal(null, StringType)))
        val ev = CreateNamedStruct(Seq(
          Literal("t"), UnixMicros(Cast(t, TimestampType)),
          Literal("c"), chr))
        val s = lv("sSQ")
        // ArrayJoin with no null-replacement drops the unmatched events
        ArrayJoin(
          ArrayTransform(new ArraySort(CollectList(ev).toAggregateExpression()),
            LambdaFunction(
              org.apache.spark.sql.catalyst.analysis
                .UnresolvedExtractValue(s, Literal("c")), Seq(s))),
          Literal(""), None)
      }
      def seqPattern(p: Expression): String = {
        val raw = p.eval() match {
          case u: org.apache.spark.unsafe.types.UTF8String => u.toString
          case other => throw new IllegalArgumentException(
            s"sequence pattern must be a string literal, got $other")
        }
        val sb = new StringBuilder
        var i = 0
        while (i < raw.length) {
          if (raw.startsWith("(?", i)) {
            val close = raw.indexOf(')', i)
            require(close > 0, s"unclosed atom in sequence pattern: $raw")
            val body = raw.substring(i + 2, close)
            require(body.nonEmpty && body.forall(_.isDigit),
              s"unsupported sequence atom (?$body) — only (?N) refs, '.' and '.*'")
            require(body.toInt >= 1 && body.toInt <= 9, "condition refs must be 1–9")
            sb.append(body.toInt)
            i = close + 1
          } else if (raw.charAt(i) == '.') {
            if (i + 1 < raw.length && raw.charAt(i + 1) == '*') { sb.append(".*"); i += 2 }
            else { sb.append('.'); i += 1 }
          } else throw new IllegalArgumentException(
            s"unsupported character '${raw.charAt(i)}' in sequence pattern: $raw")
        }
        sb.toString
      }
      // time-bound form `(?a)(?t OP n)(?b)`: the two atoms match
      // ADJACENT events of the matched subsequence with the time gap
      // constrained (n in seconds, CH's DateTime convention; compared
      // at microsecond precision). Only this adjacent-pair shape is
      // supported — anything else with `(?t…)` refuses loudly.
      val TimeBound =
        """^\(\?(\d)\)\(\?t\s*(>=|<=|!=|>|<|=)\s*(\d+)\)\(\?(\d)\)$""".r
      def timeBoundMatch(t: Expression, conds: Seq[Expression],
                         a: Int, op: String, secs: Long, bIdx: Int): Expression = {
        require(a >= 1 && a <= conds.length && bIdx >= 1 && bIdx <= conds.length,
          "sequence pattern refs exceed the condition count")
        val chr = CaseWhen(
          conds.zipWithIndex.map { case (c, i) =>
            (c, Literal(i + 1): Expression) },
          Some(Literal(null, IntegerType)))
        val ev = CreateNamedStruct(Seq(
          Literal("t"), UnixMicros(Cast(t, TimestampType)),
          Literal("c"), chr))
        val m = lv("mTB"); val l = lv("lTB"); val r = lv("rTB")
        def fldOf(s: Expression, nme: String) =
          org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(s, Literal(nme))
        val matched = ArrayFilter(
          new ArraySort(CollectList(ev).toAggregateExpression()),
          LambdaFunction(IsNotNull(fldOf(m, "c")), Seq(m)))
        // adjacent pairs: zip with the 1-shifted tail (ZipWith pads the
        // shorter side with NULL — the IsNotNull(r) guard drops the pad)
        val gapUs = Multiply(Literal(secs), Literal(1000000L))
        def cmp(gap: Expression): Expression = op match {
          case ">"  => GreaterThan(gap, gapUs)
          case ">=" => GreaterThanOrEqual(gap, gapUs)
          case "<"  => LessThan(gap, gapUs)
          case "<=" => LessThanOrEqual(gap, gapUs)
          case "="  => EqualTo(gap, gapUs)
          case "!=" => Not(EqualTo(gap, gapUs))
        }
        Cast(ArrayExists(
          ZipWith(matched,
            Slice(matched, Literal(2),
              Greatest(Seq(Literal(0), Subtract(Size(matched), Literal(1))))),
            LambdaFunction(
              And(And(IsNotNull(r),
                  And(EqualTo(fldOf(l, "c"), Literal(a)),
                    EqualTo(fldOf(r, "c"), Literal(bIdx)))),
                cmp(Subtract(fldOf(r, "t"), fldOf(l, "t")))),
              Seq(l, r))),
          { val b = lv("bTB"); LambdaFunction(b, Seq(b)) }), IntegerType)
      }
      reg("sequenceMatch")({ exprs =>
        val rawPat = exprs.last.eval() match {
          case u: org.apache.spark.unsafe.types.UTF8String => u.toString
          case other => String.valueOf(other)
        }
        val conds = exprs.slice(1, exprs.length - 1)
        rawPat match {
          case TimeBound(a, op, n, b) =>
            timeBoundMatch(exprs.head, conds, a.toInt, op, n.toLong, b.toInt)
          case _ =>
            val pat = seqPattern(exprs.last)
            val str = seqString(exprs.head, conds)
            Cast(RLike(str, Literal(pat)), IntegerType) // CH returns UInt8
        }
      })
      reg("sequenceCount")({ exprs =>
        val pat = seqPattern(exprs.last)
        val str = seqString(exprs.head, exprs.slice(1, exprs.length - 1))
        RegExpCount(str, Literal(pat)) // non-overlapping, like CH
      })

      // arrayEnumerateUniq(arr): occurrence index (1-based) of each
      // element among its equals so far — CH's per-duplicate counter
      def enumUniq(arr: Expression): Expression = {
        val x = lv("xEU"); val i = lv("iEU"); val y = lv("yEU")
        ZipWith(arr, new Sequence(Literal(1), Size(arr)),
          LambdaFunction(
            Size(ArrayFilter(Slice(arr, Literal(1), i),
              LambdaFunction(EqualTo(y, x), Seq(y)))),
            Seq(x, i)))
      }
      reg("arrayEnumerateUniq")(exprs => enumUniq(exprs.head))
      // arrayFold(acc_lambda, arr, init) — CH's fold maps 1:1 onto
      // aggregate(); CH puts the lambda first and init last
      reg("arrayFold")({ case Seq(f, arr, init) =>
        val fin = lv("finAF")
        ArrayAggregate(arr, init, f, LambdaFunction(fin, Seq(fin)))
      })
      // arrayPartialSort(n, arr): CH's contract is "first n positions
      // hold the n smallest, sorted; the rest unspecified" — a full
      // sort is a valid (stronger) instance of that contract
      reg("arrayPartialSort")({ case Seq(_, arr) => new ArraySort(arr) })

      // arrayReduce('agg', arr) — CH applies an aggregate function to
      // array elements. The common reducers map to native array
      // expressions; integer 'sum' follows CH's Int64 accumulator (a
      // float array fails analysis loudly rather than truncating).
      reg("arrayReduce")({ case Seq(nameExpr, arr) =>
        val name = nameExpr match {
          case Literal(s: org.apache.spark.unsafe.types.UTF8String, StringType) =>
            s.toString
          case _ => throw new IllegalArgumentException(
            "arrayReduce needs a literal aggregate-function name")
        }
        name match {
          case "sum" =>
            val acc = lv("acc"); val x = lv("x"); val f = lv("f")
            ArrayAggregate(arr, Literal(0L),
              LambdaFunction(Add(acc, x), Seq(acc, x)),
              LambdaFunction(f, Seq(f)))
          case "avg" =>
            val acc = lv("acc2"); val x = lv("x2"); val f = lv("f2")
            Divide(
              ArrayAggregate(arr, Literal(0.0d),
                LambdaFunction(Add(acc, x), Seq(acc, x)),
                LambdaFunction(f, Seq(f))),
              Cast(Size(arr), DoubleType))
          case "min" => ArrayMin(arr)
          case "max" => ArrayMax(arr)
          case "count" => Cast(Size(arr), LongType)
          case "uniqExact" => Cast(Size(ArrayDistinct(arr)), LongType)
          case "any" => ElementAt(arr, Literal(1))
          case other => throw new IllegalArgumentException(
            s"arrayReduce: unsupported aggregate '$other'")
        }
      })

      // -Array combinators: agg over all ELEMENTS of an array column
      // across rows (CH applies the combinator to any aggregate; these
      // cover the common reducers without an explode in user SQL)
      def localSum(arr: Expression, zero: Expression): Expression = {
        val acc = lv("accL"); val x = lv("xL"); val f = lv("fL")
        ArrayAggregate(arr, zero,
          LambdaFunction(Add(acc, x), Seq(acc, x)),
          LambdaFunction(f, Seq(f)))
      }
      reg("sumArray")(exprs => Sum(localSum(exprs.head, Literal(0L))))
      reg("countArray")(exprs => Sum(Cast(Size(exprs.head), LongType)))
      reg("avgArray")({ case Seq(arr) =>
        Divide(
          Sum(localSum(arr, Literal(0.0d))).toAggregateExpression(),
          Cast(Sum(Cast(Size(arr), LongType)).toAggregateExpression(),
            DoubleType))
      })
      reg("minArray")(exprs => Min(ArrayMin(exprs.head)))
      reg("maxArray")(exprs => Max(ArrayMax(exprs.head)))
      // uniqArray: distinct elements across rows — EXACT here (CH's is
      // an estimate; exact is a sound refinement at surface-function
      // cardinalities): flatten collected arrays, distinct, count
      reg("uniqArray")(exprs =>
        Cast(Size(ArrayDistinct(Flatten(
          CollectList(exprs.head).toAggregateExpression()))), LongType))
      // groupUniqArray(x) — distinct values of a scalar into an array
      // (element order engine-defined, like CH — sort for determinism)
      reg("groupUniqArray")(exprs =>
        ArrayDistinct(CollectList(exprs.head).toAggregateExpression()))

      // quantile(x, q) — CH's default quantile is approximate with
      // interpolation; Spark's exact interpolated Percentile is a
      // deterministic stand-in with the same continuous semantics
      reg("quantile")(
        { case Seq(x, q) => new Percentile(x, q) })
      reg("quantileTiming")(
        { case Seq(x, q) => new Percentile(x, q) })
      // quantileTDigest — CH's sketch-based approximate quantile; the
      // Spark analog is ApproximatePercentile (GK sketch): same
      // mergeable-summary contract, bounded error, re-aggregatable
      reg("quantileTDigest")(
        { case Seq(x, q) => new ApproximatePercentile(x, q) })
      // quantileExact(x, q) — CH returns an ACTUAL ELEMENT, not an
      // interpolation: nth_element at 0-based index floor(q·n), clamped
      // to n-1 (ClickHouse QuantileExact::get). Composed from two
      // aggregates + scalar post-processing — the analyzer extracts the
      // embedded AggregateExpressions like any `agg(x) + agg(y)` text.
      reg("quantileExact")({ case Seq(x, q) =>
        val sorted = new SortArray(
          CollectList(x).toAggregateExpression(), Literal(true))
        val n = Count(Seq(x)).toAggregateExpression()
        val idx = Cast(
          Least(Seq(Add(Floor(Multiply(q, n)), Literal(1L)), n)),
          IntegerType)
        If(EqualTo(n, Literal(0L)), Literal.create(null, NullType),
          ElementAt(sorted, idx))
      })
      // quantileExactWeighted(q)(x, w) — parametric pre-pass delivers
      // (x, w, q). ClickHouse's element semantics (QuantileExactWeighted
      // ::get): sort the exact (value, weight) multiset, return the
      // FIRST element whose running weight reaches q × total weight —
      // no interpolation. Composed: a typed struct fold counts the
      // prefix positions strictly below the threshold, then
      // element_at picks the crossing value with its input type.
      reg("quantileExactWeighted")({ case Seq(x, w, q) =>
        import org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue
        val pairs = new SortArray(
          CollectList(CreateNamedStruct(Seq(
            Literal("v"), x, Literal("f"), w))).toAggregateExpression(),
          Literal(true))
        val totW = Sum(Cast(w, DoubleType)).toAggregateExpression()
        val thr = Multiply(Cast(q, DoubleType), totW)
        val n = Count(Seq(x)).toAggregateExpression()
        // fold: cum weight + how many elements land strictly below thr
        val acc = lv("qewAcc"); val p = lv("qewP")
        val newCum = Add(UnresolvedExtractValue(acc, Literal("c")),
          Cast(UnresolvedExtractValue(p, Literal("f")), DoubleType))
        val below = CaseWhen(Seq((LessThan(newCum, thr),
          Add(UnresolvedExtractValue(acc, Literal("b")), Literal(1L)))),
          Some(UnresolvedExtractValue(acc, Literal("b"))))
        val folded = ArrayAggregate(pairs,
          CreateNamedStruct(Seq(
            Literal("c"), Literal(0.0d), Literal("b"), Literal(0L))),
          LambdaFunction(CreateNamedStruct(Seq(
            Literal("c"), newCum, Literal("b"), below)), Seq(acc, p)),
          LambdaFunction(UnresolvedExtractValue(acc, Literal("b")), Seq(acc)))
        val idx = Cast(Least(Seq(Add(folded, Literal(1L)), n)), IntegerType)
        If(EqualTo(n, Literal(0L)), Literal.create(null, NullType),
          UnresolvedExtractValue(ElementAt(pairs, idx), Literal("v")))
      })
      // boundingRatio(x, y) — the slope of the group's bounding points:
      // (y at max x − y at min x) / (max x − min x)
      reg("boundingRatio")({ case Seq(x, y) =>
        Divide(
          Subtract(
            Cast(MaxBy(y, x).toAggregateExpression(), DoubleType),
            Cast(MinBy(y, x).toAggregateExpression(), DoubleType)),
          Subtract(
            Cast(Max(x).toAggregateExpression(), DoubleType),
            Cast(Min(x).toAggregateExpression(), DoubleType)))
      })
      // simpleLinearRegression(x, y) → named tuple (k, b) for y = kx+b
      // (Spark's own regr_slope/regr_intercept take (y, x) order)
      reg("simpleLinearRegression")({ case Seq(x, y) =>
        CreateNamedStruct(Seq(
          Literal("k"),
          RegrSlope(Cast(y, DoubleType), Cast(x, DoubleType))
            .toAggregateExpression(),
          Literal("b"),
          RegrIntercept(Cast(y, DoubleType), Cast(x, DoubleType))
            .toAggregateExpression()))
      })

      // -State/-Merge for the EXACT quantile family (VERDICT r9 task #8):
      // the exact state IS the value multiset, which plain SQL types
      // express (sorted array) and parquet round-trips — so re-aggregation
      // pipelines (state per group → persist → merge) work end-to-end.
      // Merge = flatten the partial arrays and run the same nth-element
      // selection quantileExact uses. The sketch families (TDigest/HLL
      // buffers) keep their opaque-state caveat — their buffers are not
      // SQL-representable, which the scaladoc on uniqState documents.
      // the CH parametric spelling quantileExactState(q)(x) arrives as
      // (x, q) — the quantile PARAMETER is finalization-time information
      // the state doesn't need, so it's accepted and unused
      reg("quantileExactState")({
        case Seq(x) =>
          new SortArray(CollectList(x).toAggregateExpression(), Literal(true))
        case Seq(x, _) =>
          new SortArray(CollectList(x).toAggregateExpression(), Literal(true))
      })
      reg("quantileExactMerge")({ case Seq(st, q) =>
        val all = new SortArray(
          Flatten(CollectList(st).toAggregateExpression()), Literal(true))
        val n = Cast(Size(all), LongType)
        val idx = Cast(
          Least(Seq(Add(Floor(Multiply(q, n)), Literal(1L)), n)),
          IntegerType)
        If(EqualTo(n, Literal(0L)), Literal.create(null, NullType),
          ElementAt(all, idx))
      })

      // quantiles(q1,…,qk)(x) — plural form returns the array; the
      // parametric pre-pass delivers the args as (x, q1, …, qk)
      reg("quantiles")({ case x +: qs if qs.nonEmpty =>
        new Percentile(x, CreateArray(qs))
      })
      reg("quantilesTDigest")({ case x +: qs if qs.nonEmpty =>
        new ApproximatePercentile(x, CreateArray(qs))
      })
      reg("quantilesTiming")({ case x +: qs if qs.nonEmpty =>
        new Percentile(x, CreateArray(qs))
      })
      // quantileDeterministic(q)(x, determinator): CH trades exactness
      // for run-determinism via the determinator seed; exact nearest
      // interpolation is both — the determinator is accepted and unused
      reg("quantileDeterministic")({ case Seq(x, _, q) => new Percentile(x, q) })

      // argMax(arg, val) / argMin — CH's "arg at the extremum of val"
      reg("argMax")({ case Seq(arg, v) => MaxBy(arg, v) })
      reg("argMin")({ case Seq(arg, v) => MinBy(arg, v) })
      // If-combinators for argMax/argMin: rows failing cond get a NULL
      // ordering value, which max_by/min_by skip
      reg("argMaxIf")({ case Seq(arg, v, cond) =>
        MaxBy(arg, If(cond, v, Literal(null))) })
      reg("argMinIf")({ case Seq(arg, v, cond) =>
        MinBy(arg, If(cond, v, Literal(null))) })

      // regex surface: RE2-style patterns run unchanged under Java regex
      // for the common cases (no backrefs in CH patterns)
      reg("match")({ case Seq(s, p) => RLike(s, p) })
      // CH extract(): whole match unless the pattern has a capture
      // group, then the first group — decidable for literal patterns.
      // Registered ch-prefixed (dialect text routes here via the
      // rewriteConflictingFunctions pre-pass) because plain `extract`
      // would shadow Spark's builtin and break standard
      // EXTRACT(YEAR FROM ts) on every dialect-registered session.
      reg("chExtract")({ case Seq(s, p) =>
        val group = p match {
          case Literal(v: org.apache.spark.unsafe.types.UTF8String, StringType)
              if v.toString.contains("(") => 1
          case _ => 0
        }
        RegExpExtract(s, p, Literal(group))
      })
      reg("replaceRegexpAll")({ case Seq(s, p, r) => RegExpReplace(s, p, r) })
      reg("replaceAll")({ case Seq(s, f, t) => StringReplace(s, f, t) })
      reg("countMatches")({ case Seq(s, p) =>
        Cast(Size(new RegExpExtractAll(s, p, Literal(0))), LongType)
      })

      // array reducers under their direct CH names (arrayReduce('sum',…)
      // spellings also exist above)
      reg("arraySum")({ case Seq(arr) =>
        val acc = lv("accS"); val x = lv("xS"); val f = lv("fS")
        // typed zero (first element × 0L): fractional arrays fold
        // without the bigint/double mismatch a 0L zero caused
        ArrayAggregate(arr, typedZero(arr),
          LambdaFunction(Add(acc, x), Seq(acc, x)),
          LambdaFunction(f, Seq(f)))
      })
      reg("arrayAvg")({ case Seq(arr) =>
        val acc = lv("accA"); val x = lv("xA"); val f = lv("fA")
        Divide(
          ArrayAggregate(arr, Literal(0.0d),
            LambdaFunction(Add(acc, x), Seq(acc, x)),
            LambdaFunction(f, Seq(f))),
          Cast(Size(arr), DoubleType))
      })
      reg("arrayMin")(exprs => ArrayMin(exprs.head))
      reg("arrayMax")(exprs => ArrayMax(exprs.head))

      // CH vector-distance family over numeric arrays — native
      // codegen'd single-pass kernels (graft.functions.VectorKernels),
      // double accumulation, Float64 results (CH's Distance-family
      // convention, extended to dotProduct). Size mismatch throws like
      // CH ARRAY_SIZES_DONT_MATCH; see reference embeddings usage at
      // BigHouse README.md (ClickHouse image delegates these natively).
      reg("dotProduct")({ case Seq(a, b) => graft.functions.VectorDistExpr(a, b, "dot") })
      reg("cosineDistance")({ case Seq(a, b) => graft.functions.VectorDistExpr(a, b, "cosd") })
      reg("L1Distance")({ case Seq(a, b) => graft.functions.VectorDistExpr(a, b, "l1") })
      reg("L2Distance")({ case Seq(a, b) => graft.functions.VectorDistExpr(a, b, "l2") })
      reg("L2SquaredDistance")({ case Seq(a, b) => graft.functions.VectorDistExpr(a, b, "l2sq") })
      reg("LinfDistance")({ case Seq(a, b) => graft.functions.VectorDistExpr(a, b, "linf") })
      reg("L1Norm")({ case Seq(a) => graft.functions.VectorNormExpr(a, "l1") })
      reg("L2Norm")({ case Seq(a) => graft.functions.VectorNormExpr(a, "l2") })
      reg("L2SquaredNorm")({ case Seq(a) => graft.functions.VectorNormExpr(a, "l2sq") })
      reg("LinfNorm")({ case Seq(a) => graft.functions.VectorNormExpr(a, "linf") })

      // NOTE: CH `dateDiff('unit',…)` is handled by [[ChSql.rewriteDateDiff]]
      // (→ timestampdiff) — Spark's parser claims the `dateDiff` name with
      // special unquoted-unit grammar before the registry is consulted,
      // so a builder under that name is unreachable.
      // add*(ts, n) — timestamp in, timestamp out (CH widens Date the
      // same way for sub-day units)
      def addUnit(unit: String): Seq[Expression] => Expression = {
        case Seq(ts, n) => TimestampAdd(unit, n, Cast(ts, TimestampType))
      }
      reg("addDays")(addUnit("DAY"))
      reg("addHours")(addUnit("HOUR"))
      reg("addMinutes")(addUnit("MINUTE"))
      reg("addSeconds")(addUnit("SECOND"))

      // remaining date-part extractors / truncations
      reg("toQuarter")(exprs => Quarter(Cast(exprs.head, DateType)))
      reg("toMinute")(exprs => Minute(exprs.head))
      reg("toSecond")(exprs => Second(exprs.head))
      // CH numbers days Monday=1…Sunday=7; Spark's dayofweek is Sunday=1
      reg("toDayOfWeek")(exprs =>
        Add(Pmod(Add(DayOfWeek(Cast(exprs.head, DateType)), Literal(5)),
          Literal(7)), Literal(1)))
      reg("toMonday")(exprs =>
        TruncDate(Cast(exprs.head, DateType), Literal("week")))
      reg("toStartOfMinute")(
        exprs => TruncTimestamp(Literal("minute"), exprs.head))
      reg("toStartOfQuarter")(
        exprs => TruncDate(Cast(exprs.head, DateType), Literal("quarter")))
      reg("toStartOfYear")(
        exprs => TruncDate(Cast(exprs.head, DateType), Literal("year")))

      // statistical aggregates — CH camelCase over Spark's snake_case
      // natives (same population/sample formulas; `corr` needs no alias,
      // Spark's registry is case-insensitive on identical names)
      reg("stddevPop")(exprs => StddevPop(Cast(exprs.head, DoubleType)))
      reg("stddevSamp")(exprs => StddevSamp(Cast(exprs.head, DoubleType)))
      reg("varPop")(exprs => VariancePop(Cast(exprs.head, DoubleType)))
      reg("varSamp")(exprs => VarianceSamp(Cast(exprs.head, DoubleType)))
      reg("covarPop")({ case Seq(a, b) =>
        CovPopulation(Cast(a, DoubleType), Cast(b, DoubleType)) })
      reg("covarSamp")({ case Seq(a, b) =>
        CovSample(Cast(a, DoubleType), Cast(b, DoubleType)) })
      // avgWeighted(x, w) = Σxw / Σw — two sums, one pass
      reg("avgWeighted")({ case Seq(x, w) =>
        Divide(
          Sum(Multiply(Cast(x, DoubleType), Cast(w, DoubleType)))
            .toAggregateExpression(),
          Sum(Cast(w, DoubleType)).toAggregateExpression())
      })
      // sumCount(x) → CH's (sum, count) tuple
      reg("sumCount")({ case Seq(x) =>
        CreateNamedStruct(Seq(
          Literal("sum"), Sum(x).toAggregateExpression(),
          Literal("count"), Count(Seq(x)).toAggregateExpression()))
      })
      // anyHeavy(x): CH promises "a frequently-occurring value"
      // (heavy-hitter, result engine-defined) — we return the exact
      // mode with a value-ascending tie-break, a valid and
      // deterministic instance of that contract (topK(1) head)
      reg("anyHeavy")({ case Seq(x) =>
        val arr = CollectList(x).toAggregateExpression()
        val e = lv("eAH"); val y = lv("yAH"); val s = lv("sAH")
        val pairs = ArrayTransform(ArrayDistinct(arr),
          LambdaFunction(
            CreateNamedStruct(Seq(
              Literal("c"),
              UnaryMinus(Size(ArrayFilter(arr,
                LambdaFunction(EqualTo(y, e), Seq(y))))),
              Literal("v"), e)),
            Seq(e)))
        ElementAt(
          ArrayTransform(Slice(new ArraySort(pairs), Literal(1), Literal(1)),
            LambdaFunction(
              org.apache.spark.sql.catalyst.analysis
                .UnresolvedExtractValue(s, Literal("v")), Seq(s))),
          Literal(1))
      })
      // deltaSum(x): sum of positive deltas between consecutive values
      // in the group's arrival order (groupArray's ordering caveat)
      reg("deltaSum")({ case Seq(x) =>
        val arr = CollectList(Cast(x, DoubleType)).toAggregateExpression()
        val l = lv("lDS"); val r = lv("rDS")
        val acc = lv("accDS"); val d = lv("dDS"); val f = lv("fDS")
        val diffs = ZipWith(arr,
          Slice(arr, Literal(2),
            Greatest(Seq(Literal(0), Subtract(Size(arr), Literal(1))))),
          LambdaFunction(
            If(IsNull(r), Literal(0.0d),
              Greatest(Seq(Literal(0.0d), Subtract(r, l)))),
            Seq(l, r)))
        ArrayAggregate(diffs, Literal(0.0d),
          LambdaFunction(Add(acc, d), Seq(acc, d)),
          LambdaFunction(f, Seq(f)))
      })
      // intervalLengthSum(start, end): total length of the UNION of the
      // group's [start, end) intervals — sort by (start, end), one
      // sweep carrying (total, covered-end); per-group memory is the
      // interval count (surface aggregate, not a scan operator)
      reg("intervalLengthSum")({ case Seq(st, en) =>
        val arr = new ArraySort(CollectList(CreateNamedStruct(Seq(
          Literal("s"), Cast(st, DoubleType),
          Literal("e"), Cast(en, DoubleType)))).toAggregateExpression())
        val acc = lv("accIL"); val iv = lv("ivIL"); val f = lv("fIL")
        def fldOf(x: Expression, nme: String) =
          org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(x, Literal(nme))
        val negInf = Literal(Double.NegativeInfinity)
        val zero = CreateNamedStruct(Seq(
          Literal("tot"), Literal(0.0d), Literal("cov"), negInf))
        val step = CreateNamedStruct(Seq(
          Literal("tot"),
          Add(fldOf(acc, "tot"),
            Greatest(Seq(Literal(0.0d),
              Subtract(fldOf(iv, "e"),
                Greatest(Seq(fldOf(iv, "s"), fldOf(acc, "cov"))))))),
          Literal("cov"),
          Greatest(Seq(fldOf(acc, "cov"), fldOf(iv, "e")))))
        ArrayAggregate(arr, zero,
          LambdaFunction(step, Seq(acc, iv)),
          LambdaFunction(fldOf(f, "tot"), Seq(f)))
      })

      // skewPop/kurtPop: population central moments via raw-moment
      // averages (E[x^k]); kurtPop is CH's NON-excess μ4/σ⁴ (3 for a
      // normal), unlike Spark's excess `kurtosis`. Single pass, all
      // map-side combinable. The -Samp variants are deliberately
      // absent (CH's sample-correction formulas are not documented
      // precisely enough to claim parity).
      def rawMoment(x: Expression, k: Int): Expression =
        Average(Pow(Cast(x, DoubleType), Literal(k.toDouble))).toAggregateExpression()
      reg("skewPop")({ case Seq(x) =>
        val e1 = rawMoment(x, 1); val e2 = rawMoment(x, 2); val e3 = rawMoment(x, 3)
        val mu3 = Add(Subtract(e3, Multiply(Literal(3.0d), Multiply(rawMoment(x, 1), rawMoment(x, 2)))),
          Multiply(Literal(2.0d), Pow(rawMoment(x, 1), Literal(3.0d))))
        val sig2 = Subtract(e2, Multiply(e1, e1))
        Divide(mu3, Pow(sig2, Literal(1.5d)))
      })
      reg("kurtPop")({ case Seq(x) =>
        val e1 = rawMoment(x, 1); val e2 = rawMoment(x, 2)
        val e3 = rawMoment(x, 3); val e4 = rawMoment(x, 4)
        val mu4 = Add(
          Subtract(Add(e4, Multiply(Literal(6.0d),
              Multiply(Multiply(rawMoment(x, 1), rawMoment(x, 1)), rawMoment(x, 2)))),
            Multiply(Literal(4.0d), Multiply(rawMoment(x, 1), e3))),
          Multiply(Literal(-3.0d), Pow(rawMoment(x, 1), Literal(4.0d))))
        val sig2 = Subtract(e2, Multiply(e1, e1))
        Divide(mu4, Multiply(sig2, sig2))
      })

      // r19b statistical aggregate tail — native typed aggregates in
      // graft.functions.StatsAgg (mergeable states, never UDFs)
      reg("sumKahan")({ case Seq(x) =>
        graft.functions.KahanSumAgg(Cast(x, DoubleType)).toAggregateExpression()
      })
      // histogram(bins)(x) → (x, bins) via the parametric pre-pass
      reg("histogram")({ case Seq(x, Literal(b: Int, IntegerType)) =>
        graft.functions.HistogramAgg(Cast(x, DoubleType), b)
          .toAggregateExpression()
      })
      reg("maxIntersections")({ case Seq(s, e) =>
        graft.functions.MaxIntersectionsAgg(
          Cast(s, LongType), Cast(e, LongType), position = false)
          .toAggregateExpression()
      })
      reg("maxIntersectionsPosition")({ case Seq(s, e) =>
        graft.functions.MaxIntersectionsAgg(
          Cast(s, LongType), Cast(e, LongType), position = true)
          .toAggregateExpression()
      })
      // largestTriangleThreeBuckets(n)(x, y) → (x, y, n)
      reg("largestTriangleThreeBuckets")(
        { case Seq(x, y, Literal(b: Int, IntegerType)) =>
          graft.functions.LttbAgg(x, y, b).toAggregateExpression()
        })
      reg("lttb")({ case Seq(x, y, Literal(b: Int, IntegerType)) =>
        graft.functions.LttbAgg(x, y, b).toAggregateExpression()
      })
      // groupConcat[(delim[, limit])](x) — parametric pre-pass gives
      // (x[, delim[, limit]]); CH's default delimiter is EMPTY
      reg("groupConcat")({
        case Seq(x) =>
          ArrayJoin(CollectList(Cast(x, StringType)).toAggregateExpression(),
            Literal(""), None)
        case Seq(x, delim) =>
          ArrayJoin(CollectList(Cast(x, StringType)).toAggregateExpression(),
            delim, None)
        case Seq(x, delim, limit) =>
          ArrayJoin(
            Slice(CollectList(Cast(x, StringType)).toAggregateExpression(),
              Literal(1), Cast(limit, IntegerType)),
            delim, None)
      })
      // accurateCast(x, 'T') — CH's loss-refusing cast (ANSI throw);
      // accurateCastOrNull NULLs instead. Type names parse through the
      // native protocol's own CH type grammar.
      def chTypeOf(t: Expression): DataType = t match {
        case Literal(s: org.apache.spark.unsafe.types.UTF8String, StringType) =>
          graft.service.native.NativeBlock.sparkTypeOf(
            graft.service.native.NativeBlock.parseType(s.toString))
        case other => throw new IllegalArgumentException(
          s"accurateCast needs a literal type name, got $other")
      }
      reg("accurateCast")({ case Seq(x, t) =>
        Cast(x, chTypeOf(t), None, EvalMode.ANSI) })
      reg("accurateCastOrNull")({ case Seq(x, t) =>
        Cast(x, chTypeOf(t), None, EvalMode.TRY) })
      reg("studentTTest")({ case Seq(v, ix) =>
        graft.functions.TTestAgg(v, ix, welch = false).toAggregateExpression()
      })
      reg("welchTTest")({ case Seq(v, ix) =>
        graft.functions.TTestAgg(v, ix, welch = true).toAggregateExpression()
      })
      reg("mannWhitneyUTest")({ case Seq(v, ix) =>
        graft.functions.MannWhitneyAgg(v, ix).toAggregateExpression()
      })
      reg("kolmogorovSmirnovTest")({ case Seq(v, ix) =>
        graft.functions.KsTestAgg(v, ix).toAggregateExpression()
      })
      // categorical association over one contingency-table state
      reg("cramersV")({ case Seq(x, y) =>
        graft.functions.AssociationAgg(x, y, 0).toAggregateExpression() })
      reg("cramersVBiasCorrected")({ case Seq(x, y) =>
        graft.functions.AssociationAgg(x, y, 1).toAggregateExpression() })
      reg("theilsU")({ case Seq(x, y) =>
        graft.functions.AssociationAgg(x, y, 2).toAggregateExpression() })
      reg("contingency")({ case Seq(x, y) =>
        graft.functions.AssociationAgg(x, y, 3).toAggregateExpression() })
      reg("arrayAUC")({ case Seq(s, l) =>
        graft.functions.ArrayAucExpr(s, l) })
      reg("seriesOutliersDetectTukey")(es =>
        graft.functions.TukeyOutliersExpr(es))
      reg("deltaSumTimestamp")({ case Seq(v, t) =>
        graft.functions.DeltaSumTimestampAgg(v, t).toAggregateExpression() })
      // singleValueOrNull: the value when the group holds exactly one
      // distinct value, NULL otherwise (scalar-subquery semantics)
      reg("singleValueOrNull")({ case Seq(x) =>
        If(EqualTo(
          Count(Seq(x)).toAggregateExpression(isDistinct = true),
          Literal(1L)),
          Max(x).toAggregateExpression(), Literal(null, NullType))
      })
      // groupArraySample(n)(x) — engine-defined sample like CH's
      // (Shuffle is per-task seeded, never deterministic by contract)
      reg("groupArraySample")({ case Seq(x, n) =>
        Slice(new Shuffle(CollectList(x).toAggregateExpression()),
          Literal(1), Cast(n, IntegerType))
      })
      // groupArrayIntersect: intersection of the array column across
      // rows — fold over the collected arrays; the typed empty zero is
      // Flatten of an empty slice and the first element seeds via a
      // branch INSIDE the HOF (never element_at on an empty collect)
      reg("groupArrayIntersect")({ case Seq(arr) =>
        val c = CollectList(arr).toAggregateExpression()
        val acc = lv("accGAI"); val a = lv("aGAI"); val fin = lv("fGAI")
        ArrayAggregate(
          Slice(c, Literal(2), Greatest(Seq(
            Subtract(Size(c), Literal(1)), Literal(0)))),
          If(EqualTo(Size(c), Literal(0)),
            Flatten(Slice(c, Literal(1), Literal(0))),
            ElementAt(c, Literal(1))),
          LambdaFunction(ArrayIntersect(acc, a), Seq(acc, a)),
          LambdaFunction(fin, Seq(fin)))
      })
      // (countMap is NOT here: the combinator grammar already serves
      // count+Map over (keys, values) — a static single-arg spelling
      // would shadow it, the bug class the shadow-guard exists for)
      // (no hostname: the registry is case-insensitive, so hostName
      // above answers it; a second entry would replace the first, with
      // a warning, in every new session)
      reg("firstLine")({ case Seq(s) =>
        ElementAt(StringSplit(s, Literal("\n"), Literal(2)), Literal(1)) })
      // the doors' CH-convention ports
      reg("tcpPort")(_ => Literal(9000))
      reg("httpPort")(_ => Literal(8123))
      // A/B sample-size calculators (two-sided alpha, one-sided power)
      // — closed normal-approximation formulas on AS241 quantiles;
      // literal parameters (they shape a constant)
      def litD(e: Expression, nme: String): Double = e match {
        case Literal(v: java.lang.Number, _) => v.doubleValue()
        case Literal(d: Decimal, _) => d.toDouble
        case other => throw new IllegalArgumentException(
          s"minSampleSize needs a literal $nme, got $other")
      }
      reg("minSampleSizeContinuous")({ case Seq(bl, sg, mde, p, a) =>
        val sigma = litD(sg, "sigma"); val m = litD(mde, "mde")
        val power = litD(p, "power"); val alpha = litD(a, "alpha")
        val baseline = litD(bl, "baseline")
        val za = graft.functions.NormInv(1.0 - alpha / 2.0)
        val zb = graft.functions.NormInv(power)
        val delta = m * baseline
        val n = math.ceil(
          2.0 * (za + zb) * (za + zb) * sigma * sigma / (delta * delta))
        CreateNamedStruct(Seq(
          Literal("minimum_sample_size"), Literal(n),
          Literal("detect_range_lower"), Literal(baseline - delta),
          Literal("detect_range_upper"), Literal(baseline + delta)))
      })
      reg("minSampleSizeConversion")({ case Seq(bl, mde, p, a) =>
        val baseline = litD(bl, "baseline"); val m = litD(mde, "mde")
        val power = litD(p, "power"); val alpha = litD(a, "alpha")
        val za = graft.functions.NormInv(1.0 - alpha / 2.0)
        val zb = graft.functions.NormInv(power)
        val variance = baseline * (1.0 - baseline)
        val n = math.ceil(
          2.0 * (za + zb) * (za + zb) * variance / (m * m))
        CreateNamedStruct(Seq(
          Literal("minimum_sample_size"), Literal(n),
          Literal("detect_range_lower"), Literal(baseline - m),
          Literal("detect_range_upper"), Literal(baseline + m)))
      })
      // exponentialMovingAverage(halflife)(value, time) → (v, t, h)
      reg("exponentialMovingAverage")({ case Seq(v, t, h) =>
        val hl = h match {
          case Literal(d: java.lang.Number, _) => d.doubleValue()
          case Literal(d: Decimal, _) => d.toDouble
          case other => throw new IllegalArgumentException(
            s"exponentialMovingAverage needs a literal halflife, got $other")
        }
        graft.functions.ExpMovingAvgAgg(v, t, hl).toAggregateExpression()
      })

      // (dateDiff is NOT here: Spark's parser special-cases the name
      // before the registry, so ChSql.rewriteDateDiff handles it)

      // formatDateTime(ts, '%Y-%m-%d') — CH strftime codes translated
      // literally to Spark's java.time pattern letters
      def strftimeToJava(f: String): String = {
        val sb = new StringBuilder
        var i = 0
        while (i < f.length) {
          if (f.charAt(i) == '%' && i + 1 < f.length) {
            sb.append(f.charAt(i + 1) match {
              case 'Y' => "yyyy"; case 'y' => "yy"; case 'm' => "MM"
              case 'd' => "dd"; case 'H' => "HH"; case 'M' => "mm"
              case 'S' => "ss"; case 'F' => "yyyy-MM-dd"
              case 'T' => "HH:mm:ss"; case 'j' => "DDD"; case 'e' => "d"
              // the MySQL-style codes CH also documents (r19b)
              case 'i' => "mm"; case 's' => "ss"; case 'p' => "a"
              case 'b' => "MMM"; case 'W' => "EEEE"; case 'a' => "EEE"
              case 'c' => "M"; case 'I' => "hh"; case 'l' => "h"
              case 'n' => "\n"; case 't' => "\t"
              case '%' => "%"
              case other => throw new IllegalArgumentException(
                s"formatDateTime: unsupported code %$other")
            })
            i += 2
          } else { sb.append(f.charAt(i)); i += 1 }
        }
        sb.toString
      }
      reg("formatDateTime")({ case Seq(ts, Literal(f: org.apache.spark.unsafe.types.UTF8String, StringType)) =>
        DateFormatClass(Cast(ts, TimestampType),
          Literal(strftimeToJava(f.toString)))
      })
      // parseDateTime — the MySQL-style format CH documents; rides the
      // same strftime→Java translation as formatDateTime (r19b)
      reg("parseDateTime")({ case Seq(s, Literal(f: org.apache.spark.unsafe.types.UTF8String, StringType)) =>
        new ParseToTimestamp(s, Literal(strftimeToJava(f.toString)))
      })
      reg("parseDateTimeOrNull")({ case Seq(s, Literal(f: org.apache.spark.unsafe.types.UTF8String, StringType)) =>
        TryEval(new ParseToTimestamp(s, Literal(strftimeToJava(f.toString))))
      })

      // splitByString(sep, s) — multi-char literal separator, CH arg order
      reg("splitByString")({ case Seq(sep, s) =>
        val escaped = sep match {
          case Literal(v: org.apache.spark.unsafe.types.UTF8String, StringType) =>
            Literal(java.util.regex.Pattern.quote(v.toString))
          case other => other
        }
        StringSplit(s, escaped, Literal(-1))
      })
      // (startsWith/endsWith need no alias: Spark's registry resolves
      // its native startswith/endswith case-insensitively)

      // scalar-function compat tail: CH camelCase spellings of native
      // Spark expressions (bitwise, rounding, padding, base64, struct)
      reg("bitAnd")({ case Seq(a, b) => BitwiseAnd(a, b) })
      reg("bitOr")({ case Seq(a, b) => BitwiseOr(a, b) })
      reg("bitXor")({ case Seq(a, b) => BitwiseXor(a, b) })
      reg("bitNot")(exprs => BitwiseNot(exprs.head))
      reg("bitShiftLeft")({ case Seq(a, b) => ShiftLeft(a, Cast(b, IntegerType)) })
      reg("bitShiftRight")({ case Seq(a, b) => ShiftRight(a, Cast(b, IntegerType)) })
      // CH roundBankers = round-half-even (Spark's bround)
      reg("roundBankers")({
        case Seq(x) => BRound(x, Literal(0))
        case Seq(x, n) => BRound(x, n)
      })
      reg("leftPad")({ case Seq(s, n, p) => StringLPad(s, Cast(n, IntegerType), p) })
      reg("rightPad")({ case Seq(s, n, p) => StringRPad(s, Cast(n, IntegerType), p) })
      reg("base64Encode")(exprs => Base64(Cast(exprs.head, BinaryType)))
      // base58/base32 codecs + IDNA (r19b): pure kernels in
      // graft.functions.BaseCodecs; try-variants NULL on bad input
      reg("base58Encode")(e => graft.functions.BaseCodecExpr(e.head, 0))
      reg("base58Decode")(e => graft.functions.BaseCodecExpr(e.head, 1))
      reg("tryBase58Decode")(e => graft.functions.BaseCodecExpr(e.head, 2))
      reg("base32Encode")(e => graft.functions.BaseCodecExpr(e.head, 3))
      reg("base32Decode")(e => graft.functions.BaseCodecExpr(e.head, 4))
      reg("tryBase32Decode")(e => graft.functions.BaseCodecExpr(e.head, 5))
      reg("idnaEncode")(e => graft.functions.BaseCodecExpr(e.head, 6))
      reg("idnaDecode")(e => graft.functions.BaseCodecExpr(e.head, 7))
      reg("mortonEncode")(
        { case Seq(a, b) => graft.functions.MortonExpr(a, b, encode = true) })
      reg("mortonDecode")(
        { case Seq(d, z) => graft.functions.MortonExpr(d, z, encode = false) })
      reg("base64Decode")(exprs => Cast(UnBase64(exprs.head), StringType))
      reg("assumeNotNull")(exprs => KnownNotNull(exprs.head))
      // CH tuples are Spark structs; tupleElement is 1-based positional
      reg("tuple")(exprs => CreateStruct(exprs))
      // tupleElement: CH allows an index OR a field name
      reg("tupleElement")({
        case Seq(t, Literal(i: Int, IntegerType)) => GetStructField(t, i - 1)
        case Seq(t, n @ Literal(_, StringType)) =>
          org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(t, n)
      })
      // arrayElement: 1-based, negative-from-end — element_at's contract
      reg("arrayElement")({ case Seq(a, i) => ElementAt(a, i) })
      reg("toYYYYMMDD")({ exprs =>
        val d = Cast(exprs.head, DateType)
        Add(Multiply(Year(d), Literal(10000)),
          Add(Multiply(Month(d), Literal(100)), DayOfMonth(d)))
      })
      // fixed-interval truncations: floor the epoch to the bucket
      def toStartOfN(secs: Int): Seq[Expression] => Expression = { exprs =>
        val ep = Cast(Cast(exprs.head, TimestampType), LongType)
        Cast(Multiply(IntegralDivide(ep, Literal(secs.toLong)),
          Literal(secs.toLong)), TimestampType)
      }
      reg("toStartOfFiveMinutes")(toStartOfN(300))
      reg("toStartOfTenMinutes")(toStartOfN(600))
      reg("toStartOfFifteenMinutes")(toStartOfN(900))
      def subUnit(unit: String): Seq[Expression] => Expression = {
        case Seq(ts, n) =>
          TimestampAdd(unit, UnaryMinus(n), Cast(ts, TimestampType))
      }
      reg("subtractDays")(subUnit("DAY"))
      reg("subtractHours")(subUnit("HOUR"))
      reg("subtractMinutes")(subUnit("MINUTE"))
      reg("subtractSeconds")(subUnit("SECOND"))

      reg("trimLeft")(exprs => new StringTrimLeft(exprs.head))
      reg("trimRight")(exprs => new StringTrimRight(exprs.head))
      reg("trimBoth")(exprs => new StringTrim(exprs.head))
      reg("concatWithSeparator")(exprs => ConcatWs(exprs))
      // CH format('{} and {n}', args…) → printf: {} consumes the next
      // arg, {n} is 0-based positional. Literal patterns only.
      reg("format")({ case Literal(f: org.apache.spark.unsafe.types.UTF8String, StringType) +: args =>
        val sb = new StringBuilder; var next = 0
        val pat = "\\{(\\d*)\\}".r
        var last = 0
        for (m <- pat.findAllMatchIn(f.toString)) {
          sb.append(f.toString.substring(last, m.start).replace("%", "%%"))
          val idx = if (m.group(1).isEmpty) { next += 1; next } else m.group(1).toInt + 1
          sb.append(s"%$idx$$s")
          last = m.end
        }
        sb.append(f.toString.substring(last).replace("%", "%%"))
        FormatString(Literal(sb.toString) +: args: _*)
      })
      reg("arrayReverseSort")(exprs => Reverse(new ArraySort(exprs.head)))
      // countSubstrings(s, sub): non-overlapping occurrences via length
      // arithmetic — stays codegen'd, no regex
      reg("countSubstrings")({ case Seq(s0, sub) =>
        Cast(Divide(
          Subtract(Length(s0), Length(StringReplace(s0, sub, Literal("")))),
          Length(sub)), LongType)
      })
      reg("positionCaseInsensitive")({ case Seq(h, n) =>
        StringLocate(Lower(n), Lower(h), Literal(1)) })
      reg("positionCaseInsensitiveUTF8")({ case Seq(h, n) =>
        StringLocate(Lower(n), Lower(h), Literal(1)) })
      reg("countSubstringsCaseInsensitive")({ case Seq(s0, sub) =>
        Cast(Divide(
          Subtract(Length(s0),
            Length(StringReplace(Lower(s0), Lower(sub), Literal("")))),
          Length(sub)), LongType)
      })
      // multiSearchAny(haystack, array('n1','n2',…)): true if any needle
      // is a substring. The literal needle set expands to an Or-chain of
      // Contains — stays codegen'd, no regex engine
      reg("multiSearchAny")({ case Seq(h, CreateArray(needles, _)) =>
        require(needles.nonEmpty, "multiSearchAny needs at least one needle")
        needles.map(n => Contains(h, n): Expression).reduceLeft(Or)
      })
      // hasToken(haystack, 'tok'): the token bounded by non-alphanumeric
      // chars — INCLUDING underscore, which CH treats as a separator
      // (tokens are maximal [A-Za-z0-9] runs). RE2-compatible pattern —
      // no lookaround — so the same regex runs under Java and RE2
      reg("hasToken")({ case Seq(h, Literal(t: org.apache.spark.unsafe.types.UTF8String, StringType)) =>
        RLike(h, Literal(
          "(^|[^A-Za-z0-9])" + java.util.regex.Pattern.quote(t.toString) +
            "([^A-Za-z0-9]|$)"))
      })
      // hasTokenOrNull: NULL (not an error) when the needle is not a
      // single token — CH's OrNull convention
      reg("hasTokenOrNull")({ case Seq(h, lit @ Literal(t: org.apache.spark.unsafe.types.UTF8String, StringType)) =>
        if (t.toString.isEmpty || !t.toString.forall(_.isLetterOrDigit))
          Literal.create(null, BooleanType)
        else RLike(h, Literal(
          "(^|[^A-Za-z0-9])" + java.util.regex.Pattern.quote(t.toString) +
            "([^A-Za-z0-9]|$)"))
      })
      // splitByRegexp(re, s) — CH arg order, regex separator
      reg("splitByRegexp")({ case Seq(re, s) => StringSplit(s, re, Literal(-1)) })
      // CH transform(x, [from…], [to…], default) value remap — registered
      // as chTransform; the ChSql pre-pass routes CH's 4-arg spelling
      // here so Spark's own array transform(arr, lambda) keeps working.
      // array_position (FIRST match) instead of a map: CH allows
      // duplicate 'from' values with first-match-wins, while
      // MapFromArrays would throw on duplicates under the default
      // map-key dedup policy
      reg("chTransform")({ case Seq(x, from, to, default) =>
        val pos = ArrayPosition(from, x)
        If(EqualTo(pos, Literal(0L)), default,
          ElementAt(to, Cast(pos, IntegerType)))
      })
      // halfMD5(s): the first 8 bytes of md5 as a big-endian 64-bit
      // value (CH's cheap sharding hash). Assembled from two 32-bit
      // halves with shift-or — conv() of the full 16 hex digits would
      // produce an unsigned decimal string that overflows an ANSI
      // signed-long cast for half the hash space. UInt64 lands in Long
      // two's-complement (the documented UInt64 mapping, §1.2).
      reg("halfMD5")({ exprs =>
        val hex = Md5(Cast(exprs.head, BinaryType))
        def half(start: Int) = Cast(
          Conv(Substring(hex, Literal(start), Literal(8)), Literal(16), Literal(10)),
          LongType)
        BitwiseOr(ShiftLeft(half(1), Literal(32)), half(9))
      })
      // human-readable display helpers (CH dashboard staples): pick the
      // largest unit whose threshold |v| reaches, render "%.2f unit".
      // The ascending fold nests each smaller-unit branch as the else of
      // the next, so the FINAL expression tests the largest unit first.
      def readableLadder(units: Seq[String], base: Double): Seq[Expression] => Expression = {
        exprs =>
          val v = Cast(exprs.head, DoubleType)
          val absV = Abs(v)
          def fmt(u: String, scaled: Expression): Expression =
            FormatString(Literal(if (u.isEmpty) "%.2f" else s"%.2f $u"), scaled)
          var e: Expression = fmt(units.head, v)
          for ((u, k) <- units.zipWithIndex.drop(1)) {
            val p = math.pow(base, k.toDouble)
            e = If(GreaterThanOrEqual(absV, Literal(p)),
              fmt(u, Divide(v, Literal(p))), e)
          }
          e
      }
      reg("formatReadableSize")(readableLadder(
        Seq("B", "KiB", "MiB", "GiB", "TiB", "PiB", "EiB"), 1024.0))
      reg("formatReadableQuantity")(readableLadder(
        Seq("", "thousand", "million", "billion", "trillion", "quadrillion"), 1000.0))
      // bar(x, min, max, width): unicode bar with eighth-block partials
      // (CH's rendering) — full blocks plus one of ▏▎▍▌▋▊▉ for the
      // fractional eighths, clamped to [0, width]
      reg("bar")({ case Seq(x, mn, mx, w) =>
        val frac = Least(Seq(Greatest(Seq(
          Multiply(Divide(Subtract(Cast(x, DoubleType), Cast(mn, DoubleType)),
            Subtract(Cast(mx, DoubleType), Cast(mn, DoubleType))), Cast(w, DoubleType)),
          Literal(0.0))), Cast(w, DoubleType)))
        val full = Cast(Floor(frac), IntegerType)
        val rem8 = Cast(Floor(Multiply(Subtract(frac, Floor(frac)), Literal(8.0))),
          IntegerType)
        Concat(Seq(
          StringRepeat(Literal("█"), full),
          If(EqualTo(rem8, Literal(0)), Literal(""),
            Substring(Literal("▏▎▍▌▋▊▉"), rem8, Literal(1)))))
      })
      // tokens(s): maximal alphanumeric runs (CH tokenizes on everything
      // else); boundary splits leave empty strings — removed
      reg("tokens")(exprs => ArrayRemove(
        StringSplit(exprs.head, Literal("[^A-Za-z0-9]+"), Literal(-1)),
        Literal("")))
      // alphaTokens(s): maximal LATIN-LETTER runs only (digits split)
      reg("alphaTokens")(exprs =>
        RegExpExtractAll(exprs.head, Literal("([A-Za-z]+)"), Literal(1)))
      // character n-gram array: substrings of length n at offsets 1..len-n+1
      // (built as a native transform-over-sequence lambda — codegen'd,
      // no UDF); shorter strings yield an empty array
      def charNgrams(s: Expression, n: Expression): Expression = {
        val i = NamedLambdaVariable("i", LongType, nullable = false)
        val len = Length(s)
        If(LessThan(len, n),
          Literal.create(Seq.empty[String], ArrayType(StringType)),
          ArrayTransform(
            Sequence(Literal(1L), Add(Cast(Subtract(len, n), LongType), Literal(1L)), None),
            LambdaFunction(Substring(s, Cast(i, IntegerType), Cast(n, IntegerType)), Seq(i))))
      }
      reg("ngrams")({ case Seq(s, n) => charNgrams(s, n) })
      // ngramDistance(a, b): 1 − Jaccard over distinct 4-gram sets.
      // CH's implementation hashes 4-gram multisets; this is the set
      // variant of the same signal — 0 = identical gram sets, 1 =
      // disjoint. Both inputs gramless → 0; exactly one → 1.
      reg("ngramDistance")({ case Seq(a, b) =>
        val ga = ArrayDistinct(charNgrams(a, Literal(4)))
        val gb = ArrayDistinct(charNgrams(b, Literal(4)))
        val union = Cast(Size(ArrayDistinct(Concat(Seq(ga, gb)))), DoubleType)
        val inter = Cast(Size(ArrayIntersect(ga, gb)), DoubleType)
        If(EqualTo(union, Literal(0.0)), Literal(0.0),
          Subtract(Literal(1.0), Divide(inter, union)))
      })
      // CH range(n) = [0..n-1]; range(start, end[, step]) end-exclusive.
      // Guarded: Spark's sequence(a, b) runs DESCENDING when a > b, so
      // an empty CH range (end ≤ start) must short-circuit
      def chRange(a: Expression, b: Expression, st: Option[Expression]): Expression = {
        val lo = Cast(a, LongType); val hi = Cast(b, LongType)
        If(LessThanOrEqual(hi, lo),
          Literal.create(Seq.empty[Long], ArrayType(LongType)),
          Sequence(lo, Subtract(hi, Literal(1L)), st.map(Cast(_, LongType)), None))
      }
      reg("range")({
        case Seq(n) => chRange(Literal(0L), n, None)
        case Seq(a, b) => chRange(a, b, None)
        case Seq(a, b, st) => chRange(a, b, Some(st))
      })

      // map-type spellings over Spark's native map expressions
      reg("mapKeys")(exprs => MapKeys(exprs.head))
      reg("mapValues")(exprs => MapValues(exprs.head))
      reg("mapContains")({ case Seq(m, k) => ArrayContains(MapKeys(m), k) })
      reg("mapFromArrays")({ case Seq(k, v) => MapFromArrays(k, v) })

      // array-manipulation tail (compositions over native slices/concat)
      reg("arrayIntersect")({ case Seq(a, b) => ArrayIntersect(a, b) })
      reg("arrayPushBack")({ case Seq(a, x) => Concat(Seq(a, CreateArray(Seq(x)))) })
      reg("arrayPushFront")({ case Seq(a, x) => Concat(Seq(CreateArray(Seq(x)), a)) })
      reg("arrayPopBack")(exprs =>
        Slice(exprs.head, Literal(1), Greatest(Seq(Subtract(Size(exprs.head), Literal(1)), Literal(0)))))
      reg("arrayPopFront")(exprs =>
        Slice(exprs.head, Literal(2), Greatest(Seq(Subtract(Size(exprs.head), Literal(1)), Literal(0)))))
      // extractAll(s, re): every match's group 1 (whole match if no group)
      reg("extractAll")({ case Seq(s, p) =>
        val group = p match {
          case Literal(v: org.apache.spark.unsafe.types.UTF8String, StringType)
              if v.toString.contains("(") => 1
          case _ => 0
        }
        RegExpExtractAll(s, p, Literal(group))
      })
      // every match's FULL capture-group vector (r19b)
      reg("extractAllGroups")(
        { case Seq(s, p) => graft.functions.ExtractAllGroupsExpr(s, p, horizontal = false) })
      reg("extractAllGroupsVertical")(
        { case Seq(s, p) => graft.functions.ExtractAllGroupsExpr(s, p, horizontal = false) })
      reg("extractAllGroupsHorizontal")(
        { case Seq(s, p) => graft.functions.ExtractAllGroupsExpr(s, p, horizontal = true) })

      // common-name tail: CH spellings whose Spark twin exists under a
      // different name (or composes from two builtins)
      reg("negate")({ case Seq(x) => UnaryMinus(x) })
      // toNullable is a TYPE assertion in CH; values pass through
      reg("toNullable")({ case Seq(x) => x })
      reg("today")(_ => CurrentDate())
      reg("yesterday")(_ => DateSub(CurrentDate(), Literal(1)))
      reg("substringUTF8")({ case Seq(s, p, l) => Substring(s, p, l) })
      reg("exp10")({ case Seq(x) => Pow(Literal(10.0d), x) })
      reg("intExp2")({ case Seq(x) => ShiftLeft(Literal(1L), Cast(x, IntegerType)) })
      // hasSubstr(a, b): b appears in a as a CONTIGUOUS subsequence
      // (CH contract; empty b holds). Row-local window scan. The
      // length guard matters: Spark's sequence(1, 0) DESCENDS instead
      // of being empty, so short arrays must short-circuit to false.
      reg("hasSubstr")({ case Seq(a, b) =>
        val i = lv("iHS")
        val scan = ArrayExists(
          ArrayTransform(
            Sequence(Literal(1),
              Subtract(Size(a), Subtract(Size(b), Literal(1))), None),
            LambdaFunction(EqualTo(Slice(a, i, Size(b)), b), Seq(i))),
          LambdaFunction(lv("xHS"), Seq(lv("xHS"))))
        If(EqualTo(Size(b), Literal(0)), Literal(true),
          If(LessThan(Size(a), Size(b)), Literal(false), scan))
      })
      // multiSearchAllPositions(s, [n1,…]): 1-based position per
      // needle, 0 when absent — one row-local pass per needle
      reg("multiSearchAllPositions")({ case Seq(s, needles) =>
        val n = lv("nMS")
        ArrayTransform(needles,
          LambdaFunction(Cast(new StringLocate(n, s), LongType), Seq(n)))
      })
      // emptyArray<T>() family — typed empty-array literals
      Seq(
        "emptyArrayInt8" -> ByteType, "emptyArrayInt16" -> ShortType,
        "emptyArrayInt32" -> IntegerType, "emptyArrayInt64" -> LongType,
        "emptyArrayUInt8" -> ShortType, "emptyArrayUInt16" -> IntegerType,
        "emptyArrayUInt32" -> LongType, "emptyArrayUInt64" -> LongType,
        "emptyArrayFloat32" -> FloatType, "emptyArrayFloat64" -> DoubleType,
        "emptyArrayString" -> StringType, "emptyArrayDate" -> DateType
      ).foreach { case (name, dt) =>
        reg(name)(_ => Cast(CreateArray(Nil), ArrayType(dt)))
      }

      // CH window-function spellings (used inside OVER clauses — the
      // registry resolves the name, the parser supplies the window)
      reg("lagInFrame")({
        case Seq(e) => Lag(e, Literal(1), Literal(null), ignoreNulls = false)
        case Seq(e, n) => Lag(e, n, Literal(null), ignoreNulls = false)
        case Seq(e, n, d) => Lag(e, n, d, ignoreNulls = false)
      })
      reg("leadInFrame")({
        case Seq(e) => Lead(e, Literal(1), Literal(null), ignoreNulls = false)
        case Seq(e, n) => Lead(e, n, Literal(null), ignoreNulls = false)
        case Seq(e, n, d) => Lead(e, n, d, ignoreNulls = false)
      })

      // Unicode normalization (native codegen'd kernels; the dedup-key
      // normalization step — composed/decomposed accents must collide)
      reg("normalizeUTF8NFC")(exprs => graft.functions.NormalizeUTF8(exprs.head, "nfc"))
      reg("normalizeUTF8NFD")(exprs => graft.functions.NormalizeUTF8(exprs.head, "nfd"))
      reg("normalizeUTF8NFKC")(exprs => graft.functions.NormalizeUTF8(exprs.head, "nfkc"))
      reg("normalizeUTF8NFKD")(exprs => graft.functions.NormalizeUTF8(exprs.head, "nfkd"))

      // ---- round-9 dialect tail (array/bit/date/string/geo) ----

      // foldable string argument (units, part names)
      object StringLit {
        def unapply(e: Expression): Option[String] = e match {
          case Literal(u: org.apache.spark.unsafe.types.UTF8String, StringType) =>
            Some(u.toString)
          case _ => None
        }
      }
      def arrayResizeExpr(arr: Expression, n0: Expression, pad: Expression): Expression = {
        val n = Cast(n0, IntegerType)
        val len = Size(arr)
        If(LessThanOrEqual(n, len), Slice(arr, Literal(1), n),
          Concat(Seq(arr, ArrayRepeat(pad, Subtract(n, len)))))
      }
      def startOfWeek(d: Expression, sundayFirst: Boolean): Expression = {
        val date = Cast(d, DateType)
        val back =
          if (sundayFirst) Subtract(DayOfWeek(date), Literal(1))
          else Pmod(Subtract(DayOfWeek(date), Literal(2)), Literal(7))
        DateSub(date, back)
      }
      def tryTs(s: Expression, fmt: String): Expression =
        org.apache.spark.sql.catalyst.analysis.UnresolvedFunction(
          "try_to_timestamp", Seq(s, Literal(fmt)), isDistinct = false)

      // arrayEnumerateDense([10,20,10]) = [1,2,1]: rank by order of
      // first appearance — 1-based position in the distinct-order array
      // (array_distinct preserves first-occurrence order). NULL elements
      // REFUSE loudly: array_position cannot probe NULL, and a silent
      // NULL rank would diverge from CH's treat-NULL-as-a-value answer
      // (review finding). Per-element distinct+position is O(n²) on the
      // ROW-LOCAL array — the same accepted bound as arrayCumSum.
      reg("arrayEnumerateDense")({ case Seq(arr) =>
        val x = lv("xED")
        ArrayTransform(arr,
          LambdaFunction(
            If(IsNull(x),
              Cast(RaiseError(Literal(
                "arrayEnumerateDense: NULL elements are not supported here " +
                  "(CH ranks NULL as a value; this port refuses rather than " +
                  "returning a silently different rank)")), LongType),
              Cast(ArrayPosition(ArrayDistinct(arr), x), LongType)),
            Seq(x)))
      })
      reg("arrayUnion")({ exprs =>
        require(exprs.nonEmpty, "arrayUnion needs ≥1 array")
        ArrayDistinct(exprs.reduce((a, b) => Concat(Seq(a, b))))
      })
      // arrayResize(arr, n[, pad]): truncate, or extend with `pad`
      // (CH pads with the type default when omitted — 0; strings need
      // the explicit pad form here)
      reg("arrayResize")({
        case Seq(arr, n) =>
          val zero = Multiply(new ElementAt(arr, Literal(1), None, false), Literal(0L))
          arrayResizeExpr(arr, n, Coalesce(Seq(zero, Literal(0L))))
        case Seq(arr, n, pad) => arrayResizeExpr(arr, n, pad)
      })
      reg("arrayRotateLeft")({ case Seq(arr, n0) =>
        val len = Size(arr)
        val n = Pmod(Cast(n0, IntegerType), Greatest(Seq(len, Literal(1))))
        If(LessThanOrEqual(len, Literal(1)), arr,
          Concat(Seq(
            Slice(arr, Add(n, Literal(1)), Subtract(len, n)),
            Slice(arr, Literal(1), n))))
      })
      // r19b array/map tail
      reg("arrayRotateRight")({ case Seq(arr, n0) =>
        val len = Size(arr)
        val n = Pmod(Subtract(len,
          Pmod(Cast(n0, IntegerType), Greatest(Seq(len, Literal(1))))),
          Greatest(Seq(len, Literal(1))))
        If(LessThanOrEqual(len, Literal(1)), arr,
          Concat(Seq(
            Slice(arr, Add(n, Literal(1)), Subtract(len, n)),
            Slice(arr, Literal(1), n))))
      })
      // shift drops n and pads with the fill (default 0) on the far end
      reg("arrayShiftLeft")({ case arr +: n0 +: rest =>
        val fill = rest.headOption.getOrElse(Literal(0))
        val len = Size(arr)
        val n = Least(Seq(Cast(n0, IntegerType), len))
        Concat(Seq(
          Slice(arr, Add(n, Literal(1)), Subtract(len, n)),
          ArrayRepeat(fill, n)))
      })
      reg("arrayShiftRight")({ case arr +: n0 +: rest =>
        val fill = rest.headOption.getOrElse(Literal(0))
        val len = Size(arr)
        val n = Least(Seq(Cast(n0, IntegerType), len))
        Concat(Seq(
          ArrayRepeat(fill, n),
          Slice(arr, Literal(1), Subtract(len, n))))
      })
      reg("arrayJaccardIndex")({ case Seq(a, b) =>
        Divide(
          Cast(Size(ArrayIntersect(a, b)), DoubleType),
          Cast(Size(ArrayUnion(a, b)), DoubleType))
      })
      reg("arrayRandomSample")({ case Seq(arr, k) =>
        Slice(new Shuffle(arr), Literal(1), Cast(k, IntegerType)) })
      reg("arrayDotProduct")({ case Seq(a, b) =>
        graft.functions.VectorDistExpr(a, b, "dot") })
      // normalizeL2: x / ||x||₂ (zero vectors pass through — CH
      // divides by zero into inf; the guarded form is the useful one)
      reg("normalizeL2")({ case Seq(a0) =>
        // decimal literals arrive as ARRAY<DECIMAL>: widen first
        val a = Cast(a0, ArrayType(DoubleType))
        val norm = graft.functions.VectorNormExpr(a, "l2")
        val x = lv("xNL2")
        ArrayTransform(a, LambdaFunction(
          If(EqualTo(norm, Literal(0.0d)), x, Divide(x, norm)), Seq(x)))
      })
      // mapAdd/mapSubtract: union the key sets, combine per key
      def mapCombine(m1: Expression, m2: Expression, sub: Boolean): Expression = {
        val keys = ArrayUnion(MapKeys(m1), MapKeys(m2))
        val k = lv(if (sub) "kMS" else "kMA")
        val a = Coalesce(Seq(ElementAt(m1, k), Literal(0)))
        val b = Coalesce(Seq(ElementAt(m2, k), Literal(0)))
        MapFromArrays(keys, ArrayTransform(keys, LambdaFunction(
          if (sub) Subtract(a, b) else Add(a, b), Seq(k))))
      }
      reg("mapAdd")({ case ms if ms.length >= 2 =>
        ms.reduceLeft((acc, m) => mapCombine(acc, m, sub = false)) })
      reg("mapSubtract")({ case Seq(m1, m2) => mapCombine(m1, m2, sub = true) })
      reg("mapContainsKeyLike")({ case Seq(m, p) =>
        val k = lv("kMCL")
        ArrayExists(MapKeys(m), LambdaFunction(new Like(k, p), Seq(k)))
      })
      reg("mapExtractKeyLike")({ case Seq(m, p) =>
        val k = lv("kMEL"); val v = lv("vMEL")
        MapFilter(m, LambdaFunction(new Like(k, p), Seq(k, v)))
      })
      reg("mapSort")({ case Seq(m) =>
        MapFromEntries(new SortArray(MapEntries(m), Literal(true))) })
      reg("mapReverseSort")({ case Seq(m) =>
        MapFromEntries(new SortArray(MapEntries(m), Literal(false))) })
      // mapPopulateSeries: every integer key from min to max, absent
      // values filled with 0 (the map spelling; optional max bound)
      reg("mapPopulateSeries")({ case m +: rest =>
        val mk = MapKeys(m)
        val hi = rest.headOption.map(Cast(_, LongType))
          .getOrElse(Cast(ArrayMax(mk), LongType))
        val keys = new Sequence(Cast(ArrayMin(mk), LongType), hi,
          Some(Literal(1L)), None)
        val k = lv("kMPS")
        MapFromArrays(keys, ArrayTransform(keys, LambdaFunction(
          Coalesce(Seq(ElementAt(m, k), Literal(0))), Seq(k))))
      })

      // bit family over 64-bit integers (CH's unsigned spellings widen
      // through the same two's-complement lanes)
      reg("bitCount")({ case Seq(x) => BitwiseCount(x) })
      reg("bitTest")({ case Seq(x, n) =>
        Cast(BitwiseAnd(ShiftRight(Cast(x, LongType), Cast(n, IntegerType)),
          Literal(1L)), ShortType)
      })
      // 64-bit lane rotate (CH rotates at the argument's width; narrower
      // ints here widen to 64 first — documented engine deviation)
      reg("bitRotateLeft")({ case Seq(x, n0) =>
        val v = Cast(x, LongType)
        val n = Pmod(Cast(n0, IntegerType), Literal(64))
        BitwiseOr(ShiftLeft(v, n), ShiftRightUnsigned(v, Subtract(Literal(64), n)))
      })
      reg("bitRotateRight")({ case Seq(x, n0) =>
        val v = Cast(x, LongType)
        val n = Pmod(Cast(n0, IntegerType), Literal(64))
        BitwiseOr(ShiftRightUnsigned(v, n), ShiftLeft(v, Subtract(Literal(64), n)))
      })
      // r19b bit/math tail
      reg("bitHammingDistance")({ case Seq(a, b) =>
        BitwiseCount(BitwiseXor(Cast(a, LongType), Cast(b, LongType)))
      })
      def bitAt(x: Expression, n: Expression): Expression =
        BitwiseAnd(ShiftRight(Cast(x, LongType), Cast(n, IntegerType)),
          Literal(1L))
      reg("bitTestAll")({ case x +: ps if ps.nonEmpty =>
        ps.map(p => EqualTo(bitAt(x, p), Literal(1L)): Expression).reduceLeft(And)
      })
      reg("bitTestAny")({ case x +: ps if ps.nonEmpty =>
        ps.map(p => EqualTo(bitAt(x, p), Literal(1L)): Expression).reduceLeft(Or)
      })
      reg("byteSwap")(e => graft.functions.MathFnExpr(e, 6))
      reg("intExp10")({ case Seq(x) =>
        Cast(Pow(Literal(10.0d), Cast(x, DoubleType)), LongType) })
      reg("max2")({ case Seq(a, b) =>
        Greatest(Seq(Cast(a, DoubleType), Cast(b, DoubleType))) })
      reg("min2")({ case Seq(a, b) =>
        Least(Seq(Cast(a, DoubleType), Cast(b, DoubleType))) })
      reg("gcd")(e => graft.functions.MathFnExpr(e, 4))
      reg("lcm")(e => graft.functions.MathFnExpr(e, 5))
      reg("erf")(e => graft.functions.MathFnExpr(e, 0))
      reg("erfc")(e => graft.functions.MathFnExpr(e, 1))
      reg("lgamma")(e => graft.functions.MathFnExpr(e, 2))
      reg("tgamma")(e => graft.functions.MathFnExpr(e, 3))
      // CH's fixed bucket helpers
      reg("roundDuration")({ case Seq(x) =>
        val bounds = Seq(1, 10, 30, 60, 120, 180, 240, 300, 600, 1200,
          1800, 3600, 7200, 18000, 36000)
        val v = Cast(x, LongType)
        CaseWhen(
          bounds.reverse.map(b =>
            (GreaterThanOrEqual(v, Literal(b.toLong)),
              Literal(b.toLong): Expression)),
          Some(Literal(0L)))
      })
      reg("roundAge")({ case Seq(x) =>
        val v = Cast(x, LongType)
        CaseWhen(Seq(
          (GreaterThanOrEqual(v, Literal(55L)), Literal(55L): Expression),
          (GreaterThanOrEqual(v, Literal(45L)), Literal(45L)),
          (GreaterThanOrEqual(v, Literal(35L)), Literal(35L)),
          (GreaterThanOrEqual(v, Literal(25L)), Literal(25L)),
          (GreaterThanOrEqual(v, Literal(18L)), Literal(18L)),
          (GreaterThanOrEqual(v, Literal(1L)), Literal(17L))),
          Some(Literal(0L)))
      })

      // toStartOfWeek(d[, mode]): CH follows MySQL WEEK modes — EVEN
      // modes (0,2,4,6) start Sunday, ODD modes Monday (review finding:
      // collapsing all nonzero modes to Monday was wrong for 2/4/6).
      // The mode must be a literal; a column-valued mode refuses loudly.
      reg("toStartOfWeek")({
        case Seq(d) => startOfWeek(d, sundayFirst = true)
        case Seq(d, Literal(m, _)) =>
          val mode = String.valueOf(m).toInt
          startOfWeek(d, sundayFirst = mode % 2 == 0)
        case Seq(_, other) => throw new IllegalArgumentException(
          s"toStartOfWeek: mode must be a literal integer, got $other")
      })
      // ISO-8601 year: the year of the ISO week = the year of that
      // week's Thursday (weekday: Monday = 0)
      reg("toISOYear")({ case Seq(d) =>
        Cast(Year(DateAdd(Cast(d, DateType),
          Subtract(Literal(3), WeekDay(Cast(d, DateType))))), IntegerType)
      })
      // age('unit', a, b): COMPLETE units between a and b (dateDiff
      // counts boundary crossings; age truncates toward zero)
      reg("age")({ case Seq(StringLit(unit), a, b) =>
        val micros = Subtract(UnixMicros(Cast(b, TimestampType)),
          UnixMicros(Cast(a, TimestampType)))
        val perUnit = unit.toLowerCase match {
          case "second" | "ss" | "s" => Some(1000000L)
          case "minute" | "mi" | "n" => Some(60L * 1000000L)
          case "hour" | "hh" | "h" => Some(3600L * 1000000L)
          case "day" | "dd" | "d" => Some(86400L * 1000000L)
          case "week" | "wk" | "ww" => Some(7L * 86400L * 1000000L)
          case _ => None
        }
        perUnit match {
          case Some(u) => Cast(IntegralDivide(micros, Literal(u)), LongType)
          case None => unit.toLowerCase match {
            // COMPLETE months truncate TOWARD ZERO (the double→long cast)
            // like the integral-divide units above — Floor here rounded
            // negative intervals away from zero (review finding:
            // age('month', later, earlier) was off by one)
            case "month" | "mm" | "m" => Cast(
              new MonthsBetween(Cast(b, TimestampType), Cast(a, TimestampType)), LongType)
            case "year" | "yyyy" | "yy" => Cast(IntegralDivide(Cast(
              new MonthsBetween(Cast(b, TimestampType), Cast(a, TimestampType)),
              LongType), Literal(12L)), LongType)
            case other => throw new IllegalArgumentException(s"age: unsupported unit '$other'")
          }
        }
      })
      reg("addMonths")({ case Seq(d, n) => AddMonths(d, n) })
      reg("subtractMonths")({ case Seq(d, n) =>
        AddMonths(d, UnaryMinus(Cast(n, IntegerType))) })
      reg("toRelativeDayNum")({ case Seq(d) => UnixDate(Cast(d, DateType)) })
      // NOTE: CH's monthName/initcap spellings are Spark builtins
      // (monthname/initcap) — the registry guard refuses shadowing, so
      // they resolve natively; full month names come from
      // dateName('month', d) below (Spark's monthname abbreviates)
      // dateName('part', d): the named subset CH documents
      reg("dateName")({ case Seq(StringLit(part), d) =>
        val fmt = part.toLowerCase match {
          case "year" => "yyyy"
          case "month" => "MMMM"
          case "weekday" => "EEEE"
          case "day" => "d"
          case "hour" => "H"
          case "minute" => "m"
          case "second" => "s"
          case other => throw new IllegalArgumentException(s"dateName: unsupported part '$other'")
        }
        new DateFormatClass(Cast(d, TimestampType), Literal(fmt))
      })
      // timeSlot(t): floor to the half-hour (CH's fixed 1800 s slot)
      reg("timeSlot")({ case Seq(t) =>
        SecondsToTimestamp(Multiply(
          IntegralDivide(UnixSeconds(Cast(t, TimestampType)), Literal(1800L)),
          Literal(1800L)))
      })

      reg("endsWithUTF8")({ case Seq(s, suffix) => EndsWith(s, suffix) })
      reg("reverseUTF8")({ case Seq(s) => Reverse(s) })

      // greatCircleDistance(lon1, lat1, lon2, lat2) → meters. Exact
      // haversine on the R=6371 km sphere — CH ships a faster polynomial
      // APPROXIMATION of the same quantity (sub-percent error); exact
      // trig is the documented deviation here, not a bug
      reg("greatCircleDistance")({ case Seq(lon1, lat1, lon2, lat2) =>
        def rad(e: Expression) = Multiply(Cast(e, DoubleType),
          Literal(math.Pi / 180.0))
        val dLat = Divide(Subtract(rad(lat2), rad(lat1)), Literal(2.0))
        val dLon = Divide(Subtract(rad(lon2), rad(lon1)), Literal(2.0))
        val a = Add(
          Multiply(Sin(dLat), Sin(dLat)),
          Multiply(Multiply(Cos(rad(lat1)), Cos(rad(lat2))),
            Multiply(Sin(dLon), Sin(dLon))))
        Multiply(Literal(2.0 * 6371000.0), Asin(Sqrt(a)))
      })

      // geoDistance — CH's WGS84-aware variant; the same haversine on
      // the WGS84 MEAN radius (6371.0088 km) here: CH's ellipsoid
      // correction is sub-0.5% and its polynomial is engine-internal
      reg("geoDistance")({ case Seq(lon1, lat1, lon2, lat2) =>
        def rad(e: Expression) = Multiply(Cast(e, DoubleType),
          Literal(math.Pi / 180.0))
        val dLat = Divide(Subtract(rad(lat2), rad(lat1)), Literal(2.0))
        val dLon = Divide(Subtract(rad(lon2), rad(lon1)), Literal(2.0))
        val a = Add(
          Multiply(Sin(dLat), Sin(dLat)),
          Multiply(Multiply(Cos(rad(lat1)), Cos(rad(lat2))),
            Multiply(Sin(dLon), Sin(dLon))))
        Multiply(Literal(2.0 * 6371008.8), Asin(Sqrt(a)))
      })
      // pointInPolygon(array(x, y), array(array(x1, y1), …)) — the
      // array spelling (Spark SQL has no CH tuple literals); boundary
      // handling follows ray casting's half-open convention
      reg("pointInPolygon")({ case Seq(pt, poly) =>
        graft.functions.PointInPolygonExpr(pt, poly)
      })

      // parseDateTimeBestEffort(s): the common formats, first match
      // wins, NULL only when nothing parses (CH errors; the OrNull
      // spelling returns NULL — we fold both onto the lenient form)
      def bestEffort(s: Expression): Expression = Coalesce(Seq(
        tryTs(s, "yyyy-MM-dd HH:mm:ss"),
        tryTs(s, "yyyy-MM-dd'T'HH:mm:ss"),
        tryTs(s, "yyyy-MM-dd'T'HH:mm:ssXXX"),
        tryTs(s, "yyyy-MM-dd"),
        tryTs(s, "dd/MM/yyyy HH:mm:ss"),
        tryTs(s, "dd/MM/yyyy"),
        tryTs(s, "yyyyMMddHHmmss"),
        tryTs(s, "yyyyMMdd")))
      reg("parseDateTimeBestEffort")({ case Seq(s) => bestEffort(s) })
      reg("parseDateTimeBestEffortOrNull")({ case Seq(s) => bestEffort(s) })

      // ---- string-similarity distances (data-cleaning staples) ----
      // editDistance IS Levenshtein; the rest are the textbook
      // algorithms as codegen'd kernels (graft.functions.StringDistExpr)
      // — full Damerau-Levenshtein (alphabet table, not OSA), Jaro with
      // half-transpositions, Winkler boost 0.1 above 0.7, byte-set
      // Jaccard (CH's byte-string contract)
      reg("editDistance")({ case Seq(a, b) => Levenshtein(a, b) })
      reg("editDistanceUTF8")({ case Seq(a, b) => Levenshtein(a, b) })
      reg("levenshteinDistance")({ case Seq(a, b) => Levenshtein(a, b) })
      reg("damerauLevenshteinDistance")({ case Seq(a, b) =>
        graft.functions.StringDistExpr(a, b, "damerau") })
      reg("jaroSimilarity")({ case Seq(a, b) =>
        graft.functions.StringDistExpr(a, b, "jaro") })
      reg("jaroWinklerSimilarity")({ case Seq(a, b) =>
        graft.functions.StringDistExpr(a, b, "jaroWinkler") })
      reg("stringJaccardIndex")({ case Seq(a, b) =>
        graft.functions.StringDistExpr(a, b, "jaccard") })

      // geohash (public base32 bisection format; CH arg order lon, lat)
      reg("geohashEncode")({
        case Seq(lon, lat) => graft.functions.GeohashEncodeExpr(
          Cast(lon, DoubleType), Cast(lat, DoubleType), Literal(12))
        case Seq(lon, lat, p) => graft.functions.GeohashEncodeExpr(
          Cast(lon, DoubleType), Cast(lat, DoubleType), Cast(p, IntegerType))
      })
      // geohashDecode → tuple(longitude, latitude), the cell center —
      // CH's return shape (was encode-only; review finding: the decoder
      // existed but had no registered name)
      reg("geohashDecode")({ case Seq(h) =>
        graft.functions.GeohashDecodeExpr(h) })

      // ---- date/time tail ----
      // dateTrunc(unit, ts) — CH and Spark agree on arg order and the
      // unit vocabulary (second…year); Monday-start weeks both sides
      reg("dateTrunc")({ case Seq(unit, ts) => TruncTimestamp(unit, ts) })
      // Modified Julian Day epoch = 1858-11-17 (epoch day -40587)
      reg("toModifiedJulianDay")({ case Seq(s) =>
        DateDiff(Cast(s, DateType), Literal(-40587, DateType)) })
      reg("fromModifiedJulianDay")({ case Seq(d) =>
        DateAdd(Literal(-40587, DateType), Cast(d, IntegerType)) })
      // toStartOfInterval(ts, INTERVAL n unit): time units floor the
      // epoch-microsecond clock; month-family units floor the
      // months-since-1970 counter (CH's origin for both)
      reg("toStartOfInterval")({ case Seq(ts, ivl) =>
        require(ivl.foldable,
          "toStartOfInterval requires a literal INTERVAL argument")
        ivl.dataType match {
          case _: DayTimeIntervalType =>
            val n = ivl.eval().asInstanceOf[Long] // micros
            require(n > 0, "toStartOfInterval: INTERVAL must be positive")
            // WEEK intervals (Spark normalizes them to 7-day day-time
            // intervals) floor from a MONDAY origin — CH's week
            // alignment; the raw 1970-01-01 origin is a Thursday and
            // put every week bucket 3 days off (review finding). The
            // origin shift deliberately also catches a literal
            // `INTERVAL 7 DAY` — indistinguishable after parsing, and
            // the week reading is CH's own for that bucketing.
            val weekMicros = 7L * 86400L * 1000000L
            val origin =
              if (n % weekMicros == 0) -3L * 86400L * 1000000L // 1969-12-29, a Monday
              else 0L
            val um = Subtract(UnixMicros(Cast(ts, TimestampType)), Literal(origin))
            MicrosToTimestamp(
              Add(Subtract(um, Pmod(um, Literal(n))), Literal(origin)))
          case _: YearMonthIntervalType =>
            val n = ivl.eval().asInstanceOf[Int] // months
            require(n > 0, "toStartOfInterval: INTERVAL must be positive")
            val m = Add(
              Multiply(Subtract(Year(Cast(ts, DateType)), Literal(1970)), Literal(12)),
              Subtract(Month(Cast(ts, DateType)), Literal(1)))
            val m2 = Subtract(m, Pmod(m, Literal(n)))
            // year = 1970 + (m2 - pmod(m2,12))/12: the numerator is an
            // exact multiple of 12, so truncating division IS floor —
            // bare IntegralDivide truncated toward zero and paired a
            // 1970 year with a floored month for pre-1970 timestamps
            // (review finding: off by a full year)
            val ym = Subtract(m2, Pmod(m2, Literal(12)))
            Cast(MakeDate(
              Add(Literal(1970), Cast(IntegralDivide(ym, Literal(12)), IntegerType)),
              Add(Cast(Pmod(m2, Literal(12)), IntegerType), Literal(1)),
              Literal(1)), TimestampType)
          case other => throw new IllegalArgumentException(
            s"toStartOfInterval: second argument must be an INTERVAL, got ${other.sql}")
        }
      })
      // timeSlots(start, duration[, size=1800]): slot starts of `size`
      // seconds from floor(start) through floor(start+duration),
      // inclusive (CH's documented example: 12:20 + default 1800 →
      // [12:00, 12:30])
      reg("timeSlots")({ exprs =>
        val (start, dur, size) = exprs match {
          case Seq(s, d) => (s, d, Literal(1800L))
          case Seq(s, d, sz) =>
            // a zero size would Pmod to NULL silently, a negative one
            // would throw an opaque Sequence error (review finding) —
            // refuse the foldable case loudly like toStartOfInterval
            if (sz.foldable) {
              val v = sz.eval()
              require(v != null && String.valueOf(v).toLong > 0,
                s"timeSlots: size must be a positive number of seconds, got $v")
            }
            (s, d, Cast(sz, LongType))
          case _ => throw new IllegalArgumentException(
            "timeSlots(start, duration[, size]) takes 2 or 3 arguments")
        }
        val secs = Cast(Cast(start, TimestampType), LongType) // epoch seconds
        val s0 = Subtract(secs, Pmod(secs, size))
        val end = Add(secs, Cast(dur, LongType))
        val e0 = Subtract(end, Pmod(end, size))
        val xv = lv("tsSlot")
        ArrayTransform(
          new Sequence(s0, e0, Some(size)),
          LambdaFunction(
            MicrosToTimestamp(Multiply(xv, Literal(1000000L))), Seq(xv)))
      })

      // ---- map tail ----
      // mapFilter: CH puts the lambda first
      reg("mapFilter")({ case Seq(f, m) => MapFilter(m, f) })
      // mapUpdate(m1, m2): m2's entries win on key collision — filter
      // m1 down to keys m2 lacks, then concat (keys disjoint, so
      // MapConcat's duplicate policy never fires)
      reg("mapUpdate")({ case Seq(m1, m2) =>
        val k = lv("muK"); val v = lv("muV")
        MapConcat(Seq(
          MapFilter(m1, LambdaFunction(
            Not(ArrayContains(MapKeys(m2), k)), Seq(k, v))),
          m2))
      })

      // ---- approximate-aggregate tail ----
      // uniqTheta: CH uses a theta sketch; same
      // approximate-distinct-with-engine-defined-error contract as the
      // uniq family, answered by the HLL++ sketch here (documented
      // estimator deviation, like uniq/uniqCombined)
      reg("uniqTheta")(exprs => new HyperLogLogPlusPlus(exprs.head))
      // quantileGK(accuracy, level)(x): Spark's ApproximatePercentile
      // IS a Greenwald-Khanna summary — accuracy maps through directly
      reg("quantileGK")({ case Seq(x, acc, q) =>
        new ApproximatePercentile(x, q, Cast(acc, IntegerType)) })

      // ---- round-9b dialect tail (replace/url/json/decimal/interval) ----

      reg("replaceOne")({ case Seq(s, f, t) =>
        graft.functions.ReplaceFirstExpr(s, f, t, regex = false) })
      reg("replaceRegexpOne")({ case Seq(s, p, r) =>
        graft.functions.ReplaceFirstExpr(s, p, r, regex = true) })
      reg("appendTrailingCharIfAbsent")({ case Seq(s, c) =>
        If(EndsWith(s, c), s, Concat(Seq(s, c))) })
      // multiSearchFirstPosition: 1-based position of the leftmost hit
      // across all needles, 0 when none match (CH contract)
      reg("multiSearchFirstPosition")({ case Seq(h, needles) =>
        val n = lv("msfpN")
        val p = lv("msfpP")
        val poss = ArrayTransform(needles,
          LambdaFunction(Cast(new StringLocate(n, h), LongType), Seq(n)))
        val hits = ArrayFilter(poss,
          LambdaFunction(GreaterThan(p, Literal(0L)), Seq(p)))
        // NULL input propagates NULL; only a genuine no-match is 0
        // (review finding: the bare Coalesce conflated the two)
        If(Or(IsNull(h), IsNull(needles)), Literal.create(null, LongType),
          Coalesce(Seq(ArrayMin(hits), Literal(0L))))
      })
      reg("JSONExtractArrayRaw")({
        case Seq(json) => graft.functions.JsonArrayRawExpr(json, None)
        case Seq(json, key) => graft.functions.JsonArrayRawExpr(json, Some(key))
      })
      // visitParam* — CH's historical aliases of the simpleJSON family
      reg("visitParamExtractString")(
        { case Seq(json, key) => GetJsonObject(json, jsonPath(key)) })
      reg("visitParamExtractInt")(
        { case Seq(json, key) => Cast(GetJsonObject(json, jsonPath(key)), LongType) })
      reg("visitParamExtractFloat")(
        { case Seq(json, key) => Cast(GetJsonObject(json, jsonPath(key)), DoubleType) })
      reg("visitParamExtractBool")(
        { case Seq(json, key) => Cast(GetJsonObject(json, jsonPath(key)), BooleanType) })
      reg("visitParamHas")(
        { case Seq(json, key) => IsNotNull(GetJsonObject(json, jsonPath(key))) })

      // decodeURLComponent decodes %XX only — '+' stays '+' (RFC 3986;
      // Java's URLDecoder under Spark's url_decode treats '+' as space,
      // so '+' is shielded through the decode)
      reg("decodeURLComponent")({ case Seq(s) =>
        new UrlDecode(StringReplace(s, Literal("+"), Literal("%2B")), false) })
      // encodeURLComponent: RFC 3986 unreserved set — post-fix the three
      // places Java's URLEncoder disagrees (space→'+', '*' kept, '~'
      // escaped)
      reg("encodeURLComponent")({ case Seq(s) =>
        StringReplace(
          StringReplace(
            StringReplace(new UrlEncode(s), Literal("+"), Literal("%20")),
            Literal("*"), Literal("%2A")),
          Literal("%7E"), Literal("~"))
      })
      // tryBase64Decode: NULL (not error) on garbage — CH returns '' on
      // invalid input; NULL is the engine's lenient convention (same
      // family as parseDateTimeBestEffortOrNull). try_to_binary, not
      // UnBase64(failOnError=false): the latter skips VALIDATION but
      // Java's MIME decoder still throws on dangling units like 'a'
      // (review finding — lenient-in-name-only)
      reg("tryBase64Decode")({ case Seq(s) =>
        Cast(org.apache.spark.sql.catalyst.analysis.UnresolvedFunction(
          "try_to_binary", Seq(s, Literal("base64")), isDistinct = false),
          StringType) })

      reg("formatReadableDecimalSize")(readableLadder(
        Seq("B", "KB", "MB", "GB", "TB", "PB", "EB"), 1000.0))

      // toDecimalNN(x, scale) — CH's fixed-precision casts (32→9
      // digits, 64→18, 128→38); the scale must be a literal
      def decimalCast(precision: Int): Seq[Expression] => Expression = {
        case Seq(x, Literal(s, _)) =>
          Cast(x, DecimalType(precision, String.valueOf(s).toInt))
        case other => throw new IllegalArgumentException(
          s"toDecimal: (value, literal scale) expected, got $other")
      }
      reg("toDecimal32")(decimalCast(9))
      reg("toDecimal64")(decimalCast(18))
      reg("toDecimal128")(decimalCast(38))

      // toInterval*(n) — interval constructors (day-time lanes carry
      // micros, year-month lanes carry months)
      def dtInterval(unitMicros: Long): Seq[Expression] => Expression = {
        case Seq(n) => MultiplyDTInterval(
          Literal(unitMicros, DayTimeIntervalType()), Cast(n, IntegerType))
      }
      def ymInterval(unitMonths: Int): Seq[Expression] => Expression = {
        case Seq(n) => MultiplyYMInterval(
          Literal(unitMonths, YearMonthIntervalType()), Cast(n, IntegerType))
      }
      reg("toIntervalSecond")(dtInterval(1000000L))
      reg("toIntervalMinute")(dtInterval(60L * 1000000L))
      reg("toIntervalHour")(dtInterval(3600L * 1000000L))
      reg("toIntervalDay")(dtInterval(86400L * 1000000L))
      reg("toIntervalWeek")(dtInterval(7L * 86400L * 1000000L))
      reg("toIntervalMonth")(ymInterval(1))
      reg("toIntervalQuarter")(ymInterval(3))
      reg("toIntervalYear")(ymInterval(12))

      // DateTime64 epoch accessors (micros-precision timestamps here:
      // Nano emits micros×1000, the sub-micro digits are zero)
      reg("toUnixTimestamp64Milli")({ case Seq(ts) =>
        UnixMillis(Cast(ts, TimestampType)) })
      reg("toUnixTimestamp64Micro")({ case Seq(ts) =>
        UnixMicros(Cast(ts, TimestampType)) })
      reg("toUnixTimestamp64Nano")({ case Seq(ts) =>
        Multiply(UnixMicros(Cast(ts, TimestampType)), Literal(1000L)) })
      reg("fromUnixTimestamp64Milli")({ case Seq(n) =>
        MillisToTimestamp(Cast(n, LongType)) })
      reg("fromUnixTimestamp64Micro")({ case Seq(n) =>
        MicrosToTimestamp(Cast(n, LongType)) })
      reg("fromUnixTimestamp64Nano")({ case Seq(n) =>
        MicrosToTimestamp(IntegralDivide(Cast(n, LongType), Literal(1000L))) })
      reg("toYYYYMMDDhhmmss")({ case Seq(ts) =>
        Cast(new DateFormatClass(Cast(ts, TimestampType),
          Literal("yyyyMMddHHmmss")), LongType) })
      // toDateTime64(x[, scale[, tz]]): micros-precision timestamp —
      // the scale argument is accepted and recorded nowhere (this
      // engine's timestamps are fixed micros; scale>6 would silently
      // truncate identically in CH→parquet interchange)
      reg("toDateTime64")({ exprs => Cast(exprs.head, TimestampType) })

      // chDateAdd/chDateSub — ChSql pre-pass normalizes CH's
      // dateAdd('unit', n, ts) / dateSub(unit, n, ts) here (the bare
      // `dateAdd`/`date_sub` names belong to Spark's 2-arg builtins)
      object UnitLit {
        def unapply(e: Expression): Option[String] = e match {
          case Literal(u: org.apache.spark.unsafe.types.UTF8String, StringType) =>
            Some(u.toString.toUpperCase)
          case _ => None
        }
      }
      reg("chDateAdd")({ case Seq(UnitLit(u), n, ts) =>
        TimestampAdd(u, Cast(n, IntegerType), Cast(ts, TimestampType)) })
      reg("chDateSub")({ case Seq(UnitLit(u), n, ts) =>
        TimestampAdd(u, UnaryMinus(Cast(n, IntegerType)), Cast(ts, TimestampType)) })
      // chMonthName — pre-pass target for CH monthName (full English
      // name; Spark's builtin monthname abbreviates, which would be
      // silently different on dialect sessions)
      reg("chMonthName")({ case Seq(d) =>
        new DateFormatClass(Cast(d, TimestampType), Literal("MMMM")) })

      reg("isFinite")({ case Seq(x) =>
        val d = Cast(x, DoubleType)
        And(Not(IsNaN(d)),
          LessThan(Abs(d), Literal(Double.PositiveInfinity)))
      })
      reg("isInfinite")({ case Seq(x) =>
        val d = Cast(x, DoubleType)
        EqualTo(Abs(d), Literal(Double.PositiveInfinity))
      })
      reg("materialize")(exprs => exprs.head)
      // roundDown(x, arr): largest element ≤ x, else the array's FIRST
      // element (CH saturates below the set to its first entry). A NULL
      // x propagates NULL (review finding: the Coalesce fallback also
      // captured the null-input case) — the typed NULL comes from
      // max-of-nothing so the branch types agree without knowing the
      // element type statically.
      reg("roundDown")({ case Seq(x, arr) =>
        val e = lv("rdE")
        val e2 = lv("rdN")
        val typedNull = ArrayMax(ArrayFilter(arr,
          LambdaFunction(Literal(false), Seq(e2))))
        If(IsNull(x), typedNull,
          Coalesce(Seq(
            ArrayMax(ArrayFilter(arr,
              LambdaFunction(LessThanOrEqual(e, x), Seq(e)))),
            new ElementAt(arr, Literal(1), None, false))))
      })
      // roundToExp2: 0 below 1, else the power of two at or below x.
      // The 1e-9 nudge keeps exact powers from floor-slipping on the
      // ln-quotient (log2(8) can evaluate a hair under 3.0)
      reg("roundToExp2")({ case Seq(x) =>
        val d = Cast(x, DoubleType)
        If(LessThan(d, Literal(1.0)), Literal(0L),
          Cast(Pow(Literal(2.0),
            Floor(Add(Log2(d), Literal(1e-9)))), LongType))
      })

    val built = out.result()
    // Shadowing Spark's builtin registry is the twice-shipped bug class
    // (r4: any/position; r7: extract). Fail construction — not warn —
    // so a colliding name can never reach a session: CH spellings that
    // overlap a builtin must be renamed in ChSql.rewriteConflictingFunctions
    // and registered ch-prefixed (chExtract, chXxHash64, chTransform).
    val collisions = built.map(_._1).filter(FunctionShim.isBuiltin)
    require(collisions.isEmpty,
      s"dialect builder name(s) would shadow Spark builtins: ${collisions.mkString(", ")}; " +
        "rename via ChSql.rewriteConflictingFunctions instead")
    built
  }
}
