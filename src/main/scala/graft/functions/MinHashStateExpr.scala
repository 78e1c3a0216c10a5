package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** One-pass MinHash document state: tokenize → shingle-hash →
  * (signature mins, distinct shingle-hash set), all inside a single
  * scan-stage kernel.
  *
  * Bit-exact contract with the exploded formulation it replaces
  * (`split(text, "\\s+")` → per-shingle multi-arg `xxhash64` →
  * `pmod(·, P)` → affine-min aggregate + `collect_set`), which the
  * dedup oracle corpus pinned:
  *   - tokenization replicates Java `split("\\s+", -1)`: runs of the
  *     six ASCII whitespace chars delimit, a leading run yields an
  *     empty first token, a trailing run an empty last one, and empty
  *     text is the single token `""` (safe at the byte level — those
  *     bytes never occur inside UTF-8 multibyte sequences);
  *   - shingle hash is Spark's own `xxhash64(w_i, …, w_{i+n-1})`:
  *     XXH64 over each word's bytes, seed-chained from 42, via the
  *     SAME [[XXH64]] entry points codegen uses — hashed straight
  *     from the text buffer, no word or shingle string is ever
  *     allocated;
  *   - the affine family, Mersenne fold, and `pmod` match
  *     [[graft.operators.Dedup]]'s documented choices exactly.
  *
  * The shingle set is returned SORTED (the old `collect_set` order was
  * arbitrary; every consumer does set arithmetic). Null text or fewer
  * than `shingleSize` words → null, the rows the exploded pipeline
  * simply never produced.
  */
object MinHashKernel {

  // the affine-family constants of graft.operators.Dedup (2^31-1
  // Mersenne prime; Knuth multiplicative constant reduced mod p)
  final val P = 2147483647L
  final val B = 2654435761L % P

  private def isWs(b: Byte): Boolean = b == 0x20 || (b >= 0x09 && b <= 0x0D)

  /** Token count under the same `split("\\s+", -1)` replication as
    * [[state]] — the cheap (one byte-scan, no hashing) predicate the
    * dedup pipelines filter on BEFORE computing the state, so the
    * pushed-down filter never duplicates the expensive kernel (Catalyst
    * pushes `isnotnull(minhash_state(…))` into a Filter below the
    * Project, and whole-stage codegen does not CSE across operators —
    * that shape evaluates the full kernel twice per row). */
  def wordCount(text: UTF8String): Int = {
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val len = text.numBytes
    var wc = 1 // split(-1) always yields at least one (possibly empty) token
    var i = 0
    while (i < len) {
      if (isWs(Platform.getByte(base, off + i))) {
        wc += 1
        i += 1
        while (i < len && isWs(Platform.getByte(base, off + i))) i += 1
      } else i += 1
    }
    wc
  }

  /** Maximal `\S+` runs as UTF8String tokens — byte-identical to
    * `regexp_extract_all(text, "\\S+", 0)` on valid UTF-8 (r20, guide
    * §1.2 per-task work: the regex machinery costs ~2× a plain byte
    * scan on the bench corpus — R20Probe tokab). Java's default `\s`
    * is exactly the six ASCII whitespace bytes of [[isWs]], which never
    * occur inside UTF-8 multibyte sequences, so the byte-level scan
    * finds the same token boundaries for any input. On malformed UTF-8
    * the tokens differ: this scan copies the raw bytes, while the regex
    * form decodes to a Java string first and emits U+FFFD for each
    * invalid sequence (WordsSpec pins both). Empty/all-whitespace
    * text → empty array (the regex form's no-match case); tokens are
    * COPIES (never views of the reusable scan buffers). */
  def words(text: UTF8String): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val len = text.numBytes
    var out = new Array[AnyRef](8)
    var n = 0
    var i = 0
    while (i < len) {
      while (i < len && isWs(Platform.getByte(base, off + i))) i += 1
      if (i < len) {
        val s = i
        while (i < len && !isWs(Platform.getByte(base, off + i))) i += 1
        val l = i - s
        val b = new Array[Byte](l)
        Platform.copyMemory(base, off + s, b, Platform.BYTE_ARRAY_OFFSET, l.toLong)
        if (n == out.length) out = java.util.Arrays.copyOf(out, n * 2)
        out(n) = UTF8String.fromBytes(b)
        n += 1
      }
    }
    new GenericArrayData(
      (if (n == out.length) out
       else java.util.Arrays.copyOf(out, n)).asInstanceOf[Array[Any]])
  }

  def state(text: UTF8String, n: Int, k: Int): InternalRow = {
    if (text == null) return null
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val len = text.numBytes
    // token boundaries, replicating split("\\s+", -1)
    var starts = new Array[Int](32)
    var lens = new Array[Int](32)
    var wc = 0
    def addTok(s: Int, l: Int): Unit = {
      if (wc == starts.length) {
        starts = java.util.Arrays.copyOf(starts, wc * 2)
        lens = java.util.Arrays.copyOf(lens, wc * 2)
      }
      starts(wc) = s
      lens(wc) = l
      wc += 1
    }
    var i = 0
    var start = 0
    while (i < len) {
      if (isWs(Platform.getByte(base, off + i))) {
        addTok(start, i - start)
        i += 1
        while (i < len && isWs(Platform.getByte(base, off + i))) i += 1
        start = i
      } else i += 1
    }
    addTok(start, len - start)
    if (wc < n) return null

    val shingles = wc - n + 1
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, P)
    val hs = new Array[Long](shingles)
    var s = 0
    while (s < shingles) {
      var h = 42L // Spark xxhash64's seed, chained across the n words
      var j = 0
      while (j < n) {
        h = XXH64.hashUnsafeBytes(base, off + starts(s + j), lens(s + j), h)
        j += 1
      }
      hs(s) = h
      var h0 = h % P
      if (h0 < 0) h0 += P // pmod
      var q = 0
      while (q < k) {
        // (a_q·h0 + b_q) mod p with the Mersenne fold — see
        // Dedup's affine-family notes; x < 2^43 so one fold suffices
        val x = h0 * (2L * q + 1001L) + B * q
        var v = (x & P) + (x >>> 31)
        if (v >= P) v -= P
        if (v < sig(q)) sig(q) = v
        q += 1
      }
      s += 1
    }
    // sorted distinct shingle hashes
    java.util.Arrays.sort(hs, 0, shingles)
    var m = 0
    var t = 0
    while (t < shingles) {
      if (t == 0 || hs(t) != hs(t - 1)) { hs(m) = hs(t); m += 1 }
      t += 1
    }
    val set = if (m == shingles) hs else java.util.Arrays.copyOf(hs, m)
    new GenericInternalRow(Array[Any](
      new GenericArrayData(sig), new GenericArrayData(set)))
  }
}

/** [[MinHashKernel.wordCount]] as a codegen'd expression — the cheap
  * scan-stage gate (`wordCount(text) >= shingleSize`) in front of
  * [[MinHashStateExpr]]. Null text → null (filters drop it). */
case class WordCountExpr(child: Expression) extends Expression {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = child.nullable
  override def dataType: DataType = IntegerType
  override def prettyName: String = "word_count"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${other.sql}")
  }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else MinHashKernel.wordCount(v.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val MK = MinHashKernel.getClass.getName.stripSuffix("$")
    val gen = child.genCode(ctx)
    ev.copy(code = code"""
      |${gen.code}
      |boolean ${ev.isNull} = ${gen.isNull};
      |int ${ev.value} = ${ev.isNull} ? 0 : $MK.wordCount(${gen.value});
    """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(child = newChildren.head)
}

/** [[MinHashKernel.words]] as a codegen'd expression — the `\S+`
  * tokenizer of the retrieval/text operators without the regex
  * machinery (bit-identical output on valid UTF-8, raw bytes kept on
  * malformed input; null text → null). */
case class WordsExpr(child: Expression) extends Expression {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = child.nullable
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "words"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${other.sql}")
  }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else MinHashKernel.words(v.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val MK = MinHashKernel.getClass.getName.stripSuffix("$")
    val gen = child.genCode(ctx)
    ev.copy(code = code"""
      |${gen.code}
      |boolean ${ev.isNull} = ${gen.isNull};
      |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
      |  ${ev.isNull} ? null : $MK.words(${gen.value});
    """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(child = newChildren.head)
}

/** [[MinHashKernel.state]] as a codegen'd expression:
  * `struct(sig: array<long>[numHashes], sh: array<long>)` per document,
  * null for null text or fewer than `shingleSize` words. Replaces the
  * whole explode → shuffle → ObjectHashAggregate state build with a
  * scan-stage projection — at 100 TB the signature build becomes a
  * pure map over the corpus with NO intermediate (doc, shingle) rows.
  */
case class MinHashStateExpr(child: Expression, shingleSize: Int, numHashes: Int)
    extends Expression {

  require(shingleSize > 0 && numHashes > 0, "shingleSize and numHashes must be positive")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_state"

  override def dataType: DataType = StructType(Seq(
    StructField("sig", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("sh", ArrayType(LongType, containsNull = false), nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${other.sql}")
  }

  override def eval(input: InternalRow): Any =
    MinHashKernel.state(
      child.eval(input).asInstanceOf[UTF8String], shingleSize, numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val MK = MinHashKernel.getClass.getName.stripSuffix("$")
    val gen = child.genCode(ctx)
    ev.copy(code = code"""
      |${gen.code}
      |boolean ${ev.isNull} = true;
      |InternalRow ${ev.value} = null;
      |if (!${gen.isNull}) {
      |  ${ev.value} = $MK.state(${gen.value}, $shingleSize, $numHashes);
      |  ${ev.isNull} = (${ev.value} == null);
      |}
    """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(child = newChildren.head)
}
