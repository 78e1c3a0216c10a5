package graft.sources.mergetree

import graft.types.ChSchemaParser

/** ClickHouse column-type AST for the MergeTree binary data path — the
  * decoding twin of [[graft.types.ChSchemaParser]] (which maps the same
  * type strings to Spark types for the RELATIONAL layer; `MergeTreeScan`
  * asserts the two stay consistent by construction: every decoded value
  * is produced in the Catalyst representation of the parser's mapping).
  *
  * Scope (VERDICT r9 task #1): the documented wide-part subset covering
  * every type the reference's 63-column `github_events` ATTACH uses
  * (`temporal/workflow_query_executor_test.go:85`) — fixed-width
  * (U)Ints, Float32/64, String, FixedString, Date/Date32, DateTime,
  * DateTime64, Enum8/16, Bool, Nullable(scalar),
  * LowCardinality(scalar), Array(scalar | LowCardinality(scalar)).
  * Anything else — nested Arrays, Maps, Tuples, UUID, Decimal,
  * LowCardinality(Nullable(…)) — refuses loudly at ATTACH time rather
  * than decoding garbage.
  */
private[mergetree] sealed trait ChType extends Serializable
private[mergetree] object ChType {
  // fixed-width ints carry (bytes, signed); value mapping follows
  // ChSchemaParser: unsigned widens to the next signed Spark type,
  // UInt64 stays Long with the documented wrap caveat
  final case class FixedInt(bytes: Int, signed: Boolean) extends ChType
  case object F32 extends ChType
  case object F64 extends ChType
  case object Str extends ChType
  final case class FixedStr(n: Int) extends ChType
  case object Date16 extends ChType            // UInt16 days
  case object Date32T extends ChType           // Int32 days
  case object DateTime32 extends ChType        // UInt32 epoch seconds
  final case class DateTime64T(scale: Int) extends ChType
  final case class Enum(bytes: Int, codeToName: Map[Int, String]) extends ChType
  case object BoolT extends ChType
  /** CH Decimal(P, S): fixed-width scaled integer in the .bin stream —
    * 4 bytes (P ≤ 9, Decimal32), 8 (P ≤ 18, Decimal64), 16 (P ≤ 38,
    * Decimal128), little-endian two's complement (r18). */
  final case class DecimalT(precision: Int, scale: Int) extends ChType {
    def byteWidth: Int =
      if (precision <= 9) 4 else if (precision <= 18) 8 else 16
  }
  final case class NullableT(inner: ChType) extends ChType
  final case class LowCardinalityT(inner: ChType) extends ChType
  final case class ArrayT(elem: ChType) extends ChType

  /** Parse a CH type string into the decodable AST; throws on anything
    * outside the supported subset. */
  def parse(s: String): ChType = {
    val t = s.trim
    val paren = t.indexOf('(')
    val (head, args) =
      if (paren >= 0 && t.endsWith(")")) (t.substring(0, paren).trim, t.substring(paren + 1, t.length - 1))
      else (t, "")
    head match {
      case "Nullable" =>
        val inner = parse(args)
        inner match {
          case _: ArrayT | _: NullableT | _: LowCardinalityT =>
            throw new IllegalArgumentException(s"unsupported MergeTree type: $t")
          case _ => NullableT(inner)
        }
      case "LowCardinality" =>
        val inner = parse(args)
        inner match {
          // Nullable INNERS are in the subset (r16): the dictionary
          // serializes as the nested type with slot 0 reserved for
          // null, CH's own layout. Arrays/nested LC stay out.
          case _: ArrayT | _: LowCardinalityT =>
            throw new IllegalArgumentException(s"unsupported MergeTree type: $t")
          case NullableT(n) => n match {
            case _: ArrayT | _: NullableT | _: LowCardinalityT =>
              throw new IllegalArgumentException(s"unsupported MergeTree type: $t")
            case _ => LowCardinalityT(inner)
          }
          case _ => LowCardinalityT(inner)
        }
      case "Array" =>
        val inner = parse(args)
        inner match {
          case _: ArrayT | _: NullableT | LowCardinalityT(_: NullableT) =>
            throw new IllegalArgumentException(
              s"unsupported MergeTree type: $t (nested/nullable arrays not in the subset)")
          case _ => ArrayT(inner)
        }
      case "Enum8" | "Enum16" =>
        val pairs = graft.dialect.SqlLex(args).splitTopLevel(',').map { p =>
          val eq = p.lastIndexOf('=')
          require(eq > 0, s"malformed enum entry: $p")
          val name = p.substring(0, eq).trim.stripPrefix("'").stripSuffix("'").replace("\\'", "'")
          (p.substring(eq + 1).trim.toInt, name)
        }
        Enum(if (head == "Enum8") 1 else 2, pairs.toMap)
      case "String" => Str
      case "FixedString" => FixedStr(args.trim.toInt)
      case "Date" => Date16
      case "Date32" => Date32T
      case "DateTime" | "DateTime32" => DateTime32
      case "DateTime64" =>
        val scale = graft.dialect.SqlLex(args).splitTopLevel(',').headOption
          .map(_.trim.toInt).getOrElse(3)
        require(scale >= 0 && scale <= 9, s"DateTime64 scale $scale")
        DateTime64T(scale)
      case "Bool" | "Boolean" => BoolT
      case "Int8" => FixedInt(1, signed = true)
      case "Int16" => FixedInt(2, signed = true)
      case "Int32" => FixedInt(4, signed = true)
      case "Int64" => FixedInt(8, signed = true)
      case "UInt8" => FixedInt(1, signed = false)
      case "UInt16" => FixedInt(2, signed = false)
      case "UInt32" => FixedInt(4, signed = false)
      case "UInt64" => FixedInt(8, signed = false)
      case "Float32" => F32
      case "Float64" => F64
      case "Decimal32" => DecimalT(9, args.trim.toInt)
      case "Decimal64" => DecimalT(18, args.trim.toInt)
      case "Decimal128" => DecimalT(38, args.trim.toInt)
      case "Decimal" =>
        val ps = graft.dialect.SqlLex(args).splitTopLevel(',').map(_.trim.toInt)
        require(ps.nonEmpty && ps.head >= 1 && ps.head <= 38,
          s"Decimal precision out of range: $args")
        DecimalT(ps.head, if (ps.length > 1) ps(1) else 0)
      case other =>
        throw new IllegalArgumentException(
          s"unsupported MergeTree column type: $other (supported subset: " +
            "ints, floats, String, FixedString, Date[32], DateTime[64], " +
            "Enum8/16, Bool, Nullable/LowCardinality/Array of those)")
    }
  }

  /** Substream file basenames (without `.bin`/`.mrk2`) for column
    * `name`, in read order — CH's `ISerialization::getFileNameForStream`
    * naming: `c.null` (null map), `c.size0` (array sizes), `c.dict`
    * (LowCardinality dictionary), `c` (values/indexes). */
  def streams(name: String, t: ChType): Seq[String] = t match {
    case NullableT(_) => Seq(s"$name.null", name)
    case ArrayT(LowCardinalityT(_)) => Seq(s"$name.size0", s"$name.dict", name)
    case ArrayT(_) => Seq(s"$name.size0", name)
    case LowCardinalityT(_) => Seq(s"$name.dict", name)
    case _ => Seq(name)
  }

  /** The substream whose marks carry per-granule ROW counts — for Array
    * columns the value stream's marks count ELEMENTS, so granule
    * accounting must read the sizes stream instead. */
  def rowGranularStream(name: String, t: ChType): String = t match {
    case ArrayT(_) => s"$name.size0"
    case NullableT(_) => s"$name.null"
    case _ => name
  }
}

/** Ordering over primary-key values — shared by the part writer (the
  * rows-sorted-by-key invariant check) and the reader's granule pruning
  * (comparing `primary.idx` entries against pushed-down predicate
  * bounds). Values arrive in mixed representations (external JVM values
  * on the write side, decoded index values and Spark `Filter` literals
  * on the read side); each is normalized per key type before comparing.
  * Enums compare by their declared CODE — CH's enum order — never
  * lexicographically. */
private[mergetree] final case class KeyOrdering(types: Seq[ChType]) {
  import ChType._

  /** Is `t` usable for pruning comparisons at all? */
  def comparable(t: ChType): Boolean = t match {
    case Str | _: FixedStr | F32 | F64 | BoolT => true
    case _: FixedInt | Date16 | Date32T | DateTime32 | _: DateTime64T | _: Enum => true
    case LowCardinalityT(inner) => comparable(inner)
    case _ => false
  }

  def compareRows(a: Seq[Any], b: Seq[Any]): Int = {
    var i = 0
    while (i < types.length) {
      val c = compareValues(types(i), a(i), b(i))
      if (c != 0) return c
      i += 1
    }
    0
  }

  def compareValues(t: ChType, x: Any, y: Any): Int = t match {
    // UTF-8 unsigned-byte order — the domain EVERY other comparer in
    // the pipeline uses: Spark sorts/filters strings as UTF8String
    // binary, ClickHouse memcmps, and parts are written in Spark's
    // sort order. String.compareTo (UTF-16 code units) disagrees above
    // U+FFFF (surrogates sort low), which made index pruning on
    // supplementary-plane keys unsound (review finding).
    case Str | _: FixedStr => utf8Compare(str(x), str(y))
    case F32 | F64 => java.lang.Double.compare(num(x), num(y))
    case FixedInt(8, false) => java.lang.Long.compareUnsigned(lng(x), lng(y))
    case _: FixedInt | BoolT => java.lang.Long.compare(lng(x), lng(y))
    case Date16 | Date32T => java.lang.Long.compare(days(x), days(y))
    case DateTime32 | _: DateTime64T => java.lang.Long.compare(micros(x), micros(y))
    case e: Enum => java.lang.Long.compare(enumCode(e, x), enumCode(e, y))
    case LowCardinalityT(inner) => compareValues(inner, x, y)
    case other => throw new IllegalArgumentException(s"not a comparable key type: $other")
  }

  private def str(x: Any): String = x.toString

  private def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = java.lang.Integer.compare(x(i) & 0xFF, y(i) & 0xFF)
      if (c != 0) return c
      i += 1
    }
    java.lang.Integer.compare(x.length, y.length)
  }
  private def num(x: Any): Double = x match {
    case n: Number => n.doubleValue()
    case other => throw new IllegalArgumentException(s"numeric key expected: $other")
  }
  private def lng(x: Any): Long = x match {
    case n: Number => n.longValue()
    case b: Boolean => if (b) 1L else 0L
    case other => throw new IllegalArgumentException(s"integer key expected: $other")
  }
  private def days(x: Any): Long = x match {
    case n: Number => n.longValue()
    case d: java.sql.Date => d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => d.toEpochDay
    case other => throw new IllegalArgumentException(s"date key expected: $other")
  }
  private def micros(x: Any): Long = x match {
    case n: Number => n.longValue()
    case t: java.sql.Timestamp => t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
    case i: java.time.Instant => i.getEpochSecond * 1000000L + i.getNano / 1000L
    // TIMESTAMP_NTZ filter values: wall-clock at UTC (session contract)
    case l: java.time.LocalDateTime =>
      l.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + l.getNano / 1000L
    case other => throw new IllegalArgumentException(s"timestamp key expected: $other")
  }
  private def enumCode(e: Enum, x: Any): Long = x match {
    case n: Number => n.longValue()
    case s => e.codeToName.collectFirst { case (c, n) if n == s.toString => c.toLong }
      .getOrElse(throw new IllegalArgumentException(s"'$s' not in enum declaration"))
  }
}

/** Decodes one column's values for a mark-aligned row range, producing
  * CATALYST representations matching [[ChSchemaParser]]'s Spark mapping
  * (UTF8String for strings, epoch days Int for dates, epoch micros Long
  * for timestamps, GenericArrayData for arrays). */
private[mergetree] object ColumnCodec {
  import ChType._
  import org.apache.spark.unsafe.types.UTF8String
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  // LowCardinality index-block flags (CH `IndexesSerializationType`)
  private val NeedGlobalDictionaryBit = 1L << 8
  private val HasAdditionalKeysBit = 1L << 9
  private val NeedUpdateDictionaryBit = 1L << 10

  /** One mark: frame offset in the compressed file, byte offset in the
    * decompressed frame, rows in the granule. */
  final case class Mark(comp: Long, decomp: Long, rows: Long)

  /** Context handed to the decoder: open a reader positioned anywhere,
    * and the marks for every substream of this column. */
  final class Streams(
      open: String => ChCompressedReader,
      marks: String => Array[Mark]) {
    private val readers = scala.collection.mutable.Map.empty[String, ChCompressedReader]
    def marksOf(stream: String): Array[Mark] = marks(stream)
    def reader(stream: String): ChCompressedReader =
      readers.getOrElseUpdate(stream, open(stream))
    def seek(stream: String, mark: Int): ChCompressedReader = {
      val r = reader(stream)
      val m = marks(stream)(mark)
      r.seek(m.comp, m.decomp)
      r
    }
    /** Absolute stream start — the LowCardinality dictionary version
      * prefix is written BEFORE mark 0, so mark-seeking cannot reach it. */
    def seekStart(stream: String): ChCompressedReader = {
      val r = reader(stream)
      r.seek(0L, 0L)
      r
    }
  }

  /** Decode `granuleRows.sum` rows of column `name` starting at granule
    * `markStart`. `granuleRows` are the split's per-granule row counts
    * (needed by the per-granule LowCardinality block structure). */
  def decode(
      name: String,
      t: ChType,
      st: Streams,
      markStart: Int,
      granuleRows: Array[Int]): Array[Any] = {
    val n = granuleRows.sum
    t match {
      case NullableT(inner) =>
        val nm = st.seek(s"$name.null", markStart)
        val mask = Array.fill(n)(nm.readByte() != 0)
        val vals = scalars(inner, st.seek(name, markStart), n)
        var i = 0
        while (i < n) { if (mask(i)) vals(i) = null; i += 1 }
        vals
      case LowCardinalityT(inner) =>
        decodeLowCardinality(name, inner, st, markStart, granuleRows)
      case ArrayT(elem) =>
        val (sizes, elemTotalPerGranule) = arraySizes(name, st, markStart, granuleRows)
        val flat = elem match {
          case LowCardinalityT(inner) =>
            decodeLowCardinality(name, inner, st, markStart, elemTotalPerGranule)
          case scalar =>
            scalars(scalar, st.seek(name, markStart), sizes.map(_.toInt).sum)
        }
        val out = new Array[Any](n)
        var i = 0
        var off = 0
        while (i < n) {
          val len = sizes(i).toInt
          val a = new Array[Any](len)
          System.arraycopy(flat, off, a, 0, len)
          out(i) = new GenericArrayData(a)
          off += len
          i += 1
        }
        out
      case scalar =>
        scalars(scalar, st.seek(name, markStart), n)
    }
  }

  /** Per-row array lengths for the split, plus per-granule ELEMENT
    * totals (the LowCardinality element path needs them). `size0` stores
    * ABSOLUTE cumulative element offsets, so a split starting at granule
    * g > 0 reads granule g-1 first to learn its last offset — one cheap
    * extra granule of 8-byte values, no part-wide rewind. */
  private def arraySizes(
      name: String,
      st: Streams,
      markStart: Int,
      granuleRows: Array[Int]): (Array[Long], Array[Int]) = {
    val r =
      if (markStart == 0) st.seek(s"$name.size0", 0)
      else {
        val rr = st.seek(s"$name.size0", markStart - 1)
        rr // positioned at granule markStart-1; its rows are read below
      }
    var base = 0L
    if (markStart > 0) {
      val prevRows = st.marksOf(s"$name.size0")(markStart - 1).rows.toInt
      var i = 0
      while (i < prevRows) { base = r.readLongLE(); i += 1 }
    }
    val n = granuleRows.sum
    val sizes = new Array[Long](n)
    val perGranule = new Array[Int](granuleRows.length)
    var i = 0
    var g = 0
    var inG = 0
    var gElems = 0L
    var prev = base
    while (i < n) {
      val off = r.readLongLE()
      sizes(i) = off - prev
      require(sizes(i) >= 0, s"corrupt size0 stream for $name: offsets not monotone")
      gElems += sizes(i)
      prev = off
      i += 1
      inG += 1
      if (inG == granuleRows(g)) {
        require(gElems <= Int.MaxValue, s"granule of $gElems array elements")
        perGranule(g) = gElems.toInt
        g += 1; inG = 0; gElems = 0L
      }
    }
    (sizes, perGranule)
  }

  /** Per-granule LowCardinality blocks: `[UInt64 flags][optional UInt64
    * key-count + keys][index per row]`, dictionary version prefix in the
    * `.dict` substream. Global-dictionary blocks read their keys from
    * `.dict`; additional-keys blocks carry them inline. Both-at-once
    * (shared dictionary WITH overflow keys) is outside the subset and
    * refuses loudly. */
  private def decodeLowCardinality(
      name: String,
      inner0: ChType,
      st: Streams,
      markStart: Int,
      granuleCounts: Array[Int]): Array[Any] = {
    val (keys, ids) =
      decodeLowCardinalityIndexed(name, inner0, st, markStart, granuleCounts)
    val out = new Array[Any](ids.length)
    var i = 0
    while (i < ids.length) {
      out(i) = if (ids(i) < 0) null else keys(ids(i))
      i += 1
    }
    out
  }

  /** LowCardinality decode to (split-global dictionary, per-row ids);
    * id -1 marks a NULL row (Nullable inner's reserved slot 0). Per-
    * granule additional-keys dictionaries remap onto one split-global
    * key list — what the DICTIONARY-BACKED column-vector emit needs
    * (r16: a dictionary-aware consumer like DictAgg then touches each
    * distinct value once per batch instead of once per row). */
  private[mergetree] def decodeLowCardinalityIndexed(
      name: String,
      inner0: ChType,
      st: Streams,
      markStart: Int,
      granuleCounts: Array[Int]): (Array[Any], Array[Int]) = {
    // Nullable inner: the dictionary serializes as the NESTED type and
    // index 0 is the reserved null slot (CH's layout; r16)
    val (inner, lcNullable) = inner0 match {
      case NullableT(n) => (n, true)
      case other => (other, false)
    }
    val dict = st.seekStart(s"$name.dict")
    val version = dict.readLongLE()
    require(version == 1L,
      s"LowCardinality keys-serialization version $version (expected 1) for $name")
    var globalKeys: Array[Any] = null
    var globalMap: Array[Int] = null // per-granule-key → split-global id
    val out = new Array[Int](granuleCounts.sum)
    val merged = new java.util.ArrayList[Any]()
    val mergedIdx = new java.util.HashMap[Any, Integer]()
    def globalIdOf(k: Any): Int = {
      val hit = mergedIdx.get(k)
      if (hit != null) hit.intValue()
      else {
        val id = merged.size()
        merged.add(k)
        mergedIdx.put(k, Integer.valueOf(id))
        id
      }
    }
    val r = st.seek(name, markStart)
    var g = 0
    var pos = 0
    while (g < granuleCounts.length) {
      val rows = granuleCounts(g)
      if (rows > 0) {
        val flags = r.readLongLE()
        val width = (flags & 0xFF) match {
          case 0 => 1; case 1 => 2; case 2 => 4; case 3 => 8
          case w => throw new IllegalArgumentException(s"LowCardinality index width tag $w")
        }
        val needGlobal = (flags & NeedGlobalDictionaryBit) != 0
        val hasAdditional = (flags & HasAdditionalKeysBit) != 0
        require(!(needGlobal && hasAdditional),
          s"LowCardinality block for $name mixes a global dictionary with " +
            "additional keys — outside the supported subset")
        val remap: Array[Int] =
          if (needGlobal) {
            if (globalKeys == null || (flags & NeedUpdateDictionaryBit) != 0) {
              val nKeys = dict.readLongLE()
              require(nKeys <= Int.MaxValue, s"dictionary of $nKeys keys")
              globalKeys = scalars(inner, dict, nKeys.toInt)
              globalMap = globalKeys.map(globalIdOf)
            }
            globalMap
          } else if (hasAdditional) {
            val nKeys = r.readLongLE()
            require(nKeys <= Int.MaxValue, s"dictionary of $nKeys keys")
            scalars(inner, r, nKeys.toInt).map(globalIdOf)
          } else {
            throw new IllegalArgumentException(
              s"LowCardinality block for $name declares neither a global " +
                "dictionary nor additional keys")
          }
        // width-1 indexes (the common LowCardinality case: <=256 keys
        // per granule) read the granule's whole index run in one
        // readBytes instead of a bounds-checked reader call per row
        // (r20, guide §1.2 per-task work)
        if (width == 1) {
          val raw = r.readBytes(rows)
          var i = 0
          while (i < rows) {
            val idx = raw(i) & 0xFF
            require(idx < remap.length,
              s"LowCardinality index $idx outside dictionary of ${remap.length} for $name")
            out(pos) = if (lcNullable && idx == 0) -1 else remap(idx)
            pos += 1
            i += 1
          }
        } else {
          var i = 0
          while (i < rows) {
            val idx = width match {
              case 2 => r.readShortLE() & 0xFFFF
              case 4 => r.readIntLE()
              case 8 =>
                val v = r.readLongLE()
                require(v >= 0 && v <= Int.MaxValue, s"LowCardinality index $v")
                v.toInt
            }
            require(idx >= 0 && idx < remap.length,
              s"LowCardinality index $idx outside dictionary of ${remap.length} for $name")
            out(pos) = if (lcNullable && idx == 0) -1 else remap(idx)
            pos += 1
            i += 1
          }
        }
      }
      g += 1
    }
    val keysOut = new Array[Any](merged.size())
    var k = 0
    while (k < keysOut.length) { keysOut(k) = merged.get(k); k += 1 }
    (keysOut, out)
  }

  /** Plain scalar column types whose decode can write STRAIGHT into a
    * writable column vector — the no-boxing fast path of the columnar
    * scan. Wrappers (Nullable/LowCardinality/Array) go through the
    * boxed structural decode + vector fill. */
  private[mergetree] def fastScalar(t: ChType): Boolean = t match {
    case _: FixedInt | F32 | F64 | Date16 | Date32T | DateTime32 |
         _: DateTime64T | BoolT | Str | _: FixedStr | _: Enum |
         _: DecimalT => true
    case _ => false
  }

  /** Decode `n` values of plain scalar type `t` directly into vector
    * slots — the unboxed twin of [[scalars]], same value mapping
    * (verified against each other by the columnar-vs-row spec). */
  private[mergetree] def scalarsInto(
      t: ChType, r: ChCompressedReader, n: Int,
      v: org.apache.spark.sql.execution.vectorized.WritableColumnVector): Unit = {
    var i = 0
    // Bulk lane for width-preserving fixed-width LE types (r20, guide
    // §1.2 per-task work): whole value runs are copied out of the
    // decompressed block with ONE little-endian bulk put per block
    // (copyMemory on this platform) instead of per-value byte shifts
    // through the reader. A value spanning a frame boundary falls back
    // to the per-value reader for exactly that value — bit-identical
    // (the LE bulk puts and the readXxxLE readers decode the same
    // layout; pinned by the columnar-vs-row equivalence spec).
    def bulk(width: Int,
        putRun: (Int, Int, Array[Byte], Int) => Unit,
        putOne: Int => Unit): Unit = {
      var row = 0
      while (row < n) {
        r.ensureBlock()
        val take = math.min(r.blockRemaining / width, n - row)
        if (take > 0) {
          putRun(row, take, r.blockBytes, r.blockOffset)
          r.skipInBlock(take * width)
          row += take
        } else { // fewer than one whole value left in this frame
          putOne(row)
          row += 1
        }
      }
    }
    t match {
      case FixedInt(1, true)  =>
        bulk(1, v.putBytes, row => v.putByte(row, r.readByte().toByte))
      case FixedInt(1, false) => while (i < n) { v.putShort(i, r.readByte().toShort); i += 1 }
      case FixedInt(2, true)  => while (i < n) { v.putShort(i, r.readShortLE()); i += 1 }
      case FixedInt(2, false) => while (i < n) { v.putInt(i, r.readShortLE() & 0xFFFF); i += 1 }
      case FixedInt(4, true)  =>
        bulk(4, v.putIntsLittleEndian, row => v.putInt(row, r.readIntLE()))
      case FixedInt(4, false) => while (i < n) { v.putLong(i, r.readIntLE() & 0xFFFFFFFFL); i += 1 }
      case FixedInt(8, _)     =>
        bulk(8, v.putLongsLittleEndian, row => v.putLong(row, r.readLongLE()))
      case FixedInt(b, _) => throw new IllegalArgumentException(s"int width $b")
      case F32 =>
        bulk(4, v.putFloatsLittleEndian, row => v.putFloat(row, r.readFloatLE()))
      case F64 =>
        bulk(8, v.putDoublesLittleEndian, row => v.putDouble(row, r.readDoubleLE()))
      case Str =>
        while (i < n) {
          val b = r.readStringBytes()
          v.putByteArray(i, b, 0, b.length)
          i += 1
        }
      case FixedStr(len) =>
        while (i < n) {
          val b = r.readBytes(len)
          v.putByteArray(i, b, 0, b.length)
          i += 1
        }
      case BoolT => while (i < n) { v.putBoolean(i, r.readByte() != 0); i += 1 }
      case Date16 => while (i < n) { v.putInt(i, r.readShortLE() & 0xFFFF); i += 1 }
      case Date32T =>
        bulk(4, v.putIntsLittleEndian, row => v.putInt(row, r.readIntLE()))
      case DateTime32 =>
        while (i < n) { v.putLong(i, (r.readIntLE() & 0xFFFFFFFFL) * 1000000L); i += 1 }
      case DateTime64T(scale) =>
        val factor = math.pow(10, math.abs(6 - scale)).toLong
        while (i < n) {
          val ticks = r.readLongLE()
          v.putLong(i, if (scale <= 6) ticks * factor else ticks / factor)
          i += 1
        }
      case e: Enum =>
        // code → utf8 bytes precomputed once, not per row
        val codeBytes: Map[Int, Array[Byte]] =
          e.codeToName.map { case (c, s) => c -> s.getBytes("UTF-8") }
        while (i < n) {
          val code = if (e.bytes == 1) r.readByte().toByte.toInt else r.readShortLE().toInt
          val b = codeBytes.getOrElse(code,
            throw new IllegalArgumentException(s"enum code $code not in declaration"))
          v.putByteArray(i, b, 0, b.length)
          i += 1
        }
      case d: DecimalT =>
        // the vector's DecimalType storage matches the wire width:
        // int (P ≤ 9), long (P ≤ 18), unscaled big-endian bytes (P ≤ 38)
        d.byteWidth match {
          case 4 =>
            bulk(4, v.putIntsLittleEndian, row => v.putInt(row, r.readIntLE()))
          case 8 =>
            bulk(8, v.putLongsLittleEndian, row => v.putLong(row, r.readLongLE()))
          case _ =>
            while (i < n) {
              val be = decimal128Be(r)
              v.putByteArray(i, be, 0, be.length)
              i += 1
            }
        }
      case other =>
        throw new IllegalArgumentException(s"not a fast-scalar MergeTree type: $other")
    }
  }

  /** `n` scalar values off an already-positioned reader. */
  private[mergetree] def scalars(t: ChType, r: ChCompressedReader, n: Int): Array[Any] = {
    val out = new Array[Any](n)
    var i = 0
    t match {
      case FixedInt(1, true)  => while (i < n) { out(i) = r.readByte().toByte; i += 1 }
      case FixedInt(1, false) => while (i < n) { out(i) = r.readByte().toShort; i += 1 }
      case FixedInt(2, true)  => while (i < n) { out(i) = r.readShortLE(); i += 1 }
      case FixedInt(2, false) => while (i < n) { out(i) = r.readShortLE() & 0xFFFF; i += 1 }
      case FixedInt(4, true)  => while (i < n) { out(i) = r.readIntLE(); i += 1 }
      case FixedInt(4, false) => while (i < n) { out(i) = r.readIntLE() & 0xFFFFFFFFL; i += 1 }
      case FixedInt(8, _)     => while (i < n) { out(i) = r.readLongLE(); i += 1 }
      case FixedInt(b, _) => throw new IllegalArgumentException(s"int width $b")
      case F32 => while (i < n) { out(i) = r.readFloatLE(); i += 1 }
      case F64 => while (i < n) { out(i) = r.readDoubleLE(); i += 1 }
      case Str => while (i < n) { out(i) = UTF8String.fromBytes(r.readStringBytes()); i += 1 }
      case FixedStr(len) =>
        while (i < n) { out(i) = UTF8String.fromBytes(r.readBytes(len)); i += 1 }
      case Date16 => while (i < n) { out(i) = r.readShortLE() & 0xFFFF; i += 1 }
      case Date32T => while (i < n) { out(i) = r.readIntLE(); i += 1 }
      case DateTime32 =>
        while (i < n) { out(i) = (r.readIntLE() & 0xFFFFFFFFL) * 1000000L; i += 1 }
      case DateTime64T(scale) =>
        val factor = math.pow(10, math.abs(6 - scale)).toLong
        while (i < n) {
          val ticks = r.readLongLE()
          out(i) = if (scale <= 6) ticks * factor else ticks / factor
          i += 1
        }
      case e: Enum =>
        while (i < n) {
          val code = if (e.bytes == 1) r.readByte().toByte.toInt else r.readShortLE().toInt
          out(i) = UTF8String.fromString(e.codeToName.getOrElse(code,
            throw new IllegalArgumentException(s"enum code $code not in declaration")))
          i += 1
        }
      case BoolT => while (i < n) { out(i) = r.readByte() != 0; i += 1 }
      case d: DecimalT =>
        while (i < n) {
          val unscaled = d.byteWidth match {
            case 4 => java.math.BigInteger.valueOf(r.readIntLE().toLong)
            case 8 => java.math.BigInteger.valueOf(r.readLongLE())
            case _ => new java.math.BigInteger(decimal128Be(r))
          }
          out(i) = org.apache.spark.sql.types.Decimal(
            new java.math.BigDecimal(unscaled, d.scale), d.precision, d.scale)
          i += 1
        }
      case other =>
        throw new IllegalArgumentException(s"not a scalar MergeTree type: $other")
    }
    out
  }

  /** 16 little-endian stream bytes → big-endian two's complement (the
    * layout BigInteger and decimal column vectors consume). */
  private def decimal128Be(r: ChCompressedReader): Array[Byte] = {
    val be = new Array[Byte](16)
    var j = 15
    while (j >= 0) { be(j) = r.readByte().toByte; j -= 1 }
    be
  }
}

/** Decoder for COMPACT parts — all columns interleaved in one `data.bin`,
  * marks in `data.mrk3` (ClickHouse `MergeTreeDataPartCompact`): each
  * granule stores, column by column, that column's substreams
  * CONCATENATED into the shared stream with position-independent
  * encoding — Nullable writes `[null map][values]`, Array writes
  * `[per-row SIZES as UInt64][elements]` (sizes, not the wide layout's
  * cumulative offsets — compact chunks must decode without part-wide
  * context). The `data.mrk3` pair for (granule, column) addresses the
  * chunk start.
  *
  * Supported compact subset: every scalar type [[ColumnCodec]] decodes,
  * plus Nullable(scalar) and Array(scalar). LowCardinality inside a
  * compact part (a shared-dictionary serialization that spans granules)
  * refuses loudly at ATTACH rather than decoding garbage. */
private[mergetree] object CompactCodec {
  import ChType._
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  def supported(t: ChType): Boolean = t match {
    case NullableT(inner) => scalar(inner)
    case ArrayT(elem) => scalar(elem)
    case other => scalar(other)
  }
  private def scalar(t: ChType): Boolean = t match {
    case _: NullableT | _: ArrayT | _: LowCardinalityT => false
    case _ => true
  }

  /** Decode a granule range of column `colIdx` off a shared `data.bin`
    * reader. `marks(g)(colIdx)` addresses granule g's chunk for this
    * column; `granuleRows` are the split's row counts (absolute granule
    * indexes `markStart until markStart+granuleRows.length`). */
  def decode(
      name: String,
      t: ChType,
      r: ChCompressedReader,
      marks: Array[Array[(Long, Long)]],
      colIdx: Int,
      markStart: Int,
      granuleRows: Array[Int]): Array[Any] = {
    require(supported(t),
      s"column `$name`: type $t is outside the compact-part subset " +
        "(scalars, Nullable(scalar), Array(scalar) — LowCardinality " +
        "refuses; write the part wide instead)")
    val out = Array.newBuilder[Any]
    var g = 0
    while (g < granuleRows.length) {
      val rows = granuleRows(g)
      if (rows > 0) {
        val (comp, decomp) = marks(markStart + g)(colIdx)
        r.seek(comp, decomp)
        t match {
          case NullableT(inner) =>
            val mask = Array.fill(rows)(r.readByte() != 0)
            val vals = ColumnCodec.scalars(inner, r, rows)
            var i = 0
            while (i < rows) { out += (if (mask(i)) null else vals(i)); i += 1 }
          case ArrayT(elem) =>
            val sizes = new Array[Int](rows)
            var total = 0L
            var i = 0
            while (i < rows) {
              val s = r.readLongLE()
              require(s >= 0 && s <= Int.MaxValue, s"array size $s in `$name`")
              sizes(i) = s.toInt; total += s; i += 1
            }
            require(total <= Int.MaxValue, s"granule of $total array elements")
            val flat = ColumnCodec.scalars(elem, r, total.toInt)
            var off = 0
            i = 0
            while (i < rows) {
              val a = new Array[Any](sizes(i))
              System.arraycopy(flat, off, a, 0, sizes(i))
              out += new GenericArrayData(a)
              off += sizes(i); i += 1
            }
          case scalarT =>
            out ++= ColumnCodec.scalars(scalarT, r, rows)
        }
      }
      g += 1
    }
    out.result()
  }
}
