package graft.service.native

import java.io.{EOFException, InputStream, OutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8

/** Byte-level primitives of ClickHouse's native TCP protocol (the wire
  * the reference's control plane actually dials — reference
  * `temporal/workflow_query_executor.go:222-236` builds a clickhouse-go
  * conn on port 9000 with LZ4 compression; `:302-313` runs SET/ATTACH
  * init then the query on that pinned conn).
  *
  * Framing is public protocol, identical in ClickHouse's own
  * `IO/VarInt.h` / clickhouse-go's `lib/proto`:
  *
  *   - unsigned LEB128 varints for packet ids, lengths and counts;
  *   - strings as varint length + UTF-8 bytes;
  *   - fixed-width little-endian integers/floats inside column data;
  *   - compressed frames `[16B CityHash128][1B method][4B LE compressed
  *     size incl. this 9B header][4B LE decompressed size][payload]` —
  *     byte-identical to the MergeTree `.bin` frame this engine already
  *     reads and writes ([[graft.sources.mergetree]]), LZ4 block
  *     format, checksum over the 9B header + payload.
  */
object NativeWire {

  val MethodLz4: Int = 0x82
  val MethodNone: Int = 0x02

  // ---- growable output buffer ----

  /** Unsynchronized growable byte buffer; 2/4/8-byte little-endian
    * values go in with one store each (these writes are most of a
    * block encode). */
  final class WireOut {
    private var buf = new Array[Byte](256)
    private var le = wrap(buf)
    private var pos = 0
    private def wrap(b: Array[Byte]): ByteBuffer =
      ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
    private def ensure(n: Int): Unit = if (n > buf.length - pos) {
      val want = pos.toLong + n
      require(want <= Int.MaxValue - 8, s"wire buffer over 2 GB ($want bytes)")
      buf = java.util.Arrays.copyOf(buf,
        math.max(want, math.min(buf.length * 2L, Int.MaxValue - 8L)).toInt)
      le = wrap(buf)
    }
    def size: Int = pos
    def bytes: Array[Byte] = java.util.Arrays.copyOf(buf, pos)
    /** The written bytes onto `out`, without the copy [[bytes]] makes. */
    def writeTo(out: OutputStream): Unit = out.write(buf, 0, pos)
    def writeByte(b: Int): Unit = { ensure(1); buf(pos) = b.toByte; pos += 1 }
    def writeBytes(b: Array[Byte]): Unit = {
      ensure(b.length)
      System.arraycopy(b, 0, buf, pos, b.length)
      pos += b.length
    }
    def writeVarUInt(v0: Long): Unit = {
      ensure(10)
      var v = v0
      while ((v & ~0x7FL) != 0) { buf(pos) = ((v & 0x7F) | 0x80).toByte; pos += 1; v >>>= 7 }
      buf(pos) = v.toByte
      pos += 1
    }
    def writeString(s: String): Unit = {
      val b = s.getBytes(UTF_8)
      writeVarUInt(b.length.toLong)
      writeBytes(b)
    }
    def writeShortLE(v: Short): Unit = { ensure(2); le.putShort(pos, v); pos += 2 }
    def writeIntLE(v: Int): Unit = { ensure(4); le.putInt(pos, v); pos += 4 }
    def writeLongLE(v: Long): Unit = { ensure(8); le.putLong(pos, v); pos += 8 }
    def writeFloatLE(v: Float): Unit = writeIntLE(java.lang.Float.floatToIntBits(v))
    def writeDoubleLE(v: Double): Unit = writeLongLE(java.lang.Double.doubleToLongBits(v))
  }

  /** Uniform decode source — backed by a byte array ([[WireIn]]), a
    * raw socket stream ([[StreamIn]]), or a lazily-decompressing frame
    * chain ([[FrameIn]]). */
  trait ByteSource {
    def readByte(): Int
    def readBytes(n: Int): Array[Byte]
    final def readVarUInt(): Long = {
      var v = 0L; var shift = 0; var b = readByte()
      while ((b & 0x80) != 0) { v |= (b & 0x7FL) << shift; shift += 7; b = readByte() }
      v | ((b & 0x7FL) << shift)
    }
    final def readString(): String =
      new String(readBytes(readVarUInt().toInt), UTF_8)
    final def readShortLE(): Short = (readByte() | (readByte() << 8)).toShort
    final def readIntLE(): Int = {
      var v = 0; var i = 0
      while (i < 4) { v |= readByte() << (8 * i); i += 1 }
      v
    }
    final def readLongLE(): Long = {
      var v = 0L; var i = 0
      while (i < 8) { v |= readByte().toLong << (8 * i); i += 1 }
      v
    }
    final def readFloatLE(): Float = java.lang.Float.intBitsToFloat(readIntLE())
    final def readDoubleLE(): Double = java.lang.Double.longBitsToDouble(readLongLE())
  }

  final class WireIn(data: Array[Byte]) extends ByteSource {
    private var pos = 0
    def remaining: Int = data.length - pos
    def atEnd: Boolean = pos >= data.length
    def readByte(): Int = {
      if (pos >= data.length) throw new EOFException("wire buffer underrun")
      val b = data(pos) & 0xFF; pos += 1; b
    }
    def readBytes(n: Int): Array[Byte] = {
      if (pos + n > data.length) throw new EOFException("wire buffer underrun")
      val out = java.util.Arrays.copyOfRange(data, pos, pos + n); pos += n; out
    }
  }

  final class StreamIn(in: InputStream) extends ByteSource {
    def readByte(): Int = {
      val b = in.read()
      if (b < 0) throw new EOFException("peer closed mid-read")
      b
    }
    def readBytes(n: Int): Array[Byte] = readFully(in, n)
  }

  /** Stateful decompressed-byte source over a socket stream: block
    * parsers pull exactly what they need; frames are fetched lazily
    * and leftovers carry over (a sender may pack a block into several
    * frames, but frames never span packets — CH's own flush contract). */
  final class FrameIn(in: InputStream) extends ByteSource {
    private var buf: Array[Byte] = Array.emptyByteArray
    private var pos = 0
    private def ensure(): Unit =
      while (pos >= buf.length) { buf = readFrame(in); pos = 0 }
    def readByte(): Int = { ensure(); val b = buf(pos) & 0xFF; pos += 1; b }
    def readBytes(n: Int): Array[Byte] = {
      val out = new Array[Byte](n)
      var got = 0
      while (got < n) {
        ensure()
        val take = math.min(n - got, buf.length - pos)
        System.arraycopy(buf, pos, out, got, take)
        pos += take; got += take
      }
      out
    }
  }

  // ---- raw-stream primitives (packet ids, strings outside blocks) ----

  def readFully(in: InputStream, n: Int): Array[Byte] = {
    val b = new Array[Byte](n)
    var got = 0
    while (got < n) {
      val r = in.read(b, got, n - got)
      if (r < 0) throw new EOFException(s"peer closed mid-read ($got/$n)")
      got += r
    }
    b
  }

  def readVarUInt(in: InputStream): Long = {
    var v = 0L; var shift = 0
    var b = in.read()
    if (b < 0) throw new EOFException("peer closed before varint")
    while ((b & 0x80) != 0) {
      v |= (b & 0x7FL) << shift; shift += 7
      b = in.read()
      if (b < 0) throw new EOFException("peer closed mid-varint")
    }
    v | ((b & 0x7FL) << shift)
  }

  def readString(in: InputStream): String =
    new String(readFully(in, readVarUInt(in).toInt), UTF_8)

  def writeVarUInt(out: OutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7FL) != 0) { out.write(((v & 0x7F) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }

  def writeString(out: OutputStream, s: String): Unit = {
    val b = s.getBytes(UTF_8)
    writeVarUInt(out, b.length.toLong)
    out.write(b)
  }

  // ---- compressed frames (CH's CompressedWriteBuffer layout) ----

  /** One LZ4 frame around `raw`: CityHash128 v1.0.2 checksum of the 9B
    * header + compressed payload, then the header, then the payload. */
  def lz4Frame(raw: Array[Byte]): Array[Byte] = {
    val comp = net.jpountz.lz4.LZ4Factory.fastestInstance()
      .fastCompressor().compress(raw)
    val body = new Array[Byte](9 + comp.length)
    body(0) = MethodLz4.toByte
    val compSize = comp.length + 9
    var i = 0
    while (i < 4) {
      body(1 + i) = ((compSize >> (8 * i)) & 0xFF).toByte
      body(5 + i) = ((raw.length >> (8 * i)) & 0xFF).toByte
      i += 1
    }
    System.arraycopy(comp, 0, body, 9, comp.length)
    val (lo, hi) = graft.functions.CityHash.hash128(body)
    val out = new Array[Byte](16 + body.length)
    i = 0
    while (i < 8) {
      out(i) = ((lo >> (8 * i)) & 0xFF).toByte
      out(8 + i) = ((hi >> (8 * i)) & 0xFF).toByte
      i += 1
    }
    System.arraycopy(body, 0, out, 16, body.length)
    out
  }

  /** Read one compressed frame off the stream, verify its checksum,
    * return the decompressed bytes. */
  def readFrame(in: InputStream): Array[Byte] = {
    val header = readFully(in, 25)
    def leInt(o: Int): Int = {
      var v = 0; var i = 0
      while (i < 4) { v |= (header(o + i) & 0xFF) << (8 * i); i += 1 }
      v
    }
    def leLong(o: Int): Long = {
      var v = 0L; var i = 0
      while (i < 8) { v |= (header(o + i) & 0xFFL) << (8 * i); i += 1 }
      v
    }
    val method = header(16) & 0xFF
    val compSize = leInt(17)
    val rawSize = leInt(21)
    val payload = readFully(in, compSize - 9)
    val body = new Array[Byte](9 + payload.length)
    System.arraycopy(header, 16, body, 0, 9)
    System.arraycopy(payload, 0, body, 9, payload.length)
    val (lo, hi) = graft.functions.CityHash.hash128(body)
    require(lo == leLong(0) && hi == leLong(8),
      "native protocol: compressed frame checksum mismatch")
    method match {
      case MethodLz4 =>
        val out = new Array[Byte](rawSize)
        net.jpountz.lz4.LZ4Factory.fastestInstance().fastDecompressor()
          .decompress(payload, 0, out, 0, rawSize)
        out
      case MethodNone =>
        java.util.Arrays.copyOf(payload, rawSize)
      case m => throw new IllegalArgumentException(
        f"native protocol: unsupported compression method 0x$m%02x")
    }
  }
}
