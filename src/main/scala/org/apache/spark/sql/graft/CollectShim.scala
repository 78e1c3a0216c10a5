package org.apache.spark.sql.graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.SparkEnv
import org.apache.spark.io.CompressionCodec
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow

/** One partition's rows in the layout Spark's own `collect()` ships
  * them (`SparkPlan.getByteArrayRdd` / `decodeUnsafeRows`, both
  * private): `[int size][UnsafeRow bytes]…[-1]` through the configured
  * I/O codec (`spark.io.compression.codec`; the codec factory is
  * `private[spark]`). [[graft.service.PartitionFetch]] runs [[encode]]
  * as each partition job's task and [[decode]] on the driver. */
object CollectShim {

  /** Executor side: the partition's rows as one compressed byte array.
    * Physical plans hand `execute()` UnsafeRows, as collect assumes. */
  def encode(rows: Iterator[InternalRow]): Array[Byte] = {
    val codec = CompressionCodec.createCodec(SparkEnv.get.conf)
    val bytes = new ByteArrayOutputStream(64 << 10)
    val out = new DataOutputStream(codec.compressedOutputStream(bytes))
    val buffer = new Array[Byte](4 << 10)
    while (rows.hasNext) {
      val row = rows.next().asInstanceOf[UnsafeRow]
      out.writeInt(row.getSizeInBytes)
      row.writeToStream(out, buffer)
    }
    out.writeInt(-1)
    out.close()
    bytes.toByteArray
  }

  /** Driver side: the rows of one [[encode]]d partition, decoded
    * lazily — each row owns its bytes, so callers may hold it. */
  def decode(bytes: Array[Byte], numFields: Int): Iterator[InternalRow] = {
    val codec = CompressionCodec.createCodec(SparkEnv.get.conf)
    val in = new DataInputStream(
      codec.compressedInputStream(new ByteArrayInputStream(bytes)))
    new Iterator[InternalRow] {
      private var nextSize = readSize()
      private def readSize(): Int = {
        val n = in.readInt()
        if (n < 0) in.close()
        n
      }
      override def hasNext: Boolean = nextSize >= 0
      override def next(): InternalRow = {
        if (nextSize < 0) throw new NoSuchElementException("partition drained")
        val b = new Array[Byte](nextSize)
        in.readFully(b)
        val row = new UnsafeRow(numFields)
        row.pointTo(b, nextSize)
        nextSize = readSize()
        row
      }
    }
  }
}
