package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** The skeleton of a one-input sketch aggregate whose state is a
  * fixed-length `Array[Long]` and whose result is that array as a
  * non-null array<bigint>: [[BloomSketch]], [[CountMinSketch]],
  * [[HistogramSketch]] and [[MinHashMerge]]. A sketch supplies its
  * buffer, update and merge; the wire codec, eval and result type
  * live here once.
  */
abstract class LongArraySketch extends TypedImperativeAggregate[Array[Long]] {
  def child: Expression

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)
  override def serialize(buf: Array[Long]): Array[Byte] = LongArraySketch.encode(buf)
  override def deserialize(bytes: Array[Byte]): Array[Long] = LongArraySketch.decode(bytes)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
}

object LongArraySketch {
  /** The words as big-endian bytes, 8 per word. */
  def encode(words: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(words.length * 8)
    words.foreach(bb.putLong)
    bb.array()
  }

  /** Inverse of [[encode]]. */
  def decode(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getLong)
  }
}
