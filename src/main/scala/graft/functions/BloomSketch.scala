package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Bloom filter as a custom Catalyst aggregate + a pure-Column
  * membership test — the semi-join reduction pattern: build the
  * filter over the SMALL side's join keys, test the BIG side
  * map-side BEFORE its shuffle, then let the exact join remove the
  * false positives. The final result is exactly the plain join's (the
  * bloom can only pass extra rows, never drop real ones), but the
  * shuffle carries only ~selectivity·N rows — at 100 TB this is the
  * difference between shuffling a percent of the fact table and all
  * of it. (Spark's own runtime bloom-filter join injects the same
  * shape; this one is explicit, deterministic and spec-testable.)
  *
  * Hash family: the shared TextFns universal-hash params over a key
  * hash in [0, P) — all products < 2^62, no overflow. Merge = bitwise
  * OR ⇒ associative+commutative ⇒ partial+final with NumWords longs
  * on the wire.
  */
case class BloomSketch(
  child: Expression,
  override val mutableAggBufferOffset: Int = 0,
  override val inputAggBufferOffset: Int = 0)
  extends LongArraySketch {

  import BloomSketch._

  override def createAggregationBuffer(): Array[Long] = new Array[Long](NumWords)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      var i = 0
      while (i < NumHashes) {
        val pos = position(h, i)
        buf(pos >> 6) |= 1L << (pos & 63)
        i += 1
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < NumWords) { a(i) |= b(i); i += 1 }
    a
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
    copy(child = c.head)
  override def withNewMutableAggBufferOffset(o: Int): BloomSketch =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BloomSketch =
    copy(inputAggBufferOffset = o)
  override def prettyName: String = "graft_bloom"
}

object BloomSketch {

  final val NumBits = 8192
  final val NumWords = NumBits / 64
  final val NumHashes = 4

  /** Bit position of hash function i for key hash h ∈ [0, P). */
  def position(h: Long, i: Int): Int = {
    val (a, b) = TextFns.hashParams(i)
    (((h * a + b) % TextFns.P) % NumBits).toInt
  }

  /** Aggregate a long key-hash column into the NumWords bit words. */
  def bloomAgg(h: Column): Column =
    ColumnBridge.column(
      BloomSketch(ColumnBridge.expression(h)).toAggregateExpression())

  /** Pure-Column membership test against a materialized sketch — the
    * same arithmetic as [[position]], so no false negatives by
    * construction. Stays inside whole-stage codegen (arithmetic +
    * element_at + shiftright only).
    */
  def mightContain(h: Column, sketch: Array[Long]): Column =
    mightContainCol(h, lit(sketch))

  /** [[mightContain]] with the sketch as a COLUMN — the per-row form
    * a stats table of per-file Blooms needs (one sketch per row, the
    * probe key a literal). Same arithmetic, same no-false-negative
    * guarantee, still pure codegen.
    */
  def mightContainCol(h: Column, sketch: Column): Column =
    (0 until NumHashes).map { i =>
      val (a, b) = TextFns.hashParams(i)
      val pos = pmod(h * lit(a) + lit(b), lit(TextFns.P)) % NumBits
      val word = element_at(sketch, (pos / 64).cast("int") + 1)
      call_function("shiftright", word, (pos % 64).cast("int"))
        .bitwiseAND(lit(1L)) === 1
    }.reduce(_ && _)
}
