package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Custom Catalyst aggregate: elementwise-min merge of MinHash
  * signatures — a mergeable corpus-level sketch (SURVEY.md §4.3 item
  * 3: "custom TypedImperativeAggregate for sketches beyond
  * approx_count_distinct").
  *
  * Merging per-document signatures with elementwise min yields the
  * signature of the UNION of the documents' shingle sets, so group
  * sketches support cheap cross-group Jaccard estimation without
  * touching the documents again. The merge is associative and
  * commutative ⇒ Spark evaluates it partial+final (map-side combine),
  * and each partition contributes k longs to the exchange regardless
  * of group size — exactly the shape a 100 TB corpus profile needs.
  */
case class MinHashMerge(
  child: Expression,
  override val mutableAggBufferOffset: Int = 0,
  override val inputAggBufferOffset: Int = 0)
  extends LongArraySketch {

  private val k = TextFns.NumHashes

  // Seeded with P (not Long.MaxValue): signature values live in
  // [0, P], and an empty document's signature is all-P (TextKernels
  // .minhashSig) — so an empty/all-null GROUP must sketch to the same
  // all-P sentinel, keeping "no shingles seen" a single value
  // throughout the pipeline.
  override def createAggregationBuffer(): Array[Long] =
    Array.fill(k)(TextFns.P)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      var i = 0
      while (i < k) {
        val x = arr.getLong(i)
        if (x < buf(i)) buf(i) = x
        i += 1
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < k) { if (b(i) < a(i)) a(i) = b(i); i += 1 }
    a
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
    copy(child = c.head)
  override def withNewMutableAggBufferOffset(o: Int): MinHashMerge =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MinHashMerge =
    copy(inputAggBufferOffset = o)
  override def prettyName: String = "minhash_merge"
}

object MinHashMerge {
  /** Column wrapper: aggregate a signature column into the group's
    * merged (union) signature.
    */
  def minhashMerge(sig: Column): Column =
    ColumnBridge.column(
      MinHashMerge(ColumnBridge.expression(sig)).toAggregateExpression())
}
