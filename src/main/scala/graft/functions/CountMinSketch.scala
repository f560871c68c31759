package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Count-Min sketch (Cormode & Muthukrishnan, J. Algorithms 2005) as
  * a custom Catalyst aggregate: d hash rows × w buckets of counters;
  * update increments one bucket per row; point estimate of an item's
  * frequency = min over rows of its bucket counter (one-sided error
  * ≤ n/w with high probability).
  *
  * The hash rows reuse the engine's fixed universal-hash family
  * (TextFns.hashParams), so the filled sketch — and therefore every
  * estimate — is an exact deterministic function of the input
  * multiset: a SQL engine can reproduce bucket counts and the driver
  * oracle can hash-check the estimates. Merge = elementwise add ⇒
  * associative+commutative ⇒ partial+final with d·w longs per
  * (partition, group) on the exchange, independent of input size —
  * the frequency-table shape that fits a 100 TB corpus profile where
  * an exact per-token count table would not.
  */
case class CountMinSketch(
  child: Expression,
  override val mutableAggBufferOffset: Int = 0,
  override val inputAggBufferOffset: Int = 0)
  extends LongArraySketch {

  import CountMinSketch.{D, W, as, bs}

  override def createAggregationBuffer(): Array[Long] = new Array[Long](D * W)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long] % TextFns.P
      var j = 0
      while (j < D) {
        buf(j * W + (((h * as(j) + bs(j)) % TextFns.P) % W).toInt) += 1L
        j += 1
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
    copy(child = c.head)
  override def withNewMutableAggBufferOffset(o: Int): CountMinSketch =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CountMinSketch =
    copy(inputAggBufferOffset = o)
  override def prettyName: String = "count_min_sketch"
}

object CountMinSketch {
  /** Depth (hash rows) and width (buckets per row). The first D
    * entries of TextFns.hashParams are the row hashes.
    */
  final val D = 4
  final val W = 256

  private[functions] val as: Array[Long] =
    TextFns.hashParams.take(D).map(_._1).toArray
  private[functions] val bs: Array[Long] =
    TextFns.hashParams.take(D).map(_._2).toArray

  /** Aggregate a long hash column into the group's d×w sketch
    * (row-major array).
    */
  def countMin(hash: Column): Column =
    ColumnBridge.column(
      CountMinSketch(ColumnBridge.expression(hash)).toAggregateExpression())

  import org.apache.spark.sql.functions._

  /** Point estimate of `h`'s frequency from a sketch array column:
    * min over rows of the bucket counter.
    */
  def estimate(cms: Column, h: Column): Column =
    (0 until D).map { j =>
      val b = ((h % TextFns.P) * as(j) + bs(j)) % TextFns.P % W
      element_at(cms, (lit(j * W) + b + 1).cast("int"))
    }.reduce(least(_, _))

  /** DuckDB twin of [[estimate]] given a token-hash relation
    * `toksRel(h)` and a probe hash expression `hExpr`: correlated
    * per-row bucket counts, min over rows.
    */
  def estimateSql(toksRel: String, hExpr: String): String =
    (0 until D).map { j =>
      val pb = s"((($hExpr) % ${TextFns.P}) * ${as(j)} + ${bs(j)}) % ${TextFns.P} % $W"
      val xb = s"((x.h % ${TextFns.P}) * ${as(j)} + ${bs(j)}) % ${TextFns.P} % $W"
      s"(SELECT COUNT(*) FROM $toksRel x WHERE $xb = $pb)"
    }.mkString("CAST(LEAST(", ", ", ") AS BIGINT)")
}
