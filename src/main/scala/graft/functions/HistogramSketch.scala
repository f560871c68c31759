package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Fixed-grid histogram sketch as a custom Catalyst aggregate — the
  * mergeable scale path for quantiles over a column with a known
  * value envelope (q51's exact percentile_cont needs a full sort per
  * group; this needs O(bins) state, partial+final, input-size-
  * independent bytes on the exchange — the same economics as the KMV
  * and Count-Min family it joins).
  *
  * State: bins+2 long counters (underflow, bins, overflow). Bin
  * placement is pure double arithmetic on (x, lo, hi, bins), so a SQL
  * engine computing `floor((x-lo)/(hi-lo)*bins)` lands every value in
  * the identical counter and the estimator — left-edge + linear
  * interpolation within the bin at rank ceil(q·n) — reproduces
  * bit-for-bit: deterministic, hence driver-oracle-checkable (unlike
  * approx_percentile's merge-order-dependent GK/KLL summaries).
  *
  * Accuracy: the estimate is within one bin width of the true
  * quantile; bins trade memory for precision and the envelope comes
  * from domain knowledge or a prior min/max pass.
  */
case class HistogramSketch(
  child: Expression,
  lo: Double,
  hi: Double,
  bins: Int,
  override val mutableAggBufferOffset: Int = 0,
  override val inputAggBufferOffset: Int = 0)
  extends LongArraySketch {

  require(bins >= 1, s"HistogramSketch requires bins >= 1, got $bins")

  override def createAggregationBuffer(): Array[Long] = new Array[Long](bins + 2)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val x = v.asInstanceOf[Double]
      val b =
        if (x < lo) 0
        else if (x >= hi) bins + 1
        else math.floor((x - lo) / (hi - lo) * bins).toInt + 1
      buf(b) += 1
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
  override def withNewMutableAggBufferOffset(o: Int): HistogramSketch =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HistogramSketch =
    copy(inputAggBufferOffset = o)
  override def prettyName: String = "graft_histogram"
}

object HistogramSketch {

  /** Aggregate a double column into (bins+2) counters:
    * [underflow, bin_1..bin_bins, overflow].
    */
  def histogram(x: Column, lo: Double, hi: Double, bins: Int): Column =
    ColumnBridge.column(
      HistogramSketch(ColumnBridge.expression(x), lo, hi, bins)
        .toAggregateExpression())

  /** DuckDB twin of the counter layout: the same clamp+floor bin id,
    * counted per group — `SELECT $binSql AS bin, COUNT(*) ...`.
    */
  def binSql(x: String, lo: Double, hi: Double, bins: Int): String =
    s"""CASE WHEN $x < $lo THEN 0
       |     WHEN $x >= $hi THEN ${bins + 1}
       |     ELSE CAST(FLOOR(($x - $lo) / ($hi - $lo) * $bins) AS INT) + 1 END""".stripMargin
}
