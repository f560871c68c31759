package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{BinaryType, LongType}

/** Scalar (non-aggregate) HLL register algebra as codegen'd
  * StaticInvoke kernels — the projection-side complement to the
  * [[HllSketch]] aggregate: once register arrays are MATERIALIZED rows
  * (a persisted per-source / per-snapshot sketch table), pairwise set
  * algebra over them — union, cardinality — is a plain column
  * expression, no aggregation or rescan anywhere. q180 uses these for
  * the pairwise source-overlap matrix via inclusion–exclusion.
  */
object HllKernels {

  /** Pairwise register-max union of two M-byte register arrays. */
  def unionK(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val m = HllSketch.M
    require(a.length == m && b.length == m,
      s"graft register arrays must be $m bytes (got ${a.length}/${b.length})")
    HllSketch.registerMax(a.clone(), b)
  }

  /** Exact harmonic-sum integer S = Σ 2^(53 - M_j) of a register
    * array — feeds [[HllSketch.estimate]]'s IEEE tree.
    */
  def sK(a: Array[Byte]): Long = HllSketch.summarize(a)._1

  private def invoke(ret: org.apache.spark.sql.types.DataType, method: String,
                     args: Seq[Column],
                     inTypes: Seq[org.apache.spark.sql.types.DataType]): Column = {
    import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
    ColumnBridge.column(StaticInvoke(
      Class.forName("graft.functions.HllKernels"),
      ret, method,
      args.map(ColumnBridge.expression),
      inputTypes = inTypes,
      propagateNull = true,
      returnNullable = false))
  }

  /** Column form of [[unionK]]. */
  def unionCol(a: Column, b: Column): Column =
    invoke(BinaryType, "unionK", Seq(a, b), Seq(BinaryType, BinaryType))

  /** Column form of [[sK]]. */
  def sCol(regs: Column): Column =
    invoke(LongType, "sK", Seq(regs), Seq(BinaryType))
}
