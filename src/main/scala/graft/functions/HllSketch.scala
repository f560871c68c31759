package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** HyperLogLog distinct-count sketch (Flajolet et al., "HyperLogLog:
  * the analysis of a near-optimal cardinality estimation algorithm",
  * AofA'07) as a custom Catalyst aggregate, completing the sketch
  * family next to KMV (order statistics), Count-Min (frequency),
  * Misra-Gries (heavy hitters) and the fixed-grid histogram.
  *
  * m = 256 registers (p = 8, standard error 1.04/sqrt(m) = 6.5%):
  * for a 60-bit hash h, register j = h mod m takes the max over the
  * group of rho(w) = 53 - bitLength(w) where w = h div m is the
  * remaining 52-bit suffix (rho = "1 + leading zeros of w in 52
  * bits"; rho = 53 for w = 0). Merge = elementwise register max ⇒
  * associative + commutative ⇒ partial+final with 256 BYTES of state
  * per (partition, group) on the exchange — the reason HLL, not
  * exact distinct, is what a 100 TB profiling pass ships: the full
  * distinct shuffle is replaced by a constant-size summary.
  *
  * Cross-engine determinism (what makes this driver-oracle-checkable
  * where Spark's own approx_count_distinct HLL++ is not): registers
  * are an exact deterministic function of the hash set, and the
  * harmonic sum Σ 2^(-M_j) is emitted as the EXACT integer
  * S = Σ 2^(53 - M_j) (M_j ≤ 53, 256 registers ⇒ S < 2^61 fits a
  * long) — a SQL engine recomputing registers via
  * `53 - length(bin(h // 256))` reproduces S bit-for-bit, and the
  * raw estimate alpha_m · m² · 2^53 / S is then one identical IEEE
  * double expression tree in both engines. The raw (uncorrected)
  * estimator is emitted by design: the small-range linear-counting
  * correction needs ln(), whose last-ulp behavior is libm-dependent.
  *
  * One aggregate serves all four HLL forms. The buffer is always the
  * M-byte register array and partial buffers always merge by register
  * max; two fields pick what is folded in and what comes out:
  *
  *   - `regsIn`: the input is a stored BINARY register array (a
  *     `graft_hll_regs` output), folded in by register max, instead
  *     of a BIGINT hash60 column folded in by [[HllSketch.updateRegisters]].
  *     Union of HLL sketches IS elementwise register max (associative,
  *     commutative, idempotent), so a rollup over stored arrays equals
  *     the sketch computed directly from the union of the underlying
  *     data — day = merge of 24 hourly 256-byte rows, corpus = merge
  *     of per-source rows, no re-scan anywhere. Null inputs are
  *     skipped (an absent snapshot contributes the empty sketch).
  *   - `regsOut`: eval returns the raw register array (BINARY) — the
  *     PERSISTABLE form a profiling pipeline stores, because stored
  *     registers keep merging upward (hour→day→week, per-source→corpus)
  *     — instead of array<bigint> [S, zero_registers]. S feeds
  *     [[HllSketch.estimate]]; zero_registers is the standard "are we
  *     in the biased small-range regime" diagnostic a profiling job
  *     reports alongside the estimate.
  *
  * {{{
  *   regsIn  regsOut  Column API       SQL name         prettyName
  *   false   false    hllSummary       graft_hll        hll_summary
  *   false   true     hllRegisters     graft_hll_regs   hll_registers
  *   true    false    hllMergeSummary  graft_hll_merge  hll_merge
  *   true    true     hllMergeRegs     —                hll_merge_regs
  * }}}
  *
  * `hllMergeRegs` is what a sketch-table MAINTENANCE job runs: merging
  * an append batch's register rows into the stored rows produces rows
  * of the same persistable type (q183's stream→warehouse seam and
  * q185's incremental source maintenance write through it); q178
  * executes the hour→day rollup against the direct-computation oracle.
  */
case class HllSketch(
  child: Expression,
  regsIn: Boolean = false,
  regsOut: Boolean = false,
  override val mutableAggBufferOffset: Int = 0,
  override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] {

  import HllSketch.M

  /** (SQL name, prettyName) of this form, per the table above. */
  private def names: (String, String) = (regsIn, regsOut) match {
    case (false, false) => ("graft_hll", "hll_summary")
    case (false, true)  => ("graft_hll_regs", "hll_registers")
    case (true, false)  => ("graft_hll_merge", "hll_merge")
    case (true, true)   => ("graft_hll_merge_regs", "hll_merge_regs")
  }

  // every form is user-facing on the SQL surface: declare the input
  // type so a wrong column fails analysis (clear error) instead of a
  // runtime ClassCastException inside the aggregate
  override def checkInputDataTypes(): TypeCheckResult = {
    val (sqlName, got) = (names._1, child.dataType.catalogString)
    if (regsIn) {
      if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$sqlName expects a BINARY register array " +
          s"(graft_hll_regs output), got $got")
    } else {
      if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$sqlName expects a BIGINT hash column (hash60 domain), got $got")
    }
  }

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](M)

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) {
      if (regsIn) HllSketch.absorb(buf, v.asInstanceOf[Array[Byte]], prettyName)
      else HllSketch.updateRegisters(buf, v.asInstanceOf[Long])
    }
    buf
  }

  override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    HllSketch.registerMax(a, b)

  /** The register array, or [S = Σ 2^(53 - M_j) (exact long), zero-register count]. */
  override def eval(buf: Array[Byte]): Any =
    if (regsOut) buf.clone()
    else {
      val (s, zeros) = HllSketch.summarize(buf)
      new GenericArrayData(Array(s, zeros))
    }

  override def serialize(buf: Array[Byte]): Array[Byte] = buf
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def dataType: DataType =
    if (regsOut) BinaryType else ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  // prettyName already names the form: plan strings list the child
  // and the offsets only
  override protected def stringArgs: Iterator[Any] =
    Iterator(child, mutableAggBufferOffset, inputAggBufferOffset)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
    copy(child = c.head)
  override def withNewMutableAggBufferOffset(o: Int): HllSketch =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HllSketch =
    copy(inputAggBufferOffset = o)
  override def prettyName: String = names._2
}

object HllSketch {
  /** Register count m = 2^8; hash60 suffix width 52 bits; rho ≤ 53. */
  final val M = 256
  final val RhoMax = 53

  /** Fold one hash into an M-byte register array — THE register
    * update, shared by the batch aggregate and the streaming window
    * state ([[graft.streaming.StateV2]]'s HLL processor) so the two
    * paths are bit-identical by construction. floorMod/floorDiv: the
    * designed domain is hash60's non-negative 60-bit space (identical
    * to %, / there), but an out-of-domain signed long must land in a
    * valid register, not throw.
    */
  def updateRegisters(buf: Array[Byte], h: Long): Unit = {
    val j = java.lang.Math.floorMod(h, M.toLong).toInt
    val w = java.lang.Math.floorDiv(h, M.toLong)
    val rho =
      if (w == 0L) RhoMax
      else RhoMax - (64 - java.lang.Long.numberOfLeadingZeros(w))
    if (rho > buf(j)) buf(j) = rho.toByte
  }

  /** THE register-max body: folds `b` into `a` elementwise and returns
    * `a`. The aggregate's partial merge, its register-array input and
    * [[HllKernels.unionK]] all run this loop, so the union algebra
    * cannot drift between them.
    */
  def registerMax(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    var j = 0
    while (j < M) { if (b(j) > a(j)) a(j) = b(j); j += 1 }
    a
  }

  /** Fold one stored register array into the buffer, validating the
    * register width at execution time (any BINARY type-checks; width
    * is the only execution-time evidence the input is a
    * graft_hll_regs output).
    */
  private def absorb(buf: Array[Byte], regs: Array[Byte], pretty: => String): Array[Byte] = {
    require(regs.length == M,
      s"$pretty: register array must be $M bytes (a " +
        s"graft_hll_regs output), got ${regs.length} — the input " +
        "column is not a graft register sketch")
    registerMax(buf, regs)
  }

  /** (S = Σ 2^(53 - M_j) as the exact long, zero-register count). */
  def summarize(buf: Array[Byte]): (Long, Long) = {
    var s = 0L
    var zeros = 0L
    var j = 0
    while (j < M) {
      s += 1L << (RhoMax - buf(j))
      if (buf(j) == 0) zeros += 1
      j += 1
    }
    (s, zeros)
  }

  private def agg(in: Column, regsIn: Boolean, regsOut: Boolean): Column =
    ColumnBridge.column(HllSketch(ColumnBridge.expression(in), regsIn, regsOut)
      .toAggregateExpression())

  /** Aggregate a hash60 column into [S, zero_registers]. */
  def hllSummary(hash: Column): Column = agg(hash, regsIn = false, regsOut = false)

  /** Aggregate a hash60 column into the raw M-byte register array
    * (the persistable, further-mergeable form).
    */
  def hllRegisters(hash: Column): Column = agg(hash, regsIn = false, regsOut = true)

  /** Merge persisted register arrays into [S, zero_registers]. */
  def hllMergeSummary(regs: Column): Column = agg(regs, regsIn = true, regsOut = false)

  /** Merge persisted register arrays into the MERGED register array
    * (binary) — the maintenance-write form that keeps a sketch table
    * further-mergeable.
    */
  def hllMergeRegs(regs: Column): Column = agg(regs, regsIn = true, regsOut = true)

  /** Raw HLL estimate alpha_256 · 256² · 2^53 / S from the exact
    * integer S. The constant tree (not a pre-folded Scala double) is
    * mirrored token-for-token in [[estimateSql]] so both engines
    * evaluate the identical left-associated IEEE sequence.
    */
  def estimate(sFp: Column): Column =
    lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0)) *
      lit(65536.0) * lit(9007199254740992.0) / sFp.cast("double")

  /** DuckDB twin of [[estimate]] over an exact-S expression. */
  def estimateSql(s: String): String =
    s"0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 * 9007199254740992.0 / ($s)::DOUBLE"

  /** DuckDB twin of the register computation over a hash column `h`
    * (uniform on [0, 2^60)): groupable (j, rho) pairs, which
    * [[registerMaxSql]] and [[summarizeSql]] fold. `bin(w)` has no
    * leading zeros, so its length IS bitLength(w), matching
    * 64 - numberOfLeadingZeros(w) exactly.
    */
  def registerSql(h: String): String =
    s"($h) % $M AS j, CASE WHEN ($h) // $M = 0 THEN $RhoMax " +
      s"ELSE $RhoMax - length(bin(($h) // $M)) END AS rho"

  /** DuckDB twin of the per-group register array over a relation of
    * (`keys`…, j, rho) rows: one (`keys`…, j, mj) row per non-empty
    * register, mj its max rho. `keys` is a comma list, or "" for one
    * group.
    */
  def registerMaxSql(keys: String, rhoRel: String): String = {
    val k = if (keys.isEmpty) "j" else s"$keys, j"
    s"SELECT $k, MAX(rho) AS mj FROM $rhoRel GROUP BY $k"
  }

  /** DuckDB twin of [[summarize]] over a relation of (`keys`…, j, rho)
    * rows: per group the exact S as `s_fp` (each register absent from
    * the group counts as empty, 2^53), plus `zero_regs` if `zeros`.
    */
  def summarizeSql(keys: String, rhoRel: String, zeros: Boolean = false): String = {
    val k = if (keys.isEmpty) "" else s"$keys, "
    val empty = s"($M - COUNT(*))"
    val zeroCol = if (zeros) s",\n    $empty::BIGINT AS zero_regs" else ""
    s"""SELECT $k(SUM(1::BIGINT << ($RhoMax - mj))
       |      + $empty * (1::BIGINT << $RhoMax))::BIGINT AS s_fp$zeroCol
       |  FROM (${registerMaxSql(keys, rhoRel)})""".stripMargin +
      (if (keys.isEmpty) "" else s" GROUP BY $keys")
  }
}
