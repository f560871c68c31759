package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Conv, Expression, ExpressionInfo, Literal, Md5, Substring}
import org.apache.spark.sql.types.LongType
import graft.functions.{BinKernels, CountMinSketch, HllSketch, KmvSketch, MinHashMerge, TextKernels}

/** The graft SparkSessionExtensions hook (the public extension point).
  * It registers the plan extensions: the as-of join strategy, the
  * range-join rewrite, and [[graft.plans.SingleTaskSort]], which runs a
  * small global sort as one task both at planning and as an AQE
  * runtime optimizer rule. It also registers the native kernels' SQL
  * names (no `spark.udf` involved, the functions stay native Catalyst
  * expressions inside whole-stage codegen), so every kernel is
  * callable from `spark.sql(...)`:
  *
  *   - `graft_hash60(str)`        — first 60 bits of md5 as BIGINT
  *   - `graft_bigram_set(str)`    — distinct word-bigram shingles
  *   - `graft_minhash_sig(str)`   — k=16 MinHash signature
  *   - `graft_tf_embedding(str)`  — L2-normalized hashing-trick TF vector
  *   - `graft_byte_stats(bin)`    — fused min/max/mean/std over bytes
  *   - `graft_fp_simhash16(str)`  — [rolling fingerprint, 16-bit SimHash]
  *   - `graft_rep_metrics(str)`   — Gopher repetition metrics, one pass
  *   - `graft_minhash_merge(sig)` — aggregate: elementwise-min sketch merge
  *   - `graft_misra_gries(item, m)` — aggregate: MG heavy-hitter summary
  *   - `graft_hll(hash)`          — aggregate: HyperLogLog [S, zero_regs]
  *   - `graft_hll_regs(hash)`     — aggregate: HyperLogLog 256-byte register array
  *   - `graft_hll_merge(regs)`    — aggregate: register-max union to [S, zero_regs]
  *   - `graft_histogram(x, lo, hi, bins)` — aggregate: fixed-grid counters
  *   - `graft_topk(score, id, k)` — aggregate: bounded-heap exact top-k
  *   - `graft_bpe_encode(word, merges)` — one-pass greedy BPE segmentation
  *
  * Wire-up: `SparkSession.builder.withExtensions(new GraftExtensions)`
  * (GraftSession does this) or
  * `spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  private def unary(name: String, usage: String,
    build: Expression => Expression): (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name), info(name, usage), { args =>
      require(args.length == 1, s"$name expects exactly 1 argument")
      build(args.head)
    })

  /** A sketch-size argument (`m`, `bins`, `k`): an integer literal in
    * [1, Int.MaxValue]. A BIGINT literal out of INT range is rejected,
    * not truncated (4294967297 must not run as 1).
    */
  private def sizeArg(fn: String, name: String, e: Expression): Int = {
    val v = e match {
      case Literal(v: Int, _)  => v.toLong
      case Literal(v: Long, _) => v
      case _ => throw new IllegalArgumentException(
        s"$fn: $name must be an integer literal")
    }
    if (v < 1 || v > Int.MaxValue) throw new IllegalArgumentException(
      s"$fn: $name must be between 1 and ${Int.MaxValue}, got $v")
    v.toInt
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    // whole-operator extension: AsOfJoinPlan → AsOfJoinExec
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // optimizer rewrite: pure range-containment inner join → binned
    // equi-join (enabled by spark.graft.rangejoin.binWidth > 0)
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinRewrite)
    // small global sorts run as one task, with no range-partition
    // sample or shuffle: at AQE re-plans over materialized stages, and
    // at planning over driver-resident relations (memory sinks)
    ext.injectRuntimeOptimizerRule(_ => graft.plans.SingleTaskSort)
    ext.injectOptimizerRule(_ => graft.plans.SingleTaskSort)
    // builders construct catalyst expressions DIRECTLY (the Column
    // API would leave unresolved column nodes behind the analyzer)
    ext.injectFunction(unary("graft_hash60",
      "_FUNC_(str) - first 60 bits of md5(str) as a non-negative BIGINT",
      e => Cast(Conv(Substring(Md5(e), Literal(1), Literal(15)),
        Literal(16), Literal(10)), LongType)))
    ext.injectFunction(unary("graft_bigram_set",
      "_FUNC_(str) - distinct word-bigram shingles in first-occurrence order",
      e => TextKernels.invokeExpr("bigramSet", TextKernels.bigramSetType, e)))
    ext.injectFunction(unary("graft_minhash_sig",
      "_FUNC_(str) - MinHash signature (k=16) over the bigram shingle set",
      e => TextKernels.invokeExpr("minhashSig", TextKernels.minhashSigType, e)))
    ext.injectFunction(unary("graft_tf_embedding",
      "_FUNC_(str) - L2-normalized hashing-trick term-frequency embedding",
      e => TextKernels.invokeExpr("tfEmbedding", TextKernels.tfEmbeddingType, e)))
    ext.injectFunction(unary("graft_byte_stats",
      "_FUNC_(bin) - struct(bmin,bmax,bmean,bstd) over the bytes, one pass",
      BinKernels.byteStatsExpr))
    ext.injectFunction(unary("graft_simhash60",
      "_FUNC_(str) - 60-bit SimHash over the whitespace token stream",
      e => TextKernels.invokeExpr("simhash60", LongType, e)))
    ext.injectFunction(unary("graft_fp_simhash16",
      "_FUNC_(str) - [rolling fingerprint, 16-bit SimHash], one token pass",
      e => TextKernels.invokeExpr("fpSimhash16", TextKernels.fpSimhash16Type, e)))
    ext.injectFunction(unary("graft_rep_metrics",
      "_FUNC_(str) - struct(n_tok,top_word_frac,top_bigram_frac,dup_cov_frac): Gopher repetition metrics, one token pass",
      e => TextKernels.invokeExpr("repMetrics", TextKernels.repMetricsType, e)))
    // binary: fully codegen'd (doGenCode) float-vector dot product
    ext.injectFunction((FunctionIdentifier("graft_dot"),
      info("graft_dot",
        "_FUNC_(a, b) - dot product of two FLOAT arrays, double accumulation"),
      { args: Seq[Expression] =>
        require(args.length == 2, "graft_dot expects exactly 2 arguments")
        org.apache.spark.sql.graftbridge.DotProductFloat(args(0), args(1))
      }))
    // aggregates: the analyzer wraps a bare AggregateFunction into an
    // AggregateExpression, so the builders return the function directly
    ext.injectFunction(unary("graft_minhash_merge",
      "_FUNC_(sig) - elementwise-min merge of MinHash signatures (union sketch)",
      e => MinHashMerge(e)))
    ext.injectFunction(unary("graft_kmv_distinct",
      "_FUNC_(hash) - KMV sketch distinct-count estimate (exact below k)",
      e => KmvSketch(e, KmvSketch.DefaultK)))
    ext.injectFunction(unary("graft_countmin",
      "_FUNC_(hash) - Count-Min sketch (row-major d*w counter array)",
      e => CountMinSketch(e)))
    ext.injectFunction(unary("graft_hll",
      "_FUNC_(hash) - HyperLogLog m=256 summary as [S, zero_registers]: " +
        "S = sum 2^(53 - M_j) exact; raw estimate = " +
        "0.7213/(1+1.079/256) * 65536 * 2^53 / S",
      e => HllSketch(e)))
    ext.injectFunction(unary("graft_hll_regs",
      "_FUNC_(hash) - HyperLogLog raw 256-byte register array (binary): " +
        "the persistable form; rolls up further via graft_hll_merge",
      e => HllSketch(e, regsOut = true)))
    ext.injectFunction(unary("graft_hll_merge",
      "_FUNC_(regs) - elementwise-max merge of stored graft_hll_regs " +
        "arrays to [S, zero_registers] (HLL union algebra)",
      e => HllSketch(e, regsIn = true)))
    // binary aggregate: (item, m-literal) — mergeable MG heavy-hitter
    // summary (q161's kernel), completing the sketch family in SQL
    ext.injectFunction((FunctionIdentifier("graft_misra_gries"),
      info("graft_misra_gries",
        "_FUNC_(item, m) - Misra-Gries m-counter heavy-hitter summary: " +
          "array<struct<token,est>>, best-first; every item with share " +
          "> 1/(m+1) is guaranteed present"),
      { args: Seq[Expression] =>
        require(args.length == 2, "graft_misra_gries expects exactly 2 arguments")
        graft.functions.MisraGriesAgg(args(0), sizeArg("graft_misra_gries", "m", args(1)))
      }))
    // 4-ary aggregate: (x, lo, hi, bins — bounds/bins literal) — the
    // mergeable fixed-grid histogram (q73/q165's pass-1 state) in SQL
    ext.injectFunction((FunctionIdentifier("graft_histogram"),
      info("graft_histogram",
        "_FUNC_(x, lo, hi, bins) - fixed-grid histogram counters " +
          "[underflow, bin_1..bin_bins, overflow] as array<bigint>"),
      { args: Seq[Expression] =>
        require(args.length == 4, "graft_histogram expects exactly 4 arguments")
        def dbl(e: Expression, n: String): Double = e match {
          case Literal(v: Double, _) => v
          case Literal(v: Float, _)  => v.toDouble
          case Literal(v: Int, _)    => v.toDouble
          case Literal(v: Long, _)   => v.toDouble
          // SQL text like `10.0` parses as a DECIMAL literal
          case Literal(v: org.apache.spark.sql.types.Decimal, _) => v.toDouble
          case _ => throw new IllegalArgumentException(
            s"graft_histogram: $n must be a numeric literal")
        }
        graft.functions.HistogramSketch(args(0), dbl(args(1), "lo"),
          dbl(args(2), "hi"), sizeArg("graft_histogram", "bins", args(3)))
      }))
    // ternary aggregate: (score, id, k-literal) — the bounded-heap
    // exact top-k (q83/q122/q163's ranking kernel) in SQL
    ext.injectFunction((FunctionIdentifier("graft_topk"),
      info("graft_topk",
        "_FUNC_(score, id, k) - exact top-k (score desc, id asc) as " +
          "array<struct<score,id1,id2>>; O(k) state, mergeable"),
      { args: Seq[Expression] =>
        require(args.length == 3, "graft_topk expects exactly 3 arguments")
        graft.functions.TopKAgg(args(0), args(1), Literal(0L),
          sizeArg("graft_topk", "k", args(2)))
      }))
    // binary: fully codegen'd (doGenCode) Morton interleave
    ext.injectFunction((FunctionIdentifier("graft_zorder"),
      info("graft_zorder",
        "_FUNC_(a, b) - Z-order (Morton) interleave of two BIGINT keys (low 31 bits each)"),
      { args: Seq[Expression] =>
        require(args.length == 2, "graft_zorder expects exactly 2 arguments")
        org.apache.spark.sql.graftbridge.ZOrderLong(args(0), args(1))
      }))
    // binary: (word, merges-array) — one-pass greedy BPE apply
    ext.injectFunction((FunctionIdentifier("graft_bpe_encode"),
      info("graft_bpe_encode",
        "_FUNC_(word, merges) - greedy BPE segmentation ('·'-joined) of " +
          "word under an array<string> of 'lft rgt' merges in rank order"),
      { args: Seq[Expression] =>
        require(args.length == 2, "graft_bpe_encode expects exactly 2 arguments")
        org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          Class.forName("graft.functions.TextKernels"),
          org.apache.spark.sql.types.StringType, "bpeEncode",
          Seq(args(0), args(1)),
          inputTypes = Seq(org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.StringType)),
          propagateNull = true,
          returnNullable = false)
      }))
    // binary: (text, k) — hash60 of every k-token window (q127 basis)
    ext.injectFunction((FunctionIdentifier("graft_win_hash"),
      info("graft_win_hash",
        "_FUNC_(str, k) - hash60 of every k-token window, ordered by position"),
      { args: Seq[Expression] =>
        require(args.length == 2, "graft_win_hash expects exactly 2 arguments")
        TextKernels.invokeExpr2("winHash", TextKernels.winHashType, args(0), args(1))
      }))
    ext.injectFunction((FunctionIdentifier("graft_zorder3"),
      info("graft_zorder3",
        "_FUNC_(a, b, c) - Z-order (Morton) interleave of three BIGINT keys (low 21 bits each)"),
      { args: Seq[Expression] =>
        require(args.length == 3, "graft_zorder3 expects exactly 3 arguments")
        org.apache.spark.sql.graftbridge.ZOrderLong3(args(0), args(1), args(2))
      }))
  }
}
