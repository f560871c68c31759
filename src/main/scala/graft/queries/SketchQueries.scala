package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{MinHashMerge, TextKernels}
import graft.functions.TextFns
import graft.operators.SkewOps
import graft.sources.Tables

/** Sketch + skew operators: the custom TypedImperativeAggregate
  * (MinHash union sketch) and salted two-phase aggregation, both
  * DuckDB-oracled (the salt is algebraically invisible; the sketch
  * merge equals per-element MIN in SQL).
  */
object SketchQueries {

  // ---------------------------------------------------------------
  // q48_corpus_sketch — per-source merged MinHash signature via the
  // custom aggregate: each source's sketch is the signature of the
  // union of its documents' shingle sets. Partial+final: the
  // exchange carries k longs per (partition, source). The declared
  // projection joins the sketch to a '_'-string (pandas harness
  // can't hash arrays); the array aggregate stays the internal API.
  // ---------------------------------------------------------------
  def q48(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), TextKernels.minhashSigCol(col("text")).as("sig"))
      .groupBy(col("source"))
      .agg(MinHashMerge.minhashMerge(col("sig")).as("corpus_sig"),
        count(lit(1)).as("n_docs"))
      .select(col("source"),
        array_join(col("corpus_sig").cast("array<string>"), "_").as("corpus_sig"),
        col("n_docs"))
      .orderBy(col("source"))

  val q48Sql: String = {
    val mins = (1 to TextFns.NumHashes).map(i => s"MIN(sig[$i])")
      .mkString("[", ", ", "]")
    val shingleSet =
      s"list_distinct(${TextFns.shinglesSql("string_split(text, ' ')", 2)})"
    s"""SELECT source, array_to_string($mins, '_') AS corpus_sig, COUNT(*) AS n_docs
       |FROM (SELECT source, ${TextFns.minhashSigSql("sh")} AS sig
       |      FROM (SELECT source, $shingleSet AS sh FROM documents))
       |GROUP BY source ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------
  // q49_skew_salted — salted two-phase aggregation over the skewed
  // event_type key (5 keys, 100k+ rows). Results are identical to
  // the plain aggregate — the oracle is the unsalted SQL.
  // ---------------------------------------------------------------
  def q49(spark: SparkSession, dir: String): DataFrame =
    SkewOps.saltedCountSum(
      Tables.events(spark, dir),
      key = col("event_type"),
      saltSource = col("event_id"),
      valueCol = col("value"))
      .withColumnRenamed("k", "event_type")
      .orderBy(col("event_type"))

  val q49Sql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------
  // q50_asof_join — events joined to the latest order at-or-before
  // the event time per customer key, via the composed AsOfJoin
  // operator (one shuffle + one sort — no range explosion). Right
  // side deduped to one row per (key, time) with max_by so both
  // engines' tie-breaking is pinned. Oracle: DuckDB's native ASOF
  // JOIN. Bounded to user_id <= 120 to keep the result small.
  // ---------------------------------------------------------------
  def q50(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("user_id") <= 120)
      .select(col("event_id"), col("user_id"), col("ts"))
    val ord = Tables.orders(spark, dir)
      .filter(col("o_custkey") <= 120)
      .groupBy(col("o_custkey").as("user_id"),
        col("o_orderdate").cast("timestamp").as("odate"))
      .agg(max_by(struct(col("o_orderkey"), col("o_totalprice")),
        col("o_orderkey")).as("o"))
      .select(col("user_id"), col("odate"),
        col("o.o_orderkey").as("o_orderkey"),
        col("o.o_totalprice").as("o_totalprice"))
    graft.operators.AsOfJoin.asOf(ev, ord, "user_id", "ts", "odate")
      .select(col("event_id"), col("user_id"),
        col("asof.o_orderkey").as("o_orderkey"),
        col("asof.o_totalprice").as("o_totalprice"))
      .orderBy(col("event_id"))
  }

  val q50Sql: String =
    """SELECT event_id, e.user_id AS user_id, o_orderkey, o_totalprice
      |FROM (SELECT event_id, user_id, ts FROM events WHERE user_id <= 120) e
      |ASOF JOIN (
      |  SELECT o_custkey AS user_id, o_orderdate AS odate,
      |         arg_max(o_orderkey, o_orderkey) AS o_orderkey,
      |         arg_max(o_totalprice, o_orderkey) AS o_totalprice
      |  FROM orders WHERE o_custkey <= 120
      |  GROUP BY o_custkey, o_orderdate
      |) o ON e.user_id = o.user_id AND o.odate <= e.ts
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------
  // q51_percentiles — exact interpolated percentiles per group
  // (Spark `percentile` == DuckDB `quantile_cont`, both linear
  // interpolation over the sorted multiset). Exact percentile is a
  // sort-based aggregate; at 100 TB swap in approx_percentile (KLL/
  // GK sketch) — same query shape, mergeable partial state.
  // ---------------------------------------------------------------
  def q51(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_quantity, array(0.5D, 0.9D, 0.99D))").as("qs"),
        TextFns.rnd(expr("percentile(l_extendedprice, 0.5D)"), 4).as("median_price"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"),
        TextFns.rnd(element_at(col("qs"), 1), 4).as("p50"),
        TextFns.rnd(element_at(col("qs"), 2), 4).as("p90"),
        TextFns.rnd(element_at(col("qs"), 3), 4).as("p99"),
        col("median_price"), col("n"))
      .orderBy(col("l_returnflag"))

  val q51Sql: String =
    s"""SELECT l_returnflag,
       |  ${TextFns.rndSql("qs[1]", 4)} AS p50,
       |  ${TextFns.rndSql("qs[2]", 4)} AS p90,
       |  ${TextFns.rndSql("qs[3]", 4)} AS p99,
       |  median_price, n
       |FROM (SELECT l_returnflag,
       |        quantile_cont(l_quantity, [0.5, 0.9, 0.99]) AS qs,
       |        ${TextFns.rndSql("quantile_cont(l_extendedprice, 0.5)", 4)} AS median_price,
       |        COUNT(*) AS n
       |      FROM lineitem GROUP BY l_returnflag)
       |ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------
  // q62_kmv_distinct — per-source vocabulary size via the KMV
  // distinct-count sketch (functions/KmvSketch.scala), with the exact
  // distinct count alongside to expose the sketch error. The sketch
  // is the 100 TB path: k longs of mergeable state per group vs the
  // exact count's full distinct shuffle (kept here only because the
  // corpus is small enough to afford the ground truth).
  // ---------------------------------------------------------------
  def q62(spark: SparkSession, dir: String): DataFrame =
    // fanOut: the token explode + hash + partial aggregate ran as one
    // task over the single-file scan (profiled 0.34 s serial);
    // order-free aggregates (count, distinct, KMV = k smallest).
    Tables.fanOut(Tables.documents(spark, dir), col("doc_id"))
      .select(col("source"), explode(TextFns.tokens(col("text"))).as("tok"))
      // native hash60 kernel: ~250k exploded tokens hashed per pass
      .select(col("source"), (graft.functions.TextKernels.hash60StrCol(col("tok")) % TextFns.P).as("h"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        count_distinct(col("h")).as("exact_distinct"),
        TextFns.rnd(graft.functions.KmvSketch.kmvDistinct(col("h")), 4)
          .as("est_distinct"))
      .orderBy(col("source"))

  val q62Sql: String =
    s"""SELECT source, COUNT(*) AS n_tokens, COUNT(DISTINCT h) AS exact_distinct,
       |  ${TextFns.rndSql(graft.functions.KmvSketch.kmvDistinctSql("h"), 4)} AS est_distinct
       |FROM (SELECT source, ${TextFns.hash60Sql("t")} % ${TextFns.P} AS h
       |      FROM (SELECT source, unnest(string_split(text, ' ')) AS t
       |            FROM documents))
       |GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------
  // q66_asof_native — the SAME as-of semantics as q50 through the
  // whole-operator Catalyst extension (plans/AsOfJoinNative: custom
  // LogicalPlan + SparkStrategy + SparkPlan, injected by
  // GraftExtensions): one exchange + sort per side, then a streaming
  // O(1)-memory merge — no union/window/null-padding. Shares q50's
  // oracle; PlanSpec asserts the AsOfJoinExec node is actually used.
  // ---------------------------------------------------------------
  def q66(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("user_id") <= 120)
      .select(col("event_id"), col("user_id"), col("ts"))
    val ord = Tables.orders(spark, dir)
      .filter(col("o_custkey") <= 120)
      .groupBy(col("o_custkey").as("r_user"),
        col("o_orderdate").cast("timestamp").as("odate"))
      .agg(max_by(struct(col("o_orderkey"), col("o_totalprice")),
        col("o_orderkey")).as("o"))
      .select(col("r_user"), col("odate"),
        col("o.o_orderkey").as("o_orderkey"),
        col("o.o_totalprice").as("o_totalprice"))
    graft.plans.AsOfJoinNative.asOf(ev, ord, "user_id", "r_user", "ts", "odate")
      .select(col("event_id"), col("user_id"), col("o_orderkey"),
        col("o_totalprice"))
      .orderBy(col("event_id"))
  }

  // ---------------------------------------------------------------
  // q65_countmin_freq — token frequencies via the Count-Min sketch
  // (functions/CountMinSketch.scala): fill one 4x256 sketch over the
  // token stream, then point-estimate the top-10 exact tokens against
  // their true counts (the exact side is affordable ground truth at
  // this SF; at 100 TB only the sketch — d*w longs of mergeable
  // state — survives). The estimate is deterministic, so the oracle
  // reproduces it with per-row bucket-count subqueries.
  // ---------------------------------------------------------------
  def q65(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.CountMinSketch
    val toks = Tables.documents(spark, dir)
      .select(explode(TextFns.tokens(col("text"))).as("token"))
      .select(col("token"), (graft.functions.TextKernels.hash60StrCol(col("token")) % TextFns.P).as("h"))
    val cms = toks.agg(CountMinSketch.countMin(col("h")).as("cms"))
    val top = toks.groupBy(col("token"), col("h"))
      .agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("token"))
      .limit(10)
    top.join(broadcast(cms))
      .select(col("token"), col("exact_n"),
        CountMinSketch.estimate(col("cms"), col("h")).as("cms_est"))
      .orderBy(col("exact_n").desc, col("token"))
  }

  val q65Sql: String = {
    import graft.functions.CountMinSketch
    s"""WITH toks AS (
       |  SELECT token, ${TextFns.hash60Sql("token")} % ${TextFns.P} AS h
       |  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)),
       |top AS (
       |  SELECT token, h, COUNT(*) AS exact_n FROM toks
       |  GROUP BY token, h ORDER BY exact_n DESC, token LIMIT 10)
       |SELECT token, exact_n,
       |  ${CountMinSketch.estimateSql("toks", "top.h")} AS cms_est
       |FROM top ORDER BY exact_n DESC, token""".stripMargin
  }

  // ---------------------------------------------------------------
  // q73_histogram_quantiles — mergeable fixed-grid histogram sketch →
  // p50/p90/p99 per return flag. The scale path beside q51's exact
  // percentile_cont: O(bins) state per group through partial+final
  // aggregation instead of a per-group sort; the estimator
  // (left-edge + linear interpolation at rank ceil(q·n)) is a pure
  // function of the deterministic counters, so the oracle recomputes
  // it exactly — which approx_percentile's merge-order-dependent
  // summaries can never offer.
  // ---------------------------------------------------------------
  final val HistLo = 0.0
  final val HistHi = 120000.0
  final val HistBins = 512
  private[graft] val HistQs = Seq(0.5, 0.9, 0.99)

  def q73(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = (HistHi - HistLo) / HistBins
    val sk = Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(graft.functions.HistogramSketch.histogram(
        col("l_extendedprice").cast("double"), HistLo, HistHi, HistBins).as("h"))
    val bins = sk.select(col("l_returnflag"), posexplode(col("h")).as(Seq("bin", "c")))
      .where(col("c") > 0)
    val flagW = Window.partitionBy(col("l_returnflag"))
    val t = bins
      .withColumn("cum", sum(col("c")).over(flagW.orderBy(col("bin"))))
      .withColumn("n", sum(col("c")).over(flagW))
    val qsDf = spark.range(1).select(explode(array(HistQs.map(lit): _*)).as("q"))
    // broadcast-pinned: a 3-row literal today, but without the hint a
    // grown quantile list could degrade to a shuffled cartesian
    val r = t.crossJoin(broadcast(qsDf))
      .withColumn("rank", ceil(col("q") * col("n").cast("double")).cast("long"))
      .where(col("cum") >= col("rank"))
    val first = Window.partitionBy(col("l_returnflag"), col("q")).orderBy(col("bin"))
    r.withColumn("rk", row_number().over(first))
      .where(col("rk") === 1)
      .select(col("l_returnflag"), col("q"),
        TextFns.rnd(
          lit(HistLo) + (col("bin") - 1) * lit(w) +
            (col("rank") - (col("cum") - col("c"))).cast("double")
              / col("c").cast("double") * lit(w), 4).as("p_est"))
      .orderBy(col("l_returnflag"), col("q"))
  }

  val q73Sql: String = {
    val w = (HistHi - HistLo) / HistBins
    val bin = graft.functions.HistogramSketch.binSql(
      "l_extendedprice", HistLo, HistHi, HistBins)
    s"""WITH b AS (
       |  SELECT l_returnflag, $bin AS bin, COUNT(*) AS c
       |  FROM lineitem GROUP BY 1, 2),
       |t AS (
       |  SELECT l_returnflag, bin, c,
       |    SUM(c) OVER (PARTITION BY l_returnflag ORDER BY bin) AS cum,
       |    SUM(c) OVER (PARTITION BY l_returnflag) AS n
       |  FROM b),
       |r AS (
       |  SELECT t.*, q, CAST(CEIL(q * n::DOUBLE) AS BIGINT) AS rank
       |  FROM t CROSS JOIN (SELECT unnest([${HistQs.mkString(", ")}]::DOUBLE[]) AS q) qs),
       |pick AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY l_returnflag, q ORDER BY bin) AS rk
       |  FROM r WHERE cum >= rank)
       |SELECT l_returnflag, q,
       |  ${TextFns.rndSql(s"$HistLo + (bin - 1) * $w + (rank - (cum - c))::DOUBLE / c::DOUBLE * $w", 4)} AS p_est
       |FROM pick WHERE rk = 1
       |ORDER BY l_returnflag, q""".stripMargin
  }

  // ---------------------------------------------------------------
  // q165_exact_quantiles — EXACT per-group quantiles at scale via a
  // sketch-pruned second pass. q51's percentile_cont sorts every
  // group in full; q73's histogram is O(bins) state but only
  // bin-width accurate. This query composes them into the standard
  // two-pass exact algorithm (Munro–Paterson shape): pass 1 builds
  // the mergeable q73 histogram (partial+final, bins+2 longs per
  // group on the exchange) and locates, for every (group, q), the
  // single bin that CONTAINS rank ceil(q·n) plus the local rank
  // inside it — a groups × quantiles candidate table, broadcast.
  // Pass 2 rescans, recomputes each row's bin with the same
  // clamp+floor arithmetic as the kernel, and broadcast-joins the
  // candidate table, so only the ~n/bins rows that land in a
  // candidate bin survive to the (group, q) window; the exact
  // answer is the lrank-th smallest value within the bin. No group
  // is ever fully sorted: the second-pass sort touches
  // groups × quantiles × (n/bins) rows — at 100 TB with 512 bins
  // that is ~0.2% of the data moving through the window exchange,
  // and the bin histogram itself never exceeds a few KB per group.
  // The output is a VALUE PRESENT IN THE DATA (quantile_disc
  // semantics, rank ceil(q·n)), so no float arithmetic is
  // introduced and the DuckDB oracle — a brute-force full sort —
  // matches bit-for-bit.
  // ---------------------------------------------------------------
  private val ExactQs = Seq(0.5, 0.9, 0.99)

  def q165(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = Tables.lineitem(spark, dir)
    val x = col("l_extendedprice").cast("double")
    // pass 1: mergeable histogram → candidate (bin, local rank) per q
    val sk = li.groupBy(col("l_returnflag"))
      .agg(graft.functions.HistogramSketch.histogram(
        x, HistLo, HistHi, HistBins).as("h"))
    val cells = sk
      .select(col("l_returnflag"), posexplode(col("h")).as(Seq("bin", "c")))
      .where(col("c") > 0)
    val flagW = Window.partitionBy(col("l_returnflag"))
    val t = cells
      .withColumn("cum", sum(col("c")).over(flagW.orderBy(col("bin"))))
      .withColumn("n", sum(col("c")).over(flagW))
    val qsDf = spark.range(1).select(explode(array(ExactQs.map(lit): _*)).as("q"))
    val ranked = t.crossJoin(broadcast(qsDf))
      .withColumn("rank", ceil(col("q") * col("n").cast("double")).cast("long"))
      .where(col("cum") >= col("rank"))
    val firstBin = Window.partitionBy(col("l_returnflag"), col("q"))
      .orderBy(col("bin"))
    val cand = ranked.withColumn("rk", row_number().over(firstBin))
      .where(col("rk") === 1)
      .select(col("l_returnflag").as("cf"), col("q"),
        col("bin").as("cbin"),
        (col("rank") - (col("cum") - col("c"))).as("lrank"))
    // pass 2: the kernel's exact clamp+floor bin id, division before
    // multiplication (HistogramSketch.update / binSql parity)
    val rowBin = when(x < HistLo, 0)
      .when(x >= HistHi, HistBins + 1)
      .otherwise(floor((x - lit(HistLo)) / lit(HistHi - HistLo)
        * lit(HistBins)).cast("int") + 1)
    val pick = Window.partitionBy(col("l_returnflag"), col("q"))
      .orderBy(col("v"))
    li.select(col("l_returnflag"), x.as("v"), rowBin.as("bin"))
      .join(broadcast(cand),
        col("l_returnflag") === col("cf") && col("bin") === col("cbin"))
      .withColumn("vrk", row_number().over(pick))
      .where(col("vrk") === col("lrank"))
      .select(col("l_returnflag"), col("q"), col("v").as("p_exact"))
      .orderBy(col("l_returnflag"), col("q"))
  }

  // the oracle is the UNPRUNED semantics: a full per-group sort and
  // a direct rank pick — proving the two-pass plan changes nothing
  val q165Sql: String =
    s"""WITH qs AS (SELECT unnest([${ExactQs.mkString(", ")}]::DOUBLE[]) AS q),
       |r AS (
       |  SELECT l_returnflag, l_extendedprice::DOUBLE AS v,
       |    ROW_NUMBER() OVER (PARTITION BY l_returnflag
       |      ORDER BY l_extendedprice::DOUBLE) AS rk,
       |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
       |  FROM lineitem)
       |SELECT l_returnflag, q, v AS p_exact
       |FROM r CROSS JOIN qs
       |WHERE rk = CAST(CEIL(q * n::DOUBLE) AS BIGINT)
       |ORDER BY l_returnflag, q""".stripMargin

  // ---------------------------------------------------------------
  // q77_bloom_prune — Bloom semi-join reduction: build a bloom over
  // the BUILDING-segment customers' key hashes (the small side),
  // prune orders MAP-SIDE with the pure-Column membership test before
  // any shuffle, then the exact join removes false positives — the
  // result equals the plain join (the oracle), but only
  // ~selectivity·N fact rows reach the exchange. BloomSpec pins no
  // false negatives, the false-positive bound, and that the pruned
  // row count sits between the true match count and the table size.
  // ---------------------------------------------------------------
  def q77(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.BloomSketch
    // native hash60 kernel on BOTH sides (build + probe must agree;
    // the declarative chain's hex-string round-trip costs ~2x per row
    // and the probe side runs it over every orders row)
    val cust = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"),
        (graft.functions.TextKernels.hash60LongCol(
          col("c_custkey")) % TextFns.P).as("h"))
    // the sketch is NumWords longs — driver-held like any broadcast
    // (Spark's runtime bloom join materializes the same way)
    val sketch = cust.agg(BloomSketch.bloomAgg(col("h")))
      .head().getAs[scala.collection.Seq[Long]](0).toArray
    // fanOut: the probe side hashes every orders row map-side and ran
    // as ONE task over the single-file scan (profiled 0.44 s serial);
    // the decimal-sum aggregate after the join is order-free.
    val pruned = Tables.fanOut(Tables.orders(spark, dir), col("o_orderkey"))
      .withColumn("h", graft.functions.TextKernels.hash60LongCol(
        col("o_custkey")) % TextFns.P)
      .filter(BloomSketch.mightContain(col("h"), sketch))
      .drop("h")
    pruned.join(cust.select(col("c_custkey")),
        col("o_custkey") === col("c_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
  }

  val q77Sql: String =
    """SELECT COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |WHERE c.c_mktsegment = 'BUILDING'""".stripMargin

  // ---------------------------------------------------------------
  // q145_column_profile — the ANALYZE-shape statistics pass: count,
  // exact NDV, min, max, and an exact decimal sum for every numeric
  // lineitem column, produced by ONE scan (a single aggregate with
  // four distinct-aggs planned as an Expand ×4, one shuffle total),
  // then unpivoted to a row per column. The oracle pays four
  // separate scans (UNION ALL of per-column aggregates) for the
  // same numbers — the single-pass shape is the point: a 100 TB
  // profiling job cannot afford a scan per column. At that scale the
  // exact NDV swaps for HLL partials, which removes the distinct
  // exchange too — q179 below IS that variant, with graft_hll keeping
  // it hash-oracle-checkable where approx_count_distinct is not.
  // ---------------------------------------------------------------
  private[queries] val ProfileCols = Seq("l_quantity", "l_extendedprice",
    "l_discount", "l_tax")

  def q145(spark: SparkSession, dir: String): DataFrame =
    profile(Tables.lineitem(spark, dir))

  // ---------------------------------------------------------------
  // q179_profile_hll — the 100 TB variant q145's scaladoc promises,
  // executed: the same ANALYZE-shape profile with the exact NDV
  // replaced by the HLL summary. The exact path needs the per-
  // (column, value) exchange to spread distinct work (and a
  // 4-count_distinct global aggregate would plan an Expand ×4 whose
  // final merge serializes); with HLL the whole profile is ONE scan →
  // map-side generate → a single (col)-keyed aggregate whose
  // per-column state is 256 bytes + min/max/decimal-sum — no Expand,
  // no distinct shuffle, nothing proportional to NDV anywhere
  // (PlanSpec pins both properties). Values hash on the exact ×100
  // integer lattice (these columns are 2-dp money/rate domains;
  // collision-free, and integer→string formats identically in both
  // engines), so the DuckDB oracle reproduces the registers and the
  // raw estimate bit-for-bit — an approx profile that is still
  // hash-compared, where approx_count_distinct(HLL++) could only be
  // range-checked. est_ndv at sf0.1: l_extendedprice ~530k true NDV
  // through 256 registers — the regime the sketch exists for.
  // ---------------------------------------------------------------
  /** The (cn, v) profile pairs over any lineitem-shaped frame — the
    * H1 repartition and the null drop factored so q179 and q186's
    * incremental slices run the identical map side.
    */
  private[queries] def profilePairs(src: DataFrame): DataFrame =
    // hash fan-out on the 4 profiled values, not keyless round-robin:
    // same scale-adaptive width, but RoundRobinPartitioning pays a
    // local sort of every row first (sortBeforeRepartition, kept for
    // retry determinism) — hash partitioning is deterministic without
    // it. The 4-double tuple is near-unique (extendedprice), so the
    // spread is even; every downstream aggregate is order-free.
    pairsOf(Tables.fanOut(
      src.select(ProfileCols.map(col): _*), ProfileCols.map(col): _*))

  /** The explode-to-pairs core WITHOUT the repartition — for callers
    * that already fanned their input (q186 shares ONE keyed exchange
    * across its four slice passes instead of paying four round-robin
    * exchanges, each with `sortBeforeRepartition`'s local sort).
    */
  private[queries] def pairsOf(src: DataFrame): DataFrame =
    src
      .select(explode(array(ProfileCols.map(c =>
        struct(lit(c).as("cn"), col(c).as("v"))): _*)).as("p"))
      .select(col("p.cn").as("cn"), col("p.v").as("v"))
      .where(col("v").isNotNull)

  /** hash60 of the exact ×100-lattice value — q179's NDV hash, shared
    * with q186's incremental register legs (same hash set ⇒ merged
    * registers are bit-equal to direct ones).
    */
  private[queries] def profileHash(v: org.apache.spark.sql.Column) =
    // hash60Long, not hash60StrCol(cast string): same value on every
    // long (KernelSpec), minus a String+UTF8String allocation per
    // lattice point — this pass was the suite's largest CPU item
    TextKernels.hash60LongCol(
      floor(v.cast("double") * 100 + 0.5).cast("long"))

  def q179(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.HllSketch
    val spark2 = spark
    import spark2.implicits._
    // H1 repartition-before-heavy-map (lshBase's idiom): the test SF's
    // lineitem is a single parquet split, so without this the hash pass
    // runs in ONE task (bench measured cpu/wall ~ 1 — serial). The
    // round-robin exchange carries the narrow 4-column raw rows BEFORE
    // the 4x explode (600k rows, not 2.4M pairs); at production split
    // counts the scan itself provides the parallelism.
    val pairs = profilePairs(Tables.lineitem(spark, dir))
    // hash60 via the StaticInvoke kernel, not the md5/conv expression
    // chain — bit-identical (KernelSpec) and measured 2.2x faster at
    // sf0.1 (1.17 vs 2.55 s for the 2.4M-hash pass); hashing is the
    // dominant cost of this profile, the aggregate is 256 bytes/column
    val agg = pairs
      .withColumn("h", profileHash(col("v")))
      .groupBy(col("cn"))
      .agg(count(lit(1)).as("n"),
        HllSketch.hllSummary(col("h")).as("hs"),
        min(col("v")).as("min_v"),
        max(col("v")).as("max_v"),
        sum(col("v").cast("decimal(18,6)")).cast("double").as("sum_v"))
    agg.join(ProfileCols.toDF("cn"), Seq("cn"), "right")
      .select(col("cn").as("col_name"),
        coalesce(col("n"), lit(0L)).as("n"),
        element_at(col("hs"), 2).as("zero_regs"),
        TextFns.rnd(HllSketch.estimate(element_at(col("hs"), 1)), 4)
          .as("est_ndv"),
        col("min_v"), col("max_v"), col("sum_v"))
      .orderBy(col("col_name"))
  }

  val q179Sql: String = {
    import graft.functions.HllSketch
    val colsList = ProfileCols.map(c => s"'$c'").mkString(", ")
    val valsList = ProfileCols.mkString(", ")
    // `cols` LEFT-JOIN scaffold mirrors the Spark side's right join
    // onto the literal column frame (the q175Sql pattern): an
    // ENTIRELY-null profiled column still yields its row (n=0, NULL
    // stats) instead of vanishing from the WHERE v IS NOT NULL legs —
    // without it the two engines disagree on degenerate inputs.
    s"""WITH cols AS (SELECT unnest([$colsList]) AS cn),
       |p AS (
       |  SELECT cn, v FROM (
       |    SELECT unnest([$colsList]) AS cn, unnest([$valsList]) AS v
       |    FROM lineitem)
       |  WHERE v IS NOT NULL),
       |h AS (SELECT cn,
       |  ${TextFns.hash60Sql("floor(v::DOUBLE * 100 + 0.5)::BIGINT::VARCHAR")} AS h
       |  FROM p),
       |r AS (SELECT cn, ${HllSketch.registerSql("h")} FROM h),
       |agg AS (${HllSketch.summarizeSql("cn", "r", zeros = true)}),
       |st AS (SELECT cn, COUNT(*)::BIGINT AS n, MIN(v) AS min_v, MAX(v) AS max_v,
       |  SUM(v::DECIMAL(18,6))::DOUBLE AS sum_v FROM p GROUP BY cn)
       |SELECT cols.cn AS col_name, COALESCE(n, 0::BIGINT) AS n, zero_regs,
       |  ${TextFns.rndSql(HllSketch.estimateSql("s_fp"), 4)} AS est_ndv,
       |  min_v, max_v, sum_v
       |FROM cols LEFT JOIN st ON cols.cn = st.cn
       |          LEFT JOIN agg ON cols.cn = agg.cn
       |ORDER BY col_name""".stripMargin
  }

  /** The q145 profile over any lineitem-shaped frame — split out so
    * the all-null-column contract is testable without a fixture scan.
    */
  private[graft] def profile(src: DataFrame): DataFrame = {
    val spark = src.sparkSession
    // (col_name, value) pairs from one scan, then TWO KEYED levels:
    // per-(col, value) counts collapse map-side to ~NDV rows and the
    // (col, value)-hashed exchange spreads the distinct work over
    // every reducer. The tempting one-aggregate form with four
    // count_distincts is a GLOBAL (keyless) aggregate — its final
    // merge of all four distinct sets lands in a single task
    // (measured: 3.5 s wall at only 2x parallelism on 32 cores; this
    // shape: every stage keyed, nothing serial).
    // NO repartition here (unlike q179's profilePairs): r16 measured
    // the round-robin form worse (1.35 s → 1.88 s), and r17 re-tested
    // with the sort-free HASH fan-out on the value columns — still
    // 1.53× worse same-window (controls ≤1.09) with process-CPU
    // exploding 2.6 → 17.3 s: this exact path's partial (cn, v)
    // aggregate barely collapses (extendedprice is near-unique), so
    // the exchange carries input-sized bytes and the extra pass costs
    // far more than the serial explode it parallelizes. q179's hash
    // pass, by contrast, dwarfs its exchange. Measured-rejected twice;
    // do not re-add.
    val pairs = src
      .select(explode(array(ProfileCols.map(c =>
        struct(lit(c).as("cn"), col(c).as("v"))): _*)).as("p"))
      .select(col("p.cn").as("cn"), col("p.v").as("v"))
      // SQL aggregate semantics skip NULLs: COUNT(c) and
      // COUNT(DISTINCT c) both exclude them, so the null group must
      // not reach the keyed levels (lineitem's profiled columns are
      // never null, but the profile must hold for any input)
      .where(col("v").isNotNull)
    val agg = pairs.groupBy(col("cn"), col("v"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("cn"))
      .agg(sum(col("cnt")).as("n"),
        count(lit(1)).as("n_distinct"),
        min(col("v")).as("min_v"),
        max(col("v")).as("max_v"),
        sum(col("v").cast("decimal(18,6)") * col("cnt")).cast("double")
          .as("sum_v"))
    // an ENTIRELY-null column vanishes at the isNotNull filter, but
    // the oracle's per-column UNION ALL still emits its row with n=0
    // and NULL min/max/sum — right-join the 4-literal column frame
    // back (broadcast, free) so "holds for any input" is actually true
    import spark.implicits._
    agg.join(ProfileCols.toDF("cn"), Seq("cn"), "right")
      .select(col("cn").as("col_name"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        col("min_v"), col("max_v"), col("sum_v"))
      .orderBy(col("col_name"))
  }

  val q145Sql: String = ProfileCols.map { c =>
    s"""SELECT '$c' AS col_name, COUNT($c) AS n,
       |  COUNT(DISTINCT $c) AS n_distinct, MIN($c) AS min_v,
       |  MAX($c) AS max_v,
       |  CAST(SUM(CAST($c AS DECIMAL(18,6))) AS DOUBLE) AS sum_v
       |FROM lineitem""".stripMargin
  }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")

  // ---------------------------------------------------------------
  // q161_heavy_hitters — exact top-k frequent tokens via the
  // mergeable Misra-Gries summary (graft.functions.MisraGriesAgg),
  // rounding out the sketch family: KMV = distinct, CMS = point
  // frequency, histogram = quantiles, MG = heavy hitters. Two-pass
  // exact pattern: pass 1 is ONE partial+final MG aggregate (the
  // exchange carries an m-entry summary per partition — never a
  // vocabulary-sized shuffle); pass 2 recounts ONLY the <= m
  // candidates exactly (broadcast semi-join; aggregate state bounded
  // by m) and takes the top-k by exact count. The MG invariant
  // guarantees every token with share > 1/(m+1) is among the
  // candidates, so whenever the true top-k sits above that share the
  // result is EXACT — the `guaranteed` flag (cnt·(m+1) > n, integer
  // arithmetic) marks each row's containment proof. DuckDB oracles
  // the whole thing as a plain exact recount.
  //
  // The corpus's 31-token vocabulary sits below m, so here the
  // summary is exhaustive; PropertySpec drives vocab >> m streams
  // through the same aggregate under 1/7/32-partition layouts and
  // pins the non-trivial behavior (size cap, containment, error
  // bound) that makes this the 100 TB path.
  // ---------------------------------------------------------------
  final val MgM = 64
  final val MgK = 10

  def q161(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.MisraGriesAgg
    val toks = Tables.documents(spark, dir)
      .select(explode(TextFns.tokens(col("text"))).as("t"))
    val sk = toks.agg(MisraGriesAgg.sketch(col("t"), MgM).as("cand"),
      count(lit(1)).as("n"))
    val cand = sk.select(explode(col("cand.token")).as("t"), col("n"))
    toks.join(broadcast(cand), "t")
      .groupBy(col("t"), col("n"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("t").as("token"), col("cnt"),
        (col("cnt").cast("double") / col("n").cast("double")).as("share"),
        (col("cnt") * (MgM + 1) > col("n")).as("guaranteed"))
      .orderBy(desc("cnt"), col("token")).limit(MgK)
  }

  val q161Sql: String =
    s"""WITH toks AS (
       |  SELECT unnest(string_split(text, ' ')) AS t FROM documents),
       |c AS (SELECT t, COUNT(*) AS cnt FROM toks GROUP BY t),
       |tot AS (SELECT SUM(cnt)::BIGINT AS n FROM c)
       |SELECT t AS token, cnt::BIGINT AS cnt,
       |  cnt::DOUBLE / n::DOUBLE AS share,
       |  cnt * ${MgM + 1} > n AS guaranteed
       |FROM c CROSS JOIN tot
       |ORDER BY cnt DESC, token LIMIT $MgK""".stripMargin

  // ---------------------------------------------------------------
  // q172_hll_distinct — per-source TRIGRAM vocabulary size via
  // HyperLogLog (functions/HllSketch.scala): the distinct-phrase
  // profile a corpus report ships. Trigram shingles, not raw tokens,
  // because cardinality is what exercises the sketch: this corpus's
  // word vocabulary is a few dozen (where exact counting is free and
  // the raw HLL estimate sits in its documented small-range bias),
  // while per-source trigrams run to thousands — m=256's design
  // regime. 256 BYTES of mergeable register state per (partition,
  // source) on the exchange — constant, vs the exact count's full
  // distinct shuffle (kept only because the test corpus affords the
  // truth). zero_regs reports distance from the small-range regime.
  // The estimate is the RAW harmonic formula from the exact integer
  // S = sum 2^(53 - M_j) — register contents, S, and the single IEEE
  // expression tree are identical in DuckDB (see HllSketch scaladoc),
  // which is what makes an HLL hash-oracle-checkable where
  // approx_count_distinct is not.
  // ---------------------------------------------------------------
  def q172(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.HllSketch
    // winHash kernel == hash60 of each space-joined 3-token window
    // (KernelSpec-pinned parity): one codegen'd pass replaces the
    // shingle-explode -> concat -> md5 expression chain.
    // fanOut: the trigram explode + partial aggregate is the query's
    // cost and ran as ONE task over the single-file scan (profiled
    // 0.48 s serial at sf0.1); spreading the raw docs first costs one
    // small exchange. All aggregates are order-free (counts, register
    // max), so the answer is partitioning-invariant.
    //
    // Pre-aggregate to DISTINCT (source, h) first (guide §2.3
    // "aggregate before you shuffle"), then count rows and fill the
    // sketch from the distinct stream: count_distinct on the raw
    // stream plans an Expand that DOUBLES every exploded trigram row
    // before partial aggregation, and HLL register updates are
    // dedup-invariant (register = max of rho per slot), so
    // hllSummary over distinct h yields bit-identical registers and
    // count(*) over the distinct frame IS the exact distinct count.
    Tables.fanOut(Tables.documents(spark, dir), col("doc_id"))
      .select(col("source"),
        explode(TextKernels.winHashCol(col("text"), 3)).as("h"))
      .distinct()
      .groupBy(col("source"))
      .agg(count(lit(1)).as("exact_distinct"),
        HllSketch.hllSummary(col("h")).as("hs"))
      .select(col("source"), col("exact_distinct"),
        element_at(col("hs"), 2).as("zero_regs"),
        TextFns.rnd(HllSketch.estimate(element_at(col("hs"), 1)), 4)
          .as("est_hll"))
      .orderBy(col("source"))
  }

  val q172Sql: String = {
    import graft.functions.HllSketch
    s"""WITH h AS (
       |  SELECT source, ${TextFns.hash60Sql("g")} AS h
       |  FROM (SELECT source,
       |          unnest(${TextFns.shinglesSql("string_split(text, ' ')", 3)}) AS g
       |        FROM documents)),
       |r AS (SELECT source, ${HllSketch.registerSql("h")} FROM h),
       |agg AS (${HllSketch.summarizeSql("source", "r", zeros = true)}),
       |ex AS (SELECT source, COUNT(DISTINCT h)::BIGINT AS exact_distinct
       |       FROM h GROUP BY source)
       |SELECT source, exact_distinct, zero_regs,
       |  ${TextFns.rndSql(HllSketch.estimateSql("s_fp"), 4)} AS est_hll
       |FROM agg JOIN ex USING (source) ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------
  // q175_hll_growth — trigram-vocabulary growth between corpus
  // snapshots via HLL register ALGEBRA: est(ref ∪ cur) − est(ref)
  // per source, the "how many NEW distinct phrases did this crawl
  // add" audit that in production runs entirely on persisted
  // sketches — union is
  // elementwise register max, so the full-corpus estimate merges from
  // per-snapshot summaries without re-reading either snapshot. Here
  // both sketches fill in ONE pass (the ref sketch via a null-gated
  // child: the aggregate skips nulls), with the exact counts kept
  // alongside to expose the estimator error. Snapshots are q170's
  // doc_id-block halves. S stays the exact integer of q172, so both
  // estimates — and their difference — are identical IEEE trees in
  // the oracle.
  // ---------------------------------------------------------------
  def q175(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.HllSketch
    // fanOut: order-free aggregates, so spreading the docs first
    // changes nothing but the parallelism (the explode stage profiled
    // 1.17 s single-task over the one-file scan before r16's fanOut).
    //
    // Pre-aggregate to DISTINCT (source, h) with an any_ref flag
    // (guide §2.3): the two count_distincts planned an Expand that
    // TRIPLED every exploded trigram row before partial aggregation.
    // Over the distinct frame, exact_ref = rows with any ref-half
    // occurrence, exact_all = row count, and both HLL sketches fill
    // from each distinct h once — register updates are dedup-
    // invariant (per-slot max), so registers, S, and every estimate
    // are bit-identical to the raw-stream form.
    Tables.fanOut(Tables.documents(spark, dir), col("doc_id"))
      .select(col("source"), expr("(doc_id DIV 20) % 2 = 0").as("is_ref"),
        explode(TextKernels.winHashCol(col("text"), 3)).as("h"))
      .groupBy(col("source"), col("h"))
      .agg(max(col("is_ref")).as("any_ref"))
      .groupBy(col("source"))
      .agg(count(when(col("any_ref"), lit(1))).as("exact_ref"),
        count(lit(1)).as("exact_all"),
        HllSketch.hllSummary(when(col("any_ref"), col("h"))).as("hsr"),
        HllSketch.hllSummary(col("h")).as("hsa"))
      .select(col("source"), col("exact_ref"),
        (col("exact_all") - col("exact_ref")).as("exact_new"),
        TextFns.rnd(HllSketch.estimate(element_at(col("hsr"), 1)), 4)
          .as("est_ref"),
        TextFns.rnd(HllSketch.estimate(element_at(col("hsa"), 1)), 4)
          .as("est_union"),
        TextFns.rnd(HllSketch.estimate(element_at(col("hsa"), 1))
          - HllSketch.estimate(element_at(col("hsr"), 1)), 4).as("est_growth"))
      .orderBy(col("source"))
  }

  val q175Sql: String = {
    import graft.functions.HllSketch
    // A source whose reference half is EMPTY vanishes from sRef under
    // an inner join, while the Spark side still emits the row with the
    // empty-sketch S = m * 2^53 (all registers zero). LEFT JOIN +
    // COALESCE to that same S makes the oracle degrade identically
    // instead of relying on the every-source-has-both-halves data
    // construction (ADVICE r10).
    val refS =
      s"COALESCE(sRef.s_fp, (${HllSketch.M}::BIGINT * (1::BIGINT << ${HllSketch.RhoMax})))"
    s"""WITH h AS (
       |  SELECT source, (doc_id // 20) % 2 = 0 AS is_ref,
       |    ${TextFns.hash60Sql("g")} AS h
       |  FROM (SELECT doc_id, source,
       |          unnest(${TextFns.shinglesSql("string_split(text, ' ')", 3)}) AS g
       |        FROM documents)),
       |rAll AS (SELECT source, ${HllSketch.registerSql("h")} FROM h),
       |rRef AS (SELECT source, ${HllSketch.registerSql("h")} FROM h WHERE is_ref),
       |sAll AS (${HllSketch.summarizeSql("source", "rAll")}),
       |sRef AS (${HllSketch.summarizeSql("source", "rRef")}),
       |ex AS (
       |  SELECT source,
       |    COUNT(DISTINCT h) FILTER (WHERE is_ref)::BIGINT AS exact_ref,
       |    COUNT(DISTINCT h)::BIGINT AS exact_all
       |  FROM h GROUP BY source)
       |SELECT ex.source, exact_ref, exact_all - exact_ref AS exact_new,
       |  ${TextFns.rndSql(HllSketch.estimateSql(refS), 4)} AS est_ref,
       |  ${TextFns.rndSql(HllSketch.estimateSql("sAll.s_fp"), 4)} AS est_union,
       |  ${TextFns.rndSql(
      HllSketch.estimateSql("sAll.s_fp") + " - " + HllSketch.estimateSql(refS), 4)} AS est_growth
       |FROM ex JOIN sAll ON ex.source = sAll.source
       |        LEFT JOIN sRef ON ex.source = sRef.source
       |ORDER BY ex.source""".stripMargin
  }

  // ---------------------------------------------------------------
  // q178_hll_rollup — the PERSISTED-SKETCH algebra executed (q175's
  // scaladoc argues it; this runs it): per-hour distinct-user
  // register arrays (graft_hll_regs — the 256-byte binary form a
  // production pipeline stores beside each window's metrics) are
  // merged hour→day by graft_hll_merge, i.e. elementwise register
  // max, WITHOUT touching the event stream again. Union of HLL
  // sketches is exactly register max (associative + commutative +
  // idempotent), so the rollup is bit-equal to the sketch computed
  // directly over the day's events — which is precisely how the
  // DuckDB oracle computes it (it never sees the hourly step), making
  // the merge path itself the thing the hash-compare certifies.
  // PropertySpec additionally pins merged == direct at the register
  // level under adversarial groupings.
  //
  // Scale shape: pass 1 is one (hour)-keyed aggregate whose exchange
  // carries 256 bytes per (partition, hour); pass 2 runs ENTIRELY on
  // the hours-sized summary frame — at 100 TB, day/week/corpus
  // distinct reporting becomes a metadata operation over stored
  // sketch rows (this corpus: 720 hourly rows → 30 daily rows). The
  // exact recount column is test-corpus truth exposing the estimator
  // error; production ships the estimate.
  // ---------------------------------------------------------------
  def q178(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.HllSketch
    val ev = Tables.events(spark, dir).select(
      expr("unix_micros(ts) DIV 3600000000 * 3600000000").as("win_us"),
      col("user_id"),
      graft.functions.TextKernels.hash60LongCol(col("user_id")).as("h"))
    val hourly = ev.groupBy(col("win_us"))
      .agg(HllSketch.hllRegisters(col("h")).as("regs"))
    val daily = hourly
      .groupBy((col("win_us") - pmod(col("win_us"), lit(86400000000L))).as("day_us"))
      .agg(HllSketch.hllMergeSummary(col("regs")).as("hs"),
        count(lit(1)).as("n_hours"))
    val exact = ev
      .groupBy((col("win_us") - pmod(col("win_us"), lit(86400000000L))).as("day_us"))
      .agg(count_distinct(col("user_id")).as("exact_users"))
    daily.join(exact, "day_us")
      .select(timestamp_micros(col("day_us")).as("day_start"),
        col("n_hours"), col("exact_users"),
        element_at(col("hs"), 2).as("zero_regs"),
        TextFns.rnd(HllSketch.estimate(element_at(col("hs"), 1)), 4)
          .as("est_users"))
      .orderBy(col("day_start"))
  }

  // direct day computation — the oracle certifies that merging the
  // hourly registers equals sketching the day's events directly
  val q178Sql: String = {
    import graft.functions.HllSketch
    s"""WITH h AS (
       |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start,
       |    CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr,
       |    user_id, ${TextFns.hash60Sql("user_id::VARCHAR")} AS h
       |  FROM events),
       |r AS (SELECT day_start, ${HllSketch.registerSql("h")} FROM h),
       |agg AS (${HllSketch.summarizeSql("day_start", "r", zeros = true)}),
       |ex AS (SELECT day_start, COUNT(DISTINCT hr)::BIGINT AS n_hours,
       |  COUNT(DISTINCT user_id)::BIGINT AS exact_users FROM h GROUP BY 1)
       |SELECT agg.day_start, n_hours, exact_users, zero_regs,
       |  ${TextFns.rndSql(HllSketch.estimateSql("s_fp"), 4)} AS est_users
       |FROM agg JOIN ex ON agg.day_start = ex.day_start
       |ORDER BY agg.day_start""".stripMargin
  }

  // ---------------------------------------------------------------
  // q183_stream_hll_warehouse — the q177→q178 PRODUCTION seam,
  // executed end-to-end: the event backlog streams through
  // [[graft.streaming.SketchWarehouse]] (foreachBatch reduces each
  // micro-batch to hourly partial registers and MERGE-upserts them
  // into the maintained day-partitioned sketch table), then the
  // day rollup runs entirely over the STREAMED table — the stream
  // writes sketches, distinct reporting is a metadata operation,
  // and the raw events are read exactly once, by the stream itself.
  // Register max is idempotent, so the seam is effectively-once
  // under window splits and batch replays (StreamSeamSpec pins both
  // bit-for-bit); the DuckDB oracle computes the day sketch DIRECTLY
  // from events (q178's oracle), so the hash-compare certifies the
  // whole stream→store→merge→rollup pipeline against one batch pass.
  // ---------------------------------------------------------------
  def q183(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.HllSketch
    val t = graft.streaming.SketchWarehouse.streamHourlyRegs(spark, dir)
    val hourly = spark.table(t)
    val daily = hourly
      .groupBy((col("win_us") - pmod(col("win_us"), lit(86400000000L))).as("day_us"))
      .agg(HllSketch.hllMergeSummary(col("regs")).as("hs"),
        count(lit(1)).as("n_hours"))
    // the exact recount is test-corpus truth (as in q177/q178):
    // production ships the estimate and never re-reads the events
    val exact = Tables.events(spark, dir)
      .groupBy((expr("unix_micros(ts) DIV 3600000000 * 3600000000")
        - pmod(expr("unix_micros(ts) DIV 3600000000 * 3600000000"),
          lit(86400000000L))).as("day_us"))
      .agg(count_distinct(col("user_id")).as("exact_users"))
    daily.join(exact, "day_us")
      .select(timestamp_micros(col("day_us")).as("day_start"),
        col("n_hours"), col("exact_users"),
        element_at(col("hs"), 2).as("zero_regs"),
        TextFns.rnd(HllSketch.estimate(element_at(col("hs"), 1)), 4)
          .as("est_users"))
      .orderBy(col("day_start"))
  }

  // ---------------------------------------------------------------
  // q193_week_sketch_rollup — the READ side of the q183 maintained
  // table, partition-pruned (VERDICT r12 item 5): a weekly distinct-
  // users report that opens ONLY the target week's day directories.
  // The stream keeps the day-partitioned hourly register table
  // current ([[graft.streaming.SketchWarehouse]], run at most once
  // per session here — readers query the maintained table, they do
  // not re-run the pipeline); the rollup derives its week bounds from
  // the table's own day list (an O(1)-row aggregate over a
  // sketch-sized table) and filters on the partition column with
  // LITERALS, so the scan carries `day >= ws AND day < we` as
  // PartitionFilters and lists 7 of the ~30 day directories
  // (StreamSeamSpec asserts the listed-file count, q146-style). The
  // week estimate is a register-max over ≤ 7×24 stored 256-byte rows
  // — distinct reporting as a metadata operation, the q178 claim now
  // pinned on the PRUNED read path. The oracle computes the week
  // directly from events (it never sees the table), so the
  // hash-compare certifies stream→store→prune→merge == direct.
  // exact_users is test-corpus truth, as in q177/q178/q183.
  // ---------------------------------------------------------------
  def q193(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.HllSketch
    val t = graft.streaming.SketchWarehouse.ensureStreamedHourlyRegs(spark, dir)
    // week bounds from the table's own day list — bounded by
    // construction (one date), and a pure function of the data both
    // engines share (min event day + 7/14)
    val day0 = spark.table(t).agg(min(col("day"))).head().getDate(0)
    val ws = java.sql.Date.valueOf(day0.toLocalDate.plusDays(7))
    val we = java.sql.Date.valueOf(day0.toLocalDate.plusDays(14))
    val wk = spark.table(t)
      .where(col("day") >= lit(ws) && col("day") < lit(we))
    val rolled = wk.agg(
      count_distinct(col("day")).as("n_days"),
      count(lit(1)).as("n_hours"),
      HllSketch.hllMergeSummary(col("regs")).as("hs"))
    // exact recount: test-corpus truth; the same UTC day arithmetic
    // the stored partition key uses
    val exact = Tables.events(spark, dir)
      .withColumn("day",
        expr("date_from_unix_date(CAST(unix_micros(ts) DIV 86400000000 AS INT))"))
      .where(col("day") >= lit(ws) && col("day") < lit(we))
      .agg(count_distinct(col("user_id")).as("exact_users"))
    rolled.crossJoin(exact)
      .select(lit(ws).as("week_start"), col("n_days"), col("n_hours"),
        col("exact_users"),
        element_at(col("hs"), 2).as("zero_regs"),
        TextFns.rnd(HllSketch.estimate(element_at(col("hs"), 1)), 4)
          .as("est_users"))
  }

  val q193Sql: String = {
    import graft.functions.HllSketch
    s"""WITH h AS (
       |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
       |    CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr,
       |    user_id, ${TextFns.hash60Sql("user_id::VARCHAR")} AS h
       |  FROM events),
       |b AS (SELECT MIN(day) + 7 AS ws, MIN(day) + 14 AS we FROM h),
       |wk AS (SELECT h.* FROM h, b WHERE day >= ws AND day < we),
       |r AS (SELECT ${HllSketch.registerSql("h")} FROM wk),
       |agg AS (${HllSketch.summarizeSql("", "r", zeros = true)}),
       |ex AS (SELECT COUNT(DISTINCT day)::BIGINT AS n_days,
       |  COUNT(DISTINCT hr)::BIGINT AS n_hours,
       |  COUNT(DISTINCT user_id)::BIGINT AS exact_users FROM wk)
       |SELECT b.ws AS week_start, n_days, n_hours, exact_users, zero_regs,
       |  ${TextFns.rndSql(HllSketch.estimateSql("s_fp"), 4)} AS est_users
       |FROM b, agg, ex""".stripMargin
  }

  // ---------------------------------------------------------------
  // q180_hll_overlap — the pairwise source-overlap MATRIX from
  // sketches: |A ∩ B| ≈ est(A) + est(B) − est(A ∪ B) by inclusion–
  // exclusion, where union is the register-max of the two sources'
  // register arrays ([[graft.functions.HllKernels]] scalar kernels).
  // The sketch twin of q131's exact trigram overlap: q131 pays a
  // corpus-sized (source, gram) aggregate and per-gram pair
  // generation; this reads the PERSISTED per-source register table
  // ([[persistedSourceSketches]] — one corpus aggregate, built once
  // per corpus generation, fingerprinted, reread across JVMs) — and
  // then the entire O(sources²) matrix is a projection
  // over a tiny self-join: pairwise overlap for every source pair as
  // a metadata operation, no second corpus pass, no per-gram state.
  // The inequality self-join is a broadcast nested loop over the
  // sources-sized frame — bounded by construction (PlanSpec's
  // allowlist). est_overlap can go slightly negative at low true
  // overlap (estimator noise) — deterministic noise, identical in
  // the oracle, which recomputes registers and the same IEEE
  // inclusion–exclusion tree from scratch.
  // ---------------------------------------------------------------
  /** The per-source register rows as a cross-session Warehouse
    * artifact — the persisted-sketch table every HLL query argues
    * from (q175/q178/q180 scaladocs): ~20 rows × 256 bytes, built by
    * ONE corpus aggregate, fingerprinted against the source corpus,
    * re-registered from surviving files by any later JVM. q180 reads
    * it; PersistedIndexSpec pins written→files bit-identical rereads.
    */
  /** Per-source trigram-shingle registers over any documents-shaped
    * frame — ONE partial+final aggregate whose exchange carries 256
    * bytes per (partition, source). Factored so the full build, the
    * q185 incremental legs, and IncrementalHllSpec's recounts all run
    * the identical aggregate.
    */
  private[graft] def sourceRegs(docs: DataFrame): DataFrame = {
    import graft.functions.HllSketch
    docs
      .select(col("source"),
        explode(TextKernels.winHashCol(col("text"), 3)).as("h"))
      .groupBy(col("source"))
      .agg(HllSketch.hllRegisters(col("h")).as("r"))
  }

  /** Merge an append batch's per-source register rows into an
    * existing sketch table's rows WITHOUT re-reading any corpus: a
    * full-outer join of two sources-sized frames and a scalar
    * register-max per pair ([[graft.functions.HllKernels.unionCol]]).
    * New sources appear, untouched sources pass through bit-identical,
    * and re-merging an already-absorbed batch is a no-op (register
    * max is idempotent) — the maintenance op that keeps q180's
    * persisted table current as the corpus grows, at cost
    * O(sources), never O(corpus).
    */
  private[graft] def mergeSourceRegs(existing: DataFrame,
                                     batch: DataFrame): DataFrame = {
    import graft.functions.HllKernels
    existing.select(col("source"), col("r").as("r_e"))
      .join(batch.select(col("source"), col("r").as("r_b")),
        Seq("source"), "full_outer")
      .select(col("source"),
        when(col("r_e").isNull, col("r_b"))
          .when(col("r_b").isNull, col("r_e"))
          .otherwise(HllKernels.unionCol(col("r_e"), col("r_b"))).as("r"))
  }

  /** In-place maintenance write: absorb `batchRegs` into `table` via
    * [[mergeSourceRegs]] and rewrite the table's rows. The collect is
    * bounded by construction — a source-sketch table is O(sources)
    * rows of 256 bytes, and staging the merged rows in memory is what
    * breaks the read-overwrite conflict on the table being replaced.
    *
    * `srcPath` is the corpus state the maintained rows now correspond
    * to: the overwrite insert DELETES the table directory (fingerprint
    * file included) before writing, so the fingerprint must be
    * REWRITTEN afterwards or the very first maintenance append would
    * silently break the cross-session files-reuse contract (the next
    * JVM would see a missing fingerprint, judge the artifact stale,
    * and pay the full O(corpus) rebuild q185 exists to avoid).
    */
  private[graft] def appendSourceSketchBatch(spark: SparkSession,
      table: String, batchRegs: DataFrame, srcPath: String): Unit = {
    val merged = mergeSourceRegs(spark.table(table), batchRegs)
    val staged = spark.createDataFrame(
      java.util.Arrays.asList(merged.collect(): _*), merged.schema)
    staged.write.mode("overwrite").insertInto(table)
    graft.io.Warehouse.writeFingerprint(spark, table, srcPath)
    spark.catalog.refreshTable(table)
  }

  private[graft] def persistedSourceSketches(spark: SparkSession, dir: String): DataFrame = {
    val table = s"graft_source_hll_${java.lang.Integer.toHexString(dir.hashCode)}"
    graft.io.Warehouse.ensureTable(spark, table,
      s"$dir/documents.parquet", "source STRING, r BINARY")(
      sourceRegs(Tables.documents(spark, dir)))
    spark.table(table)
  }

  def q180(spark: SparkSession, dir: String): DataFrame =
    overlapMatrix(persistedSourceSketches(spark, dir))

  /** q180's matrix over any (source, r) register frame — factored so
    * IncrementalHllSpec can run the identical projection over an
    * incrementally-MAINTAINED table and pin it against the
    * one-shot-built one.
    */
  private[graft] def overlapMatrix(regs: DataFrame): DataFrame = {
    import graft.functions.{HllKernels, HllSketch}
    val a = regs.select(col("source").as("source_a"), col("r").as("ra"))
    val b = regs.select(col("source").as("source_b"), col("r").as("rb"))
    a.join(b, col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"),
        TextFns.rnd(HllSketch.estimate(HllKernels.sCol(col("ra"))), 4)
          .as("est_a"),
        TextFns.rnd(HllSketch.estimate(HllKernels.sCol(col("rb"))), 4)
          .as("est_b"),
        TextFns.rnd(HllSketch.estimate(
          HllKernels.sCol(HllKernels.unionCol(col("ra"), col("rb")))), 4)
          .as("est_union"),
        TextFns.rnd(HllSketch.estimate(HllKernels.sCol(col("ra")))
          + HllSketch.estimate(HllKernels.sCol(col("rb")))
          - HllSketch.estimate(
            HllKernels.sCol(HllKernels.unionCol(col("ra"), col("rb")))), 4)
          .as("est_overlap"))
      .orderBy(col("source_a"), col("source_b"))
  }

  val q180Sql: String = {
    import graft.functions.HllSketch
    val estA = HllSketch.estimateSql("sa.s_fp")
    val estB = HllSketch.estimateSql("sb.s_fp")
    val estU = HllSketch.estimateSql("su.s_fp")
    s"""WITH h AS (
       |  SELECT source, ${TextFns.hash60Sql("g")} AS h
       |  FROM (SELECT source,
       |          unnest(${TextFns.shinglesSql("string_split(text, ' ')", 3)}) AS g
       |        FROM documents)),
       |r AS (SELECT source, ${HllSketch.registerSql("h")} FROM h),
       |regs AS (${HllSketch.registerMaxSql("source", "r")}),
       |s AS (${HllSketch.summarizeSql("source", "r")}),
       |pairs AS (
       |  SELECT a.source AS source_a, b.source AS source_b
       |  FROM (SELECT DISTINCT source FROM h) a
       |  JOIN (SELECT DISTINCT source FROM h) b ON a.source < b.source),
       |ur AS (
       |  SELECT p.source_a, p.source_b, rg.j, rg.mj AS rho
       |  FROM pairs p JOIN regs rg
       |    ON rg.source = p.source_a OR rg.source = p.source_b),
       |su AS (${HllSketch.summarizeSql("source_a, source_b", "ur")})
       |SELECT p.source_a, p.source_b,
       |  ${TextFns.rndSql(estA, 4)} AS est_a,
       |  ${TextFns.rndSql(estB, 4)} AS est_b,
       |  ${TextFns.rndSql(estU, 4)} AS est_union,
       |  ${TextFns.rndSql(s"$estA + $estB - $estU", 4)} AS est_overlap
       |FROM pairs p
       |JOIN s sa ON sa.source = p.source_a
       |JOIN s sb ON sb.source = p.source_b
       |JOIN su ON su.source_a = p.source_a AND su.source_b = p.source_b
       |ORDER BY p.source_a, p.source_b""".stripMargin
  }

  // ---------------------------------------------------------------
  // q181_profile_quantiles — the quantile half of the one-pass
  // ANALYZE story (q179 carries count/NDV/min/max/sum): p50/p90/p99
  // for every profiled column from ONE global aggregate computing
  // four histogram sketches side by side — constant state
  // (4 × (bins+2) longs ≈ 16 KB total on the exchange, so the
  // keyless final merge that disqualified q145's global-distinct
  // shape is harmless here), no per-group sort, no per-column scan
  // (the oracle pays four scans for the same counters). Envelopes
  // are power-of-two literals ([0,64), [0,2^17), [0,2^-3) ×2) so
  // lo/hi/w are all binary-exact and the q73 estimator — left edge +
  // linear interpolation at rank ceil(q·n) — reproduces bit-for-bit
  // from DuckDB's identically-binned counters. Together with q179
  // this is the full 100 TB ANALYZE pass: two scans of the fact
  // table produce moments, NDV, and quantiles for every column with
  // nothing proportional to NDV or group size anywhere.
  // ---------------------------------------------------------------
  private[graft] val QProfileCols: Seq[(String, Double, Double)] = Seq(
    ("l_quantity", 0.0, 64.0),
    ("l_extendedprice", 0.0, 131072.0),
    ("l_discount", 0.0, 0.125),
    ("l_tax", 0.0, 0.125))

  def q181(spark: SparkSession, dir: String): DataFrame =
    quantileProfile(spark, dir, HistQs)

  /** q181's one-aggregate quantile pass, parameterized on the
    * quantile list — AnalyzeOps reuses it with the five-point set the
    * persisted stats table carries, and q186 merges the COUNTER
    * frames of two corpus slices before the identical solve.
    */
  private[graft] def quantileProfile(spark: SparkSession, dir: String,
                                       qs: Seq[Double]): DataFrame =
    quantileSolve(spark, histBins(histAgg(Tables.lineitem(spark, dir))), qs)

  /** The ONE global aggregate: four histogram sketches side by side
    * (~16 KB state) over any lineitem-shaped frame.
    */
  private[queries] def histAgg(src: DataFrame): DataFrame =
    src.agg(
      graft.functions.HistogramSketch.histogram(
        col(QProfileCols.head._1).cast("double"),
        QProfileCols.head._2, QProfileCols.head._3, HistBins).as("h0"),
      QProfileCols.tail.zipWithIndex.map { case ((cn, lo, hi), i) =>
        graft.functions.HistogramSketch.histogram(
          col(cn).cast("double"), lo, hi, HistBins).as(s"h${i + 1}")
      }: _*)

  /** Unpack the 4-array aggregate row to the (cn, lo, w, bin, c)
    * counter frame (≤ 4 × bins rows; zero counters dropped).
    */
  private[queries] def histBins(one: DataFrame): DataFrame =
    one
      .select(explode(array(QProfileCols.zipWithIndex.map {
        case ((cn, lo, hi), i) =>
          struct(lit(cn).as("cn"), lit(lo).as("lo"),
            lit((hi - lo) / HistBins).as("w"), col(s"h$i").as("h"))
      }: _*)).as("s"))
      .select(col("s.cn").as("cn"), col("s.lo").as("lo"), col("s.w").as("w"),
        posexplode(col("s.h")).as(Seq("bin", "c")))
      .where(col("c") > 0)

  /** The q73/q181 estimator (left edge + linear interpolation at rank
    * ceil(q·n)) over a counter frame — a pure function of the
    * deterministic counters, so it commutes with counter MERGING
    * (q186's incremental path) and replays bit-for-bit in DuckDB.
    */
  private[queries] def quantileSolve(spark: SparkSession, bins: DataFrame,
                                     qs: Seq[Double]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cw = Window.partitionBy(col("cn"))
    val t = bins
      .withColumn("cum", sum(col("c")).over(cw.orderBy(col("bin"))))
      .withColumn("n", sum(col("c")).over(cw))
    val qsDf = spark.range(1).select(explode(array(qs.map(lit): _*)).as("q"))
    val r = t.crossJoin(broadcast(qsDf))
      .withColumn("rank", ceil(col("q") * col("n").cast("double")).cast("long"))
      .where(col("cum") >= col("rank"))
    val first = Window.partitionBy(col("cn"), col("q")).orderBy(col("bin"))
    r.withColumn("rk", row_number().over(first))
      .where(col("rk") === 1)
      .select(col("cn").as("col_name"), col("q"),
        TextFns.rnd(
          col("lo") + (col("bin") - 1) * col("w") +
            (col("rank") - (col("cum") - col("c"))).cast("double")
              / col("c").cast("double") * col("w"), 4).as("p_est"))
      .orderBy(col("col_name"), col("q"))
  }

  val q181Sql: String = quantileProfileSql(HistQs)

  private[queries] def quantileProfileSql(qs: Seq[Double]): String = {
    val legs = QProfileCols.map { case (cn, lo, hi) =>
      s"""SELECT '$cn' AS cn, ${graft.functions.HistogramSketch.binSql(cn, lo, hi, HistBins)} AS bin
         |    FROM lineitem""".stripMargin
    }.mkString("\n    UNION ALL ")
    val meta = QProfileCols.map { case (cn, lo, hi) =>
      s"('$cn', ${lo}::DOUBLE, ${(hi - lo) / HistBins}::DOUBLE)"
    }.mkString(", ")
    s"""WITH b AS (
       |  SELECT cn, bin, COUNT(*) AS c FROM (
       |    $legs)
       |  GROUP BY 1, 2),
       |meta AS (SELECT * FROM (VALUES $meta) m(cn, lo, w)),
       |t AS (
       |  SELECT cn, bin, c,
       |    SUM(c) OVER (PARTITION BY cn ORDER BY bin) AS cum,
       |    SUM(c) OVER (PARTITION BY cn) AS n
       |  FROM b),
       |r AS (
       |  SELECT t.*, q, CAST(CEIL(q * n::DOUBLE) AS BIGINT) AS rank
       |  FROM t CROSS JOIN (SELECT unnest([${qs.mkString(", ")}]::DOUBLE[]) AS q) qs),
       |pick AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY cn, q ORDER BY bin) AS rk
       |  FROM r WHERE cum >= rank)
       |SELECT p.cn AS col_name, q,
       |  ${TextFns.rndSql("lo + (bin - 1) * w + (rank - (cum - c))::DOUBLE / c::DOUBLE * w", 4)} AS p_est
       |FROM pick p JOIN meta USING (cn) WHERE rk = 1
       |ORDER BY col_name, q""".stripMargin
  }

  // ---------------------------------------------------------------
  // q185_hll_incremental — sketch-table MAINTENANCE executed against
  // the direct oracle (q176's incremental pattern applied to the HLL
  // world): the corpus splits into a BASE generation and an APPEND
  // batch (doc_id % 8 = 0 — the deterministic split both engines
  // replay); each side aggregates to per-source register rows, and
  // the batch is absorbed into the base by [[mergeSourceRegs]] — a
  // full-outer join of two sources-sized frames and a scalar
  // register max, NO corpus rebuild. The DuckDB oracle computes
  // est_total DIRECTLY from the whole corpus (it never sees the
  // merge), so the hash-compare certifies merge == rebuild — the
  // algebra that lets a 100 TB pipeline keep its per-source distinct
  // profile current by sketching only each day's append.
  // IncrementalHllSpec additionally pins register-level bit-equality
  // and runs the maintenance write against a real warehouse table
  // (including the idempotent re-merge).
  // ---------------------------------------------------------------
  def q185(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.{HllKernels, HllSketch}
    val docs = Tables.documents(spark, dir)
    val base = sourceRegs(docs.where(pmod(col("doc_id"), lit(8)) =!= 0))
    val batch = sourceRegs(docs.where(pmod(col("doc_id"), lit(8)) === 0))
    val merged = mergeSourceRegs(base, batch)
    // all-sources scaffold, mirroring the oracle's srcs CTE (the q179
    // lesson): a source whose every document yields zero trigram
    // shingles produces NO register row on either side — without the
    // right join it would vanish here while the oracle's DISTINCT
    // source list still emits its (NULL, NULL, NULL) row
    merged
      .join(docs.select(col("source")).distinct(), Seq("source"), "right")
      .join(base.select(col("source"), col("r").as("r_base")),
        Seq("source"), "left")
      .join(batch.select(col("source"), col("r").as("r_batch")),
        Seq("source"), "left")
      .select(col("source"),
        TextFns.rnd(HllSketch.estimate(HllKernels.sCol(col("r_base"))), 4)
          .as("est_base"),
        TextFns.rnd(HllSketch.estimate(HllKernels.sCol(col("r_batch"))), 4)
          .as("est_batch"),
        TextFns.rnd(HllSketch.estimate(HllKernels.sCol(col("r"))), 4)
          .as("est_total"))
      .orderBy(col("source"))
  }

  val q185Sql: String = {
    import graft.functions.HllSketch
    def leg(name: String, where: String): String =
      s"""r$name AS (SELECT source, ${HllSketch.registerSql("h")} FROM h $where),
         |s$name AS (${HllSketch.summarizeSql("source", s"r$name")})""".stripMargin
    s"""WITH h AS (
       |  SELECT source, is_batch, ${TextFns.hash60Sql("g")} AS h
       |  FROM (SELECT source, doc_id % 8 = 0 AS is_batch,
       |          unnest(${TextFns.shinglesSql("string_split(text, ' ')", 3)}) AS g
       |        FROM documents)),
       |${leg("Base", "WHERE NOT is_batch")},
       |${leg("Batch", "WHERE is_batch")},
       |${leg("All", "")},
       |srcs AS (SELECT DISTINCT source FROM documents)
       |SELECT srcs.source,
       |  ${TextFns.rndSql(HllSketch.estimateSql("sBase.s_fp"), 4)} AS est_base,
       |  ${TextFns.rndSql(HllSketch.estimateSql("sBatch.s_fp"), 4)} AS est_batch,
       |  ${TextFns.rndSql(HllSketch.estimateSql("sAll.s_fp"), 4)} AS est_total
       |FROM srcs LEFT JOIN sBase USING (source)
       |          LEFT JOIN sBatch USING (source)
       |          LEFT JOIN sAll USING (source)
       |ORDER BY srcs.source""".stripMargin
  }

  def declared: Seq[Query] = Seq(
    Query("q185_hll_incremental", q185, q185Sql),
    Query("q181_profile_quantiles", q181, q181Sql),
    // q183 shares q178's day-direct oracle: the hash-compare is what
    // certifies stream→store→merge→rollup == one direct batch pass
    Query("q183_stream_hll_warehouse", q183, q178Sql),
    Query("q193_week_sketch_rollup", q193, q193Sql),
    Query("q180_hll_overlap", q180, q180Sql),
    Query("q179_profile_hll", q179, q179Sql),
    Query("q178_hll_rollup", q178, q178Sql),
    Query("q175_hll_growth", q175, q175Sql),
    Query("q172_hll_distinct", q172, q172Sql),
    Query("q161_heavy_hitters", q161, q161Sql),
    Query("q145_column_profile", q145, q145Sql),
    Query("q48_corpus_sketch", q48, q48Sql),
    Query("q49_skew_salted", q49, q49Sql),
    Query("q50_asof_join", q50, q50Sql),
    Query("q51_percentiles", q51, q51Sql),
    Query("q62_kmv_distinct", q62, q62Sql),
    Query("q65_countmin_freq", q65, q65Sql),
    Query("q66_asof_native", q66, q50Sql),
    Query("q73_histogram_quantiles", q73, q73Sql),
    Query("q165_exact_quantiles", q165, q165Sql),
    Query("q77_bloom_prune", q77, q77Sql))
}
