package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFns.{rnd, rndSql}

/** The unified ANALYZE pass (VERDICT r11 item 6): q179 (moments +
  * HLL NDV) and q181 (histogram quantiles) as ONE operator that
  * persists a per-column statistics row to a warehouse stats table,
  * plus the consumer that turns stored stats into planning decisions.
  *
  * This is the production ANALYZE economics: the fact table is
  * scanned exactly TWICE ever per corpus generation — once for the
  * keyed moments/NDV aggregate (256-byte HLL state per column, no
  * Expand, no distinct shuffle), once for the four-histogram
  * aggregate (~16 KB total state) — and every later decision
  * (join build sides, bin widths, broadcast candidacy) reads the
  * O(columns) stats table, never the data. At 100 TB the stats table
  * is a few kilobytes; ANALYZE cost amortizes across every query
  * that plans against it.
  */
object AnalyzeOps {

  /** The five-point quantile set the stats table carries (q181 ships
    * p50/p90/p99; p25/p75 add the IQR the bin-width heuristics want).
    */
  private val StatsQs = Seq(0.25, 0.5, 0.75, 0.9, 0.99)

  private def pName(q: Double): String = s"p${math.round(q * 100)}"

  /** One stats row per profiled lineitem column, persisted as a
    * fingerprinted warehouse artifact (built by the two scans above,
    * reread by every later session — PersistedIndexSpec economics).
    */
  def ensureStatsTable(spark: SparkSession, dir: String): String = {
    val t = s"graft_stats_li_${java.lang.Integer.toHexString(dir.hashCode)}"
    graft.io.Warehouse.ensureTable(spark, t,
      s"$dir/lineitem.parquet",
      "col_name STRING, n BIGINT, est_ndv DOUBLE, min_v DOUBLE, " +
        "max_v DOUBLE, sum_v DOUBLE, p25 DOUBLE, p50 DOUBLE, " +
        "p75 DOUBLE, p90 DOUBLE, p99 DOUBLE") {
      // scan 1: the q179 moments/NDV aggregate (its exact green path)
      val moments = SketchQueries.q179(spark, dir).drop("zero_regs")
      // scan 2: the q181 histogram-quantile aggregate, five points
      val pivots = StatsQs.map(q =>
        max(when(col("q") === q, col("p_est"))).as(pName(q)))
      val qp = SketchQueries.quantileProfile(spark, dir, StatsQs)
        .groupBy(col("col_name"))
        .agg(pivots.head, pivots.tail: _*)
      moments.join(qp, "col_name")
    }
    t
  }

  // ---------------------------------------------------------------
  // q184_analyze_decisions — the stats CONSUMER: reads the persisted
  // stats table (never the fact table) and emits the planning
  // decisions the numbers support: a Sturges bin count from n alone
  // (bitLength(n) = floor(log2 n)+1, computed as length(bin(n)) —
  // exact in both engines, no floating log), the q88-style
  // recommended bin width (max−min)/bins, the broadcast/dictionary
  // candidacy flag (est_ndv under threshold), and the q77-style
  // Bloom build-side pick (the column with the smallest est_ndv
  // builds the filter — cheapest to materialize, tightest to probe).
  // The DuckDB oracle recomputes EVERYTHING from the raw fact table
  // — stats and decisions — so the hash-compare certifies both the
  // persisted stats and the decision arithmetic in one row set.
  // ---------------------------------------------------------------
  final val LowCardNdv = 1024.0

  def q184(spark: SparkSession, dir: String): DataFrame = {
    val t = ensureStatsTable(spark, dir)
    val stats = spark.table(t)
    // 4 rows: the rank window and the decisions are O(columns)
    val w = Window.orderBy(col("est_ndv").asc, col("col_name").asc)
    stats
      .withColumn("n_bins", length(bin(col("n"))).cast("long"))
      .withColumn("bin_w",
        rnd((col("max_v") - col("min_v")) / col("n_bins").cast("double"), 6))
      .withColumn("low_card", col("est_ndv") < lit(LowCardNdv))
      .withColumn("is_bloom_key", row_number().over(w) === 1)
      .orderBy(col("col_name"))
  }

  val q184Sql: String = {
    val pivot = StatsQs.map(q =>
      s"MAX(CASE WHEN q = $q THEN p_est END) AS ${pName(q)}").mkString(",\n    ")
    s"""WITH stats AS (
       |  SELECT col_name, n, est_ndv, min_v, max_v, sum_v
       |  FROM (${SketchQueries.q179Sql})),
       |qpiv AS (
       |  SELECT col_name,
       |    $pivot
       |  FROM (${SketchQueries.quantileProfileSql(StatsQs)})
       |  GROUP BY col_name),
       |s AS (
       |  SELECT stats.*, p25, p50, p75, p90, p99,
       |    CAST(length(bin(n)) AS BIGINT) AS n_bins
       |  FROM stats JOIN qpiv USING (col_name))
       |SELECT col_name, n, est_ndv, min_v, max_v, sum_v,
       |  p25, p50, p75, p90, p99, n_bins,
       |  ${rndSql("(max_v - min_v) / n_bins::DOUBLE", 6)} AS bin_w,
       |  est_ndv < $LowCardNdv AS low_card,
       |  (ROW_NUMBER() OVER (ORDER BY est_ndv ASC, col_name ASC)) = 1
       |    AS is_bloom_key
       |FROM s
       |ORDER BY col_name""".stripMargin
  }

  // ---------------------------------------------------------------
  // q186_analyze_incremental — ANALYZE maintenance for an append-only
  // fact table, executed against the direct oracle: the ENTIRE
  // per-column stats row is a mergeable sketch vector (n adds, min/
  // max fold, the decimal sum adds exactly, NDV registers merge by
  // max, histogram counters add), so when a partition lands, ANALYZE
  // scans ONLY the appended rows and merges two O(columns) vectors —
  // never the table. Here the corpus splits into a base generation
  // and an append batch (l_orderkey % 8 = 0), each side runs q179's
  // moments pass (registers kept raw) and q181's histogram aggregate,
  // the vectors merge in pure DataFrame algebra, and the DuckDB
  // oracle computes every number DIRECTLY from the whole table — the
  // hash-compare certifies merged == direct for all five component
  // algebras at once, including the register and counter identities.
  // ---------------------------------------------------------------
  def q186(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.HllSketch
    import graft.sources.Tables
    // ONE keyed fan-out per SLICE shared by that slice's two passes
    // (moments + histogram): each pass previously paid its own
    // round-robin repartition of the single-split scan — four
    // exchanges, each with sortBeforeRepartition's local sort
    // (profiled ~1.0 s of sequential 1-task stage time). The base/
    // batch filters push BELOW the repartition (a pruning win), so
    // the two slices' exchanges differ and cannot merge further —
    // the reusable unit is per-slice: 2 materializations + 2 reuses
    // for 4 consumers, now pinned in PlanSpec ("q186: the four slice
    // passes…") with AQE off, matching the r16 Prof measurement.
    val li = Tables.fanOut(
      Tables.lineitem(spark, dir)
        .select((SketchQueries.ProfileCols :+ "l_orderkey").map(col): _*),
      col("l_orderkey"))
    val base = li.where(pmod(col("l_orderkey"), lit(8)) =!= 0)
    val batch = li.where(pmod(col("l_orderkey"), lit(8)) === 0)
    // per-slice moments vector: n, raw registers, min, max, exact
    // decimal sum — every component re-mergeable
    def moments(src: DataFrame): DataFrame =
      SketchQueries.pairsOf(src)
        .withColumn("h", SketchQueries.profileHash(col("v")))
        .groupBy(col("cn"))
        .agg(count(lit(1)).as("n"),
          HllSketch.hllRegisters(col("h")).as("regs"),
          min(col("v")).as("min_v"),
          max(col("v")).as("max_v"),
          sum(col("v").cast("decimal(18,6)")).as("sum_dec"))
    val m = moments(base).unionByName(moments(batch))
      .groupBy(col("cn"))
      .agg(sum(col("n")).as("n"),
        HllSketch.hllMergeSummary(col("regs")).as("hs"),
        min(col("min_v")).as("min_v"),
        max(col("max_v")).as("max_v"),
        sum(col("sum_dec")).cast("double").as("sum_v"))
      .select(col("cn").as("col_name"), col("n"),
        rnd(HllSketch.estimate(element_at(col("hs"), 1)), 4).as("est_ndv"),
        col("min_v"), col("max_v"), col("sum_v"))
    // per-slice histogram counters ADD, then the identical solve
    val bins = SketchQueries.histBins(SketchQueries.histAgg(base))
      .unionByName(SketchQueries.histBins(SketchQueries.histAgg(batch)))
      .groupBy(col("cn"), col("lo"), col("w"), col("bin"))
      .agg(sum(col("c")).as("c"))
    val qp = SketchQueries.quantileSolve(spark, bins, SketchQueries.HistQs)
    val pivots = SketchQueries.HistQs.map(q =>
      max(when(col("q") === q, col("p_est"))).as(pName(q)))
    val qpiv = qp.groupBy(col("col_name")).agg(pivots.head, pivots.tail: _*)
    m.join(qpiv, "col_name").orderBy(col("col_name"))
  }

  val q186Sql: String = {
    val pivot = SketchQueries.HistQs.map(q =>
      s"MAX(CASE WHEN q = $q THEN p_est END) AS ${pName(q)}").mkString(",\n    ")
    s"""WITH stats AS (
       |  SELECT col_name, n, est_ndv, min_v, max_v, sum_v
       |  FROM (${SketchQueries.q179Sql})),
       |qpiv AS (
       |  SELECT col_name,
       |    $pivot
       |  FROM (${SketchQueries.quantileProfileSql(SketchQueries.HistQs)})
       |  GROUP BY col_name)
       |SELECT col_name, n, est_ndv, min_v, max_v, sum_v, p50, p90, p99
       |FROM stats JOIN qpiv USING (col_name)
       |ORDER BY col_name""".stripMargin
  }

  // ---------------------------------------------------------------
  // q188_stats_banded_join — the ANALYZE→PLAN loop CLOSED (VERDICT
  // r12 item 1): a containment join whose physical plan is decided by
  // the PERSISTED stats table. The query bands lineitem prices into
  // the q184-recommended layout (n_bins = Sturges from stored n,
  // band width = stored bin_w — the "recommended range-join bin
  // width" q184 emits) and assigns every row to its band with a pure
  // containment join (`p >= lo AND p < hi`, band bounds are
  // PRECOMPUTED attributes — no equi key, no structural width, so
  // without planner help this is a nested loop over bands × rows).
  // The stats CONSUMER publishes the stored width to
  // [[graft.plans.RangeJoinRewrite.WidthConf]] — the session-conf
  // seam Spark's own CBO uses (stats tables feed planning confs, the
  // optimizer reads confs) — and the rule rewrites the nested loop
  // into a bin equi-join whose width LITERAL is the number read from
  // the warehouse. StatsPlanSpec pins the loop end-to-end: the plan
  // carries the stats-derived literal, doctored stats move the
  // literal, absent stats leave the nested loop, and the rewritten
  // and naive plans agree row-for-row (the CBO invariant).
  //
  // Scale shape: the fact side is scanned once and hashed on uniform
  // bin keys; the band side (≤ 64 rows — Sturges of a BIGINT count)
  // broadcasts. The driver-side work is ONE stats-table row — O(1)
  // by construction, the whole point of consulting stats instead of
  // data. The oracle recomputes stats AND banding from the raw table
  // and joins by plain comparison — it never sees the stored table or
  // the rewrite, so the hash-compare certifies persisted stats,
  // decision arithmetic, and the rewritten join at once.
  // ---------------------------------------------------------------
  /** The column whose stored stats drive the banding. */
  final val BandCol = "l_extendedprice"

  /** (n_bins, width-in-cents, lo0-in-cents) from a stored stats row —
    * the exact q184 decision arithmetic (bitLength bins, rnd-6 width)
    * continued to the integer cent lattice both engines share.
    */
  private def bandLayout(n: Long, minV: Double, maxV: Double): (Int, Long, Long) = {
    val nBins = 64 - java.lang.Long.numberOfLeadingZeros(n) // length(bin(n))
    val binW = math.floor((maxV - minV) / nBins * 1000000.0 + 0.5) / 1000000.0
    val w = math.ceil(binW * 100.0).toLong // cents; >= 1 while max > min
    val lo0 = math.floor(minV * 100.0 + 0.5).toLong
    (nBins, w, lo0)
  }

  /** q188's body over an explicit stats table — the spec points this
    * at a doctored table to prove the plan FOLLOWS the stats.
    */
  private[graft] def statsBandedJoin(spark: SparkSession, dir: String,
                                       statsTable: String): DataFrame = {
    import graft.sources.Tables
    import spark.implicits._
    // ONE stats row — O(columns) table, O(1) read; never the data
    val row = spark.table(statsTable)
      .where(col("col_name") === BandCol)
      .select(col("n"), col("min_v"), col("max_v")).head()
    val (nBins, w, lo0) = bandLayout(row.getLong(0), row.getDouble(1),
      row.getDouble(2))
    // the LAST band's upper edge is inclusive (hi + 1 on the integer
    // cent lattice): when the rounded width exactly tiles the range,
    // the max value's cents land ON lo0 + nBins*w and a half-open top
    // band would silently drop those rows — "assigns every row" must
    // hold by construction, not by the current data's alignment
    val bands = (0 until nBins)
      .map(b => (b, lo0 + b * w,
        lo0 + (b + 1) * w + (if (b == nBins - 1) 1L else 0L)))
      .toDF("band", "lo", "hi")
    val pts = Tables.lineitem(spark, dir)
      .select(floor(col(BandCol) * 100.0 + lit(0.5)).as("p"), col("l_quantity"))
    val out = pts.join(bands, col("p") >= col("lo") && col("p") < col("hi"))
      .groupBy(col("band"), col("lo"), col("hi"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
      .orderBy(col("band"))
    // Publish the stored width to the planner conf and OPTIMIZE NOW:
    // QueryExecution caches its optimized plan, so the rewrite is
    // baked into this Dataset while the conf is restored immediately
    // (no session-wide leakage into unrelated containment joins). A
    // re-planning consumer (e.g. DataFrame.write builds a fresh
    // QueryExecution) falls back to the un-rewritten — still exact —
    // plan, which is precisely the CBO contract: stats move the plan,
    // never the rows.
    val key = graft.plans.RangeJoinRewrite.WidthConf
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, w.toString)
    try out.queryExecution.optimizedPlan
    finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None    => spark.conf.unset(key)
    }
    out
  }

  def q188(spark: SparkSession, dir: String): DataFrame =
    statsBandedJoin(spark, dir, ensureStatsTable(spark, dir))

  val q188Sql: String =
    s"""WITH s AS (
       |  SELECT COUNT(*) AS n, MIN($BandCol) AS min_v, MAX($BandCol) AS max_v
       |  FROM lineitem),
       |d AS (
       |  SELECT CAST(length(bin(n)) AS BIGINT) AS n_bins,
       |    CAST(ceil((${rndSql("(max_v - min_v) / length(bin(n))::DOUBLE", 6)}) * 100.0) AS BIGINT) AS wc,
       |    CAST(floor(min_v * 100.0 + 0.5) AS BIGINT) AS lo0
       |  FROM s),
       |bands AS (
       |  SELECT CAST(b AS INT) AS band, lo0 + b * wc AS lo,
       |    lo0 + (b + 1) * wc + CASE WHEN b = n_bins - 1 THEN 1 ELSE 0 END AS hi
       |  FROM d CROSS JOIN (SELECT unnest(generate_series(0, 62)) AS b)
       |  WHERE b < n_bins),
       |pts AS (
       |  SELECT CAST(floor($BandCol * 100.0 + 0.5) AS BIGINT) AS p, l_quantity
       |  FROM lineitem)
       |SELECT band, lo, hi, COUNT(*) AS n_rows,
       |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
       |FROM pts JOIN bands ON pts.p >= bands.lo AND pts.p < bands.hi
       |GROUP BY 1, 2, 3
       |ORDER BY band""".stripMargin

  // ---------------------------------------------------------------
  // q189_stats_dict_join — the second stored-stats plan decision, in
  // its purest form: semantics IDENTICAL under either choice, only
  // the physical join strategy follows the stats (the exact CBO
  // invariant — stats move the plan, never the rows). The query tags
  // every lineitem row with its l_quantity value's corpus frequency
  // (the dictionary join behind frequency features and dictionary
  // encoding) and rolls the tagged rows up per return flag. The
  // dictionary side's size is unknowable from the query text — it is
  // est_ndv(l_quantity) rows — so the consumer reads the STORED
  // est_ndv and broadcasts the dictionary iff the stats call it
  // low-cardinality (q184's low_card rule): ~50 distinct values →
  // broadcast hash join, no shuffle of the fact side; a doctored
  // est_ndv above the threshold plans the shuffle join instead
  // (StatsPlanSpec asserts both directions AND row equality). This
  // is the decision Spark cannot make statically — its size estimate
  // for an aggregate output is the input's, ndv is exactly what
  // ANALYZE exists to know.
  // ---------------------------------------------------------------
  /** q189's body over an explicit stats table (spec seam, as above). */
  private[graft] def statsDictJoin(spark: SparkSession, dir: String,
                                     statsTable: String): DataFrame = {
    import graft.sources.Tables
    val estNdv = spark.table(statsTable)
      .where(col("col_name") === "l_quantity")
      .select(col("est_ndv")).head().getDouble(0)
    val li = Tables.lineitem(spark, dir)
    val dict = li.groupBy(col("l_quantity").as("qv"))
      .agg(count(lit(1)).as("cnt"))
    val side = if (estNdv < LowCardNdv) broadcast(dict) else dict
    li.join(side, col("l_quantity") === col("qv"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("cnt")).as("sum_freq"),
        rnd(sum(col("cnt")).cast("double") / count(lit(1)).cast("double"), 4)
          .as("avg_freq"))
      .orderBy(col("l_returnflag"))
  }

  def q189(spark: SparkSession, dir: String): DataFrame =
    statsDictJoin(spark, dir, ensureStatsTable(spark, dir))

  val q189Sql: String =
    s"""WITH dict AS (
       |  SELECT l_quantity AS qv, COUNT(*) AS cnt FROM lineitem GROUP BY 1)
       |SELECT l_returnflag, COUNT(*) AS n_rows, SUM(cnt)::BIGINT AS sum_freq,
       |  ${rndSql("SUM(cnt)::DOUBLE / COUNT(*)::DOUBLE", 4)} AS avg_freq
       |FROM lineitem JOIN dict ON l_quantity = qv
       |GROUP BY 1 ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------
  // q198_stats_skew_agg — executed CBO #3: a stored SKEW statistic
  // decides the aggregation STRATEGY. q188 moved a plan literal and
  // q189 a join strategy; here the persisted top-key share of
  // events.event_type (one tiny fingerprinted artifact) picks salted
  // two-phase aggregation (q49's SkewOps path) when the top key holds
  // more than SkewShare of the rows, and the plain one-exchange
  // aggregate otherwise — the decision Spark cannot make statically
  // (its planner knows input sizes, never key skew; AQE re-splits
  // skewed JOIN partitions but does not salt a hot GROUPING key).
  // Rows are identical either way — the oracle is the plain SQL, and
  // StatsPlanSpec pins both plan directions (doctored share → single
  // aggregate pair, real share → salted pmod two-phase) plus row
  // equality. At 100 TB the exact top-share pass below is replaced by
  // the q175 Misra-Gries sketch the warehouse already maintains; the
  // CONSUMER seam — strategy from a stored statistic — is identical.
  // ---------------------------------------------------------------
  /** A key whose top value holds more than this row share saturates
    * one reducer at scale → salt.
    */
  final val SkewShare = 0.10

  /** Persisted per-key-column skew statistic over events: the modal
    * key and its row share (exact one-pass aggregate — deterministic;
    * the sketch-based form would store the MG estimate).
    */
  def ensureSkewStats(spark: SparkSession, dir: String): String = {
    val t = s"graft_stats_skew_${java.lang.Integer.toHexString(dir.hashCode)}"
    graft.io.Warehouse.ensureTable(spark, t, s"$dir/events.parquet",
      "key_col STRING, top_key STRING, top_share DOUBLE, n_rows BIGINT") {
      graft.sources.Tables.events(spark, dir)
        .groupBy(col("event_type")).agg(count(lit(1)).as("c"))
        .agg(max_by(col("event_type"), col("c")).as("top_key"),
          max(col("c")).as("top_c"), sum(col("c")).as("n"))
        .select(lit("event_type").as("key_col"), col("top_key"),
          (col("top_c").cast("double") / col("n").cast("double")).as("top_share"),
          col("n").as("n_rows"))
    }
    t
  }

  /** The consumer: aggregation strategy read FROM the stored skew
    * row (one O(1) lookup, never the data).
    */
  private[graft] def statsSkewAgg(spark: SparkSession, dir: String,
                                  skewTable: String): DataFrame = {
    val topShare = spark.table(skewTable)
      .where(col("key_col") === "event_type")
      .select(col("top_share")).head().getDouble(0)
    val ev = graft.sources.Tables.events(spark, dir)
    val agg =
      if (topShare > SkewShare)
        graft.operators.SkewOps.saltedCountSum(ev,
          key = col("event_type"), saltSource = col("event_id"),
          valueCol = col("value"))
          .withColumnRenamed("k", "event_type")
      else
        ev.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,6)")).cast("double")
              .as("sum_value"))
    agg.orderBy(col("event_type"))
  }

  def q198(spark: SparkSession, dir: String): DataFrame =
    statsSkewAgg(spark, dir, ensureSkewStats(spark, dir))

  /** Plain-aggregate oracle — the strategy must never change rows. */
  val q198Sql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  def declared: Seq[Query] = Seq(
    Query("q184_analyze_decisions", q184, q184Sql),
    Query("q186_analyze_incremental", q186, q186Sql),
    Query("q188_stats_banded_join", q188, q188Sql),
    Query("q189_stats_dict_join", q189, q189Sql),
    Query("q198_stats_skew_agg", q198, q198Sql))
}
