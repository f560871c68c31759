package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ZOrderLong
import graft.io.{GenLog, GenZoned, ZoneMaps}
import graft.sources.Tables

/** Data-layout queries: the write-side organization that makes the
  * read side prunable. The reference tunes layout only by
  * `repartition(200)` (radiography_analysis.py:102); at 100 TB layout
  * IS the query optimizer's raw material — min/max envelopes per
  * file decide how much of the lake a predicate reads.
  */
object Layout {

  /** Aligned z-block size: 2^18 codes = a 512 × 512 key rectangle. */
  final val BucketBits = 18

  // ---------------------------------------------------------------
  // q86_zorder_layout — per z-bucket key-envelope audit over
  // lineitem's (l_partkey, l_suppkey): bucket rows by the top bits of
  // the Morton code and report each bucket's min/max of BOTH keys.
  // The point the numbers make: every bucket's envelope spans < 512
  // in part AND supplier dimensions simultaneously (an aligned 2^18
  // z-block is exactly a 512×512 rectangle), so files written in
  // z-bucket order serve predicates on EITHER key with bounded
  // false-positive reads. A single-key sort gets a tight envelope in
  // one dimension and the full domain in the other.
  // Plan shape: pure map (codegen'd interleave) + one hash aggregate.
  // ---------------------------------------------------------------
  def q86(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"),
        ZOrderLong.zorder2(col("l_partkey"), col("l_suppkey")).as("z"))
      .groupBy(shiftrightunsigned(col("z"), BucketBits).as("z_bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("l_partkey")).as("p_min"), max(col("l_partkey")).as("p_max"),
        min(col("l_suppkey")).as("s_min"), max(col("l_suppkey")).as("s_max"))
      .orderBy(col("z_bucket"))

  val q86Sql: String = {
    def step(shift: Int, mask: Long) =
      s"SELECT ((xs | (xs << $shift)) & $mask) AS xs, " +
        s"((ys | (ys << $shift)) & $mask) AS ys, x, y"
    s"""WITH pts AS (
       |  SELECT l_partkey AS x, l_suppkey AS y FROM lineitem),
       |s0 AS (SELECT x & 2147483647 AS xs, y & 2147483647 AS ys, x, y FROM pts),
       |s1 AS (${step(16, 281470681808895L)} FROM s0),
       |s2 AS (${step(8, 71777214294589695L)} FROM s1),
       |s3 AS (${step(4, 1085102592571150095L)} FROM s2),
       |s4 AS (${step(2, 3689348814741910323L)} FROM s3),
       |s5 AS (${step(1, 6148914691236517205L)} FROM s4),
       |z AS (SELECT x, y, (xs | (ys << 1)) AS z FROM s5)
       |SELECT z >> $BucketBits AS z_bucket, COUNT(*) AS n,
       |  MIN(x) AS p_min, MAX(x) AS p_max,
       |  MIN(y) AS s_min, MAX(y) AS s_max
       |FROM z GROUP BY 1 ORDER BY z_bucket""".stripMargin
  }

  private def dsum(c: Column, scale: Int = 2): Column =
    graft.functions.ScaledSum.scaledDsum(c, scale)

  /** Target file count for the zoned layouts: enough files that
    * skipping is observable at every SF, few enough that sf0.001's
    * 6k rows still give ~190 rows per file.
    */
  final val ZoneFiles = 32

  // ---------------------------------------------------------------
  // q194_zonemap_pruned — file-level data skipping over a range-
  // clustered layout (io/ZoneMaps.scala): lineitem rewritten as
  // ZoneFiles files range-sorted by l_shipdate, a persisted per-file
  // min/max stats table, and a reader that consults the stats FIRST
  // and reads only the files whose envelope intersects the query's
  // 3-month window — ~2 of 32 files (ZoneMapSpec asserts < 1/4 and
  // that inputFiles == the stats-matched set exactly). This is the
  // skipping layer under every lake format (Delta file stats,
  // Snowflake micro-partition pruning) on plain parquet: q146 prunes
  // DIRECTORIES on one coarse key; zone maps prune FILES with no
  // per-value directory and no small-files tax. The exact predicate
  // re-applies after the read (envelopes are inclusive), so the
  // flat-scan oracle certifies skipping never changes the answer.
  // Plan shape: O(files) stats filter → k-file scan → one partial+
  // final aggregate on a 3-value key.
  // ---------------------------------------------------------------
  final val ShipLo = "1998-06-01"
  final val ShipHi = "1998-08-31"

  /** Shipdate-clustered lineitem layout + its zone-stats table. */
  private[graft] def ensureShipdateZoned(spark: SparkSession,
                                         dir: String): (String, String) = {
    val t = s"graft_li_zone_${java.lang.Integer.toHexString(dir.hashCode)}"
    graft.io.Warehouse.ensureTable(spark, t, s"$dir/lineitem.parquet",
      "l_shipdate TIMESTAMP_NTZ, l_returnflag STRING, l_quantity DOUBLE, " +
        "l_extendedprice DOUBLE, l_discount DOUBLE") {
      Tables.lineitem(spark, dir)
        .select(col("l_shipdate"), col("l_returnflag"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"))
        .repartitionByRange(ZoneFiles, col("l_shipdate"))
        .sortWithinPartitions(col("l_shipdate"))
    }
    val st = ZoneMaps.ensureFileStats(spark, t + "_stats", t, Seq("l_shipdate"))
    (t, st)
  }

  /** The shared q194/q199 body: zone-pruned read of the 3-month
    * window over a (layout, stats) pair, exact predicate re-applied,
    * revenue rollup. ONE definition so the maintained layout (q199)
    * can never drift from the oracle it shares with q194.
    */
  private def shipdateWindowAgg(spark: SparkSession, t: String,
                                st: String): DataFrame =
    windowRevenue(spark, ZoneMaps.prunedRead(spark, t, st,
      Seq(("l_shipdate", s"$ShipLo 00:00:00", s"$ShipHi 00:00:00"))), ShipLo, ShipHi)

  def q194(spark: SparkSession, dir: String): DataFrame = {
    val (t, st) = ensureShipdateZoned(spark, dir)
    shipdateWindowAgg(spark, t, st)
  }

  val q194Sql: String =
    s"""SELECT l_returnflag, COUNT(*) AS n_items,
       |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
       |FROM lineitem
       |WHERE l_shipdate BETWEEN TIMESTAMP '$ShipLo' AND TIMESTAMP '$ShipHi'
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q195_zonemap_zorder — multi-column skipping over ONE layout: the
  // same zone-map reader, but the layout is clustered by the Morton
  // code of (l_partkey, l_suppkey) (q86's curve, executed as storage)
  // and the stats table tracks BOTH keys' envelopes. A 2-D box
  // predicate — 1/32 of the part domain × 1/8 of the supplier
  // domain — prunes on both columns simultaneously, which no single-
  // key sort can do (a shipdate- or partkey-sorted layout keeps a
  // tight envelope in one dimension and the full domain in the
  // other). The box bounds derive from the STATS table itself
  // (max of per-file maxes == global max — an O(files) metadata read,
  // never the data), so the predicate scales with the SF's key
  // domain; the oracle recomputes the same bounds with scalar
  // subqueries. ZoneMapSpec asserts the box reads < 1/4 of files and
  // that a partkey-only sorted layout could not prune the suppkey
  // dimension (envelope audit).
  // ---------------------------------------------------------------
  /** Z-order-clustered (l_partkey, l_suppkey) layout + stats table. */
  private[graft] def ensureZorderZoned(spark: SparkSession,
                                       dir: String): (String, String) = {
    val t = s"graft_li_zord_${java.lang.Integer.toHexString(dir.hashCode)}"
    graft.io.Warehouse.ensureTable(spark, t, s"$dir/lineitem.parquet",
      "l_partkey BIGINT, l_suppkey BIGINT, l_returnflag STRING, " +
        "l_quantity DOUBLE") {
      Tables.lineitem(spark, dir)
        .select(col("l_partkey"), col("l_suppkey"), col("l_returnflag"),
          col("l_quantity"),
          ZOrderLong.zorder2(col("l_partkey"), col("l_suppkey")).as("z"))
        .repartitionByRange(ZoneFiles, col("z"))
        .sortWithinPartitions(col("z"))
        .drop("z")
    }
    val st = ZoneMaps.ensureFileStats(spark, t + "_stats", t,
      Seq("l_partkey", "l_suppkey"))
    (t, st)
  }

  /** The SF-relative box: [13/32, 14/32] of the part domain ×
    * [8/32, 12/32] of the supplier domain, floor integer arithmetic
    * (positive domains, so Long division == FLOOR — the oracle's
    * CAST(FLOOR(...)) lands on the same integers).
    */
  private[graft] def zBox(pmax: Long, smax: Long): (Long, Long, Long, Long) =
    (13L * pmax / 32, 14L * pmax / 32, 8L * smax / 32, 12L * smax / 32)

  def q195(spark: SparkSession, dir: String): DataFrame = {
    val (t, st) = ensureZorderZoned(spark, dir)
    val r = spark.table(st)
      .agg(max(col("l_partkey_max")), max(col("l_suppkey_max"))).head()
    val (pLo, pHi, sLo, sHi) = zBox(r.getLong(0), r.getLong(1))
    ZoneMaps.prunedRead(spark, t, st,
        Seq(("l_partkey", pLo, pHi), ("l_suppkey", sLo, sHi)))
      .where(col("l_partkey").between(lit(pLo), lit(pHi)) &&
        col("l_suppkey").between(lit(sLo), lit(sHi)))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_returnflag"))
  }

  val q195Sql: String =
    """WITH b AS (
      |  SELECT CAST(FLOOR(13 * MAX(l_partkey) / 32.0) AS BIGINT) AS plo,
      |         CAST(FLOOR(14 * MAX(l_partkey) / 32.0) AS BIGINT) AS phi,
      |         CAST(FLOOR(8 * MAX(l_suppkey) / 32.0) AS BIGINT) AS slo,
      |         CAST(FLOOR(12 * MAX(l_suppkey) / 32.0) AS BIGINT) AS shi
      |  FROM lineitem)
      |SELECT l_returnflag, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem, b
      |WHERE l_partkey BETWEEN b.plo AND b.phi
      |  AND l_suppkey BETWEEN b.slo AND b.shi
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q199_zonemap_incremental — the skipping layer itself MAINTAINED:
  // the zoned layout absorbs an append wave (l_orderkey % 8 = 0, the
  // standard split) as NEW range-sorted files — zone maps don't need
  // a global sort, envelopes are per-file, so ingestion never
  // rewrites the clustered base — and the stats table absorbs ONLY
  // the fresh files (ZoneMaps.absorbNewFileStats: anti-join on file
  // name, stats scan reads the fresh file list explicitly). The
  // appended wave's files cover wider envelopes than the base's (4
  // files over the full date range vs 32), which skipping tolerates
  // by construction: wider envelopes mean more candidate files, never
  // wrong answers. Base + wave = the full corpus, so q199 shares
  // q194's oracle verbatim — the hash-compare certifies the
  // maintained skipping layer end-to-end. Crash discipline: the
  // non-idempotent layout append is guarded by a data probe (q192's
  // pattern), the stats absorb is idempotent by anti-join, and the
  // stats fingerprint is re-recorded after absorption so later
  // sessions re-register instead of rebuilding.
  // At 100 TB: ingest cost = wave write + wave-sized stats scan +
  // O(files) bookkeeping; the base layout and its stats rows are
  // never touched.
  // ---------------------------------------------------------------
  private[graft] def ensureShipdateZonedInc(spark: SparkSession,
                                            dir: String): (String, String) = {
    val t = s"graft_li_zoneinc_${java.lang.Integer.toHexString(dir.hashCode)}"
    val cols = Seq("l_orderkey", "l_shipdate", "l_returnflag", "l_quantity",
      "l_extendedprice", "l_discount").map(col)
    def slice(filter: String, files: Int) =
      Tables.lineitem(spark, dir).where(expr(filter)).select(cols: _*)
        .repartitionByRange(files, col("l_shipdate"))
        .sortWithinPartitions(col("l_shipdate"))
    graft.io.Warehouse.ensureTable(spark, t, s"$dir/lineitem.parquet",
      "l_orderkey BIGINT, l_shipdate TIMESTAMP_NTZ, l_returnflag STRING, " +
        "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE") {
      slice("l_orderkey % 8 != 0", ZoneFiles)
    }
    val st = ZoneMaps.ensureFileStats(spark, t + "_stats", t, Seq("l_shipdate"))
    graft.io.Warehouse.absorbOnce(spark, t, "append_mod8") {
      // exactly-once wave append: wave rows live only in wave files
      // (the base filter excludes them), so every crash timing —
      // including a partial multi-file job commit — skips, appends,
      // or surgically repairs
      graft.io.Warehouse.appendExactlyOnce(spark, t,
        slice("l_orderkey % 8 = 0", 4), expr("l_orderkey % 8 = 0"),
        Tables.lineitem(spark, dir).where(expr("l_orderkey % 8 = 0")).count())
    }
    // always converges: anti-join on file name finds nothing once
    // absorbed (and repairs a crash between append and absorb)
    ZoneMaps.absorbNewFileStats(spark, st, t, Seq("l_shipdate"))
    (t, st)
  }

  def q199(spark: SparkSession, dir: String): DataFrame = {
    val (t, st) = ensureShipdateZonedInc(spark, dir)
    shipdateWindowAgg(spark, t, st)
  }

  // ---------------------------------------------------------------
  // q201_bloom_skipping — POINT-lookup file skipping on a key the
  // layout is NOT clustered by. The layout is shipdate-sorted, so
  // l_orderkey is scattered: every file's orderkey ENVELOPE spans
  // ~the whole domain and min/max zone maps keep all files. A
  // per-file 8192-bit Bloom of the orderkey hashes keeps only the
  // files that may contain the key — a point lookup reads the 1-2
  // true files plus a bounded false-positive tail instead of the
  // corpus (Delta's bloom index / parquet column-index role, as an
  // explicit stats table). Files are sized ~BloomRowsPerFile rows so
  // the filter's load — distinct orderkeys/file ≈ rows/4 — stays
  // sparse at EVERY SF (the bit budget per file is fixed; the file
  // size is the knob, exactly how real formats size row groups).
  // The probe key derives from the data (largest orderkey ≤ 3/8 of
  // max — two 1-row aggregates, bounded), so it exists and scales
  // with every SF's key domain; the oracle recomputes it with scalar
  // subqueries. ZoneMapSpec pins files-read == bloom-matched set (a
  // strict minority) and result equality with the flat scan.
  // ---------------------------------------------------------------
  final val BloomRowsPerFile = 1500

  private[graft] def ensureBloomZoned(spark: SparkSession,
                                      dir: String): (String, String) = {
    val t = s"graft_li_bloom_${java.lang.Integer.toHexString(dir.hashCode)}"
    graft.io.Warehouse.ensureTable(spark, t, s"$dir/lineitem.parquet",
      "l_orderkey BIGINT, l_shipdate TIMESTAMP_NTZ, l_quantity DOUBLE") {
      val li = Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_shipdate"), col("l_quantity"))
      // one count at build time only (ensureTable never evaluates the
      // build on the files-reuse path — the DDL is explicit)
      val n = math.max(ZoneFiles, (li.count() / BloomRowsPerFile).toInt)
      li.repartitionByRange(n, col("l_shipdate"))
        .sortWithinPartitions(col("l_shipdate"))
    }
    // one stats table, two pruning dimensions: shipdate envelopes
    // (the clustered column) + the orderkey Bloom — q201 uses the
    // bloom, q202 intersects both
    val st = ZoneMaps.ensureFileSkipStats(spark, t + "_skipstats", t,
      Seq("l_shipdate"), "l_orderkey")
    (t, st)
  }

  /** The probe key: largest orderkey ≤ 3/8 of the domain max —
    * guaranteed present, SF-relative, floor integer arithmetic
    * matching the oracle's CAST(FLOOR(...)).
    */
  private def probeOrderkey(spark: SparkSession, dir: String): Long = {
    val li = Tables.lineitem(spark, dir)
    val mx = li.agg(max(col("l_orderkey"))).head().getLong(0)
    li.where(col("l_orderkey") <= lit(3L * mx / 8))
      .agg(max(col("l_orderkey"))).head().getLong(0)
  }

  def q201(spark: SparkSession, dir: String): DataFrame = {
    val (t, st) = ensureBloomZoned(spark, dir)
    val k = probeOrderkey(spark, dir)
    val kh = graft.functions.TextKernels.hash60StrCol(
      lit(k).cast("string")) % graft.functions.TextFns.P
    ZoneMaps.bloomPrunedRead(spark, t, st, kh)
      .where(col("l_orderkey") === lit(k))
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_items"),
        dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_orderkey"))
  }

  val q201Sql: String =
    """WITH mx AS (SELECT MAX(l_orderkey) AS m FROM lineitem),
      |k AS (SELECT MAX(l_orderkey) AS k FROM lineitem, mx
      |      WHERE l_orderkey <= CAST(FLOOR(3 * m / 8.0) AS BIGINT))
      |SELECT l_orderkey, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem, k WHERE l_orderkey = k.k
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q202_compound_skipping — BOTH pruning dimensions intersected in
  // ONE metadata pass: a point-set lookup (5 SF-relative orderkeys)
  // inside a shipdate window prunes by the clustered column's
  // envelopes AND the scattered key's Blooms — files read ≈
  // (window fraction) × (keys' bloom hits), the compound skipping a
  // compound predicate deserves (each dimension alone keeps far
  // more). Keys derive per-octile (largest orderkey ≤ i·max/8 for
  // i ∈ {1,2,3,5,7}) via one 5-row aggregate; the oracle recomputes
  // them with a VALUES cross join. Exact predicates re-apply; the
  // flat-scan oracle certifies the intersection logic.
  // ---------------------------------------------------------------
  private val ProbeOctiles = Seq(1, 2, 3, 5, 7)
  final val CsLo = "1996-06-01"
  final val CsHi = "1999-05-31"

  /** The per-octile probe keys in TWO scans: one for the domain max,
    * one aggregate computing every octile's conditional max at once
    * (a per-octile loop would re-scan the corpus five times).
    */
  private[graft] def probeOrderkeys(spark: SparkSession, dir: String): Seq[Long] = {
    val li = Tables.lineitem(spark, dir)
    val mx = li.agg(max(col("l_orderkey"))).head().getLong(0)
    val aggs = ProbeOctiles.map(i =>
      max(when(col("l_orderkey") <= lit(i * mx / 8), col("l_orderkey"))))
    val r = li.agg(aggs.head, aggs.tail: _*).head()
    ProbeOctiles.indices.map(r.getLong).distinct
  }

  def q202(spark: SparkSession, dir: String): DataFrame = {
    val (t, st) = ensureBloomZoned(spark, dir)
    val ks = probeOrderkeys(spark, dir)
    val hashes = ks.map(k => graft.functions.TextKernels.hash60StrCol(
      lit(k).cast("string")) % graft.functions.TextFns.P)
    val (lo, hi) = (lit(CsLo).cast("timestamp"), lit(CsHi).cast("timestamp"))
    ZoneMaps.compoundPrunedRead(spark, t, st,
        Seq(("l_shipdate", s"$CsLo 00:00:00", s"$CsHi 00:00:00")), hashes)
      .where(col("l_orderkey").isin(ks: _*) &&
        col("l_shipdate").between(lo, hi))
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_items"),
        dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_orderkey"))
  }

  val q202Sql: String = {
    val octiles = ProbeOctiles.map(i => s"($i)").mkString(",")
    s"""WITH mx AS (SELECT MAX(l_orderkey) AS m FROM lineitem),
       |ks AS (SELECT DISTINCT MAX(l_orderkey) AS k
       |       FROM lineitem, mx, (VALUES $octiles) AS t(i)
       |       WHERE l_orderkey <= CAST(FLOOR(i * m / 8.0) AS BIGINT)
       |       GROUP BY i)
       |SELECT l_orderkey, COUNT(*) AS n_items,
       |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
       |FROM lineitem JOIN ks ON l_orderkey = ks.k
       |WHERE l_shipdate BETWEEN TIMESTAMP '$CsLo' AND TIMESTAMP '$CsHi'
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---------------------------------------------------------------
  // q208_stats_access_path — executed CBO #4: ACCESS-PATH selection,
  // the classic optimizer decision, made from the stats table alone.
  // A 5.5-year window intersects ~85% of the layout's envelopes;
  // driver-pruning a file list that keeps nearly everything buys
  // little and pays fresh per-file opens — the reader therefore
  // COST-MODELS the paths from METADATA (one aggregate over the
  // O(files) stats rows: candidate rows + OpenCostRows per fresh
  // open vs the catalog scan's total) and prunes exactly when the
  // rows skipped outweigh the candidate-file count × open cost
  // (ZoneMaps.selectAccessPath — round 13's fixed 0.5 fraction
  // threshold, replaced by an ESTIMATE: unlike a fraction cut, the
  // cost model is scale-aware — the same 85% match flips to pruned
  // once files carry 10× the rows, because the absolute savings then
  // dominate the fixed open charge). q194 is the narrow-window side
  // of the same decision; q208 is the optimizer DECLINING its own
  // index when the numbers say so. Rows are identical on either path
  // (the exact predicate re-applies; the flat-scan oracle certifies
  // it), and StatsPlanSpec pins the flips — including doctored stats
  // moving the choice with the rows pinned still.
  // ---------------------------------------------------------------
  final val WideLo = "1995-06-01"
  final val WideHi = "2000-12-31"

  /** The access-path decision + read: ("flat" | "envelope", frame). */
  private[graft] def accessPathRead(spark: SparkSession, t: String, st: String,
                                    lo: String, hi: String): (String, DataFrame) =
    ZoneMaps.selectAccessPath(spark, t, st,
      Seq(("l_shipdate", s"$lo 00:00:00", s"$hi 00:00:00")), Nil)

  private def windowRevenue(spark: SparkSession, df: DataFrame,
                            lo: String, hi: String): DataFrame =
    df.where(col("l_shipdate").between(
        lit(lo).cast("timestamp"), lit(hi).cast("timestamp")))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6).as("revenue"))
      .orderBy(col("l_returnflag"))

  def q208(spark: SparkSession, dir: String): DataFrame = {
    val (t, st) = ensureShipdateZoned(spark, dir)
    val (_, df) = accessPathRead(spark, t, st, WideLo, WideHi)
    windowRevenue(spark, df, WideLo, WideHi)
  }

  val q208Sql: String =
    s"""SELECT l_returnflag, COUNT(*) AS n_items,
       |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
       |FROM lineitem
       |WHERE l_shipdate BETWEEN TIMESTAMP '$WideLo' AND TIMESTAMP '$WideHi'
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q212_cost_access_path — the selector's FULL choice set on a
  // point-set-in-window predicate: flat catalog scan, envelope-pruned
  // (the clustered column's min/max), Bloom-pruned (the scattered
  // key's per-file filters), or compound (both dimensions
  // intersected) — picked by the SAME metadata cost estimate
  // (ZoneMaps.selectAccessPath over the one skipstats table). q202
  // always takes the compound path; q212 is the optimizer CHOOSING
  // it — because for this predicate the intersection's candidate
  // rows + opens genuinely price lowest — and sharing q202's oracle
  // verbatim, so the choice is certified answer-neutral.
  // StatsPlanSpec doctors the stats four ways (saturated Blooms,
  // domain-wide envelopes, both, neither) and pins that the selector
  // lands on each path with identical rows throughout.
  // ---------------------------------------------------------------
  def q212(spark: SparkSession, dir: String): DataFrame = {
    val (t, st) = ensureBloomZoned(spark, dir)
    val ks = probeOrderkeys(spark, dir)
    val hashes = ks.map(k => graft.functions.TextKernels.hash60StrCol(
      lit(k).cast("string")) % graft.functions.TextFns.P)
    val (_, df) = ZoneMaps.selectAccessPath(spark, t, st,
      Seq(("l_shipdate", s"$CsLo 00:00:00", s"$CsHi 00:00:00")), hashes)
    val (lo, hi) = (lit(CsLo).cast("timestamp"), lit(CsHi).cast("timestamp"))
    df.where(col("l_orderkey").isin(ks: _*) &&
        col("l_shipdate").between(lo, hi))
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_items"),
        dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_orderkey"))
  }

  // ---------------------------------------------------------------
  // q214_adaptive_relayout — executed CBO #5, MAINTENANCE edition:
  // the skipping layer re-layouts ITSELF when its own stats say the
  // clustering has decayed. The layout lives in a generation log
  // (io/GenZoned.scala over io/GenLog.scala): the base commits
  // month-clustered files (tight envelopes), append waves land as
  // unsorted wave files (full-domain envelopes — ingestion never
  // re-sorts, q199's economics), and every commit records its files'
  // envelopes in the commit itself. The clustering metric — the
  // row-weighted mean envelope width over live files / domain —
  // tolerates the first wave (~0.08) and crosses WidthBound=0.1 at
  // the second, which triggers GenLog.recluster (q209's
  // partition-evolution mechanism pointed at q199's layout): one new
  // month-clustered generation, history keeps its files, the rewrite
  // commit carries tight envelopes, and the 3-month window's matched
  // fraction recovers to ~4%. Base + waves = the full corpus, so q214
  // shares q194's oracle verbatim — re-layout timing can change COST
  // only, never answers (GenZonedSpec pins the full degrade →
  // tolerate → trigger → recover cycle with the answer asserted at
  // every stage). This is Delta OPTIMIZE / Iceberg rewrite_data_files
  // driven by the table's own statistics instead of a cron — at
  // 100 TB the difference between rewriting on schedule and
  // rewriting when the numbers pay for it.
  //
  // q223_partial_relayout — q214's trigger with LIQUID-CLUSTERING
  // economics: when the metric crosses the bound, only the DECAYED
  // files rewrite (the wave files, whose own envelopes exceed the
  // bound) through GenLog.replaceFiles — the month-clustered base is
  // untouched byte-identically (GenZonedSpec and MaintainedLayoutSpec
  // pin the file paths surviving the re-layout), the rewrite is a
  // dataChange=false generation (incremental consumers already have
  // those rows), and skipping recovers exactly as q214's full rewrite
  // does. At 100 TB this is OPTIMIZE FULL vs incremental clustering:
  // rewrite cost ∝ decayed data, never the table. Same corpus, same
  // window — q194's oracle verbatim.
  //
  // q228_zoned2d_relayout — q214's maintenance loop in TWO
  // dimensions (io/GenZoned.scala over two tracked columns): the
  // layout clusters (l_partkey, l_suppkey) into aligned Morton blocks
  // (q86's curve as storage, q195's point as policy), append waves
  // land unsorted with full-domain envelopes in BOTH keys, and the
  // 2-D quality metric — row-weighted max(width_p, width_s)/domain —
  // tolerates one wave and crosses WidthBound2 at the second, firing
  // a Z-ORDER recluster through the log. The reader prunes the
  // 2-D box on BOTH columns' envelopes simultaneously — what no
  // single-key sort can serve (a partkey-sorted layout keeps the
  // full supplier domain in every file) — and re-applies the exact
  // predicate, so the maintained layout answers q195's oracle
  // verbatim at every maintenance stage (GenZonedSpec pins the 2-D
  // degrade → tolerate → trigger → recover cycle). At 100 TB this is
  // liquid clustering on two dimensions: the table measures its own
  // 2-D skipping decay and rewrites when the numbers pay for it.
  //
  // q229_zoned2d_partial — q228's trigger with LIQUID-CLUSTERING
  // economics in two dimensions: when the 2-D metric crosses the
  // bound, ONLY the decayed files (the waves — full-domain in both
  // keys) rewrite into aligned Morton blocks through
  // GenLog.replaceFiles; the z-blocked base survives byte-identically
  // (GenZonedSpec pins the surviving paths), the commit is
  // dataChange=false, and the 2-D box prunes on both recovered
  // envelopes. Rewrite cost ∝ decayed data, never the table — the
  // q223-vs-q214 distinction, now on the layout a single sort key
  // cannot serve. Same corpus, same box — q195's oracle verbatim.
  // ---------------------------------------------------------------
  private[graft] def monthKey: Column =
    date_format(date_trunc("month", col("l_shipdate")), "yyyy-MM")

  private[graft] def adaptiveSlice(spark: SparkSession, dir: String,
                                   filter: String): DataFrame =
    Tables.lineitem(spark, dir).where(expr(filter))
      .select(col("l_orderkey"), col("l_shipdate"), col("l_returnflag"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"))

  private[graft] def zoned2Slice(spark: SparkSession, dir: String,
                                 filter: String): DataFrame =
    Tables.lineitem(spark, dir).where(expr(filter))
      .select(col("l_partkey"), col("l_suppkey"), col("l_returnflag"),
        col("l_quantity"))

  /** One maintained lineitem layout: the table-name prefix, the name
    * of its re-layout generations (`<relayout>1`, `<relayout>2`), the
    * slice its base and waves come from, the tracked columns, and
    * full or partial maintenance. v2 tables keep per-file stats IN the
    * log's commit objects; the old-format tables and their stats
    * siblings are in Warehouse.SupersededFixtures.
    */
  private[graft] final case class Maintained(
      prefix: String, relayout: String,
      slice: (SparkSession, String, String) => DataFrame,
      tracked: Seq[String], partial: Boolean)

  private[graft] val AdaptiveZoned = Maintained("graft_li_genzone_v2_",
    "relayout", adaptiveSlice, Seq("l_shipdate"), partial = false)
  private[graft] val PartialZoned = Maintained("graft_li_genzonep_v2_",
    "prl", adaptiveSlice, Seq("l_shipdate"), partial = true)
  private[graft] val Zoned2 = Maintained("graft_li_genzone2_v2_",
    "zrl", zoned2Slice, Seq("l_partkey", "l_suppkey"), partial = false)
  private[graft] val Zoned2Partial = Maintained("graft_li_genzone2p_v2_",
    "zprl", zoned2Slice, Seq("l_partkey", "l_suppkey"), partial = true)

  private[graft] def ensureMaintained(spark: SparkSession, dir: String,
                                      m: Maintained): String =
    graft.io.Warehouse.ensureDir(spark,
      s"${m.prefix}${java.lang.Integer.toHexString(dir.hashCode)}",
      s"$dir/lineitem.parquet")(buildMaintained(spark, dir, m, _))

  /** Build `m` at `loc`: a clustered base (7/8 of the rows), then two
    * unsorted append waves (1/16 each), each followed by the
    * quality-triggered re-layout. One column clusters by month; two
    * cluster into aligned z-blocks over the base's maxima (one
    * aggregate job the month key does not need), then over the live
    * maxima at re-layout.
    */
  private[graft] def buildMaintained(spark: SparkSession, dir: String,
                                     m: Maintained, loc: String): Unit = {
    val pc = GenZoned.partColOf(m.tracked)
    val key: Seq[Long] => Column =
      if (m.tracked.size == 1) _ => monthKey else GenZoned.blockKey(m.tracked, _)
    GenLog.configureStats(spark, loc, m.tracked)
    val base = m.slice(spark, dir, "l_orderkey % 8 != 0")
    val baseMaxes =
      if (m.tracked.size == 1) Nil
      else {
        val r = base.agg(max(col(m.tracked.head)),
          m.tracked.tail.map(c => max(col(c))): _*).head()
        m.tracked.indices.map(r.getLong)
      }
    GenLog.appendBatch(spark, loc, "base",
      base.withColumn(pc, key(baseMaxes)), Seq(pc))
    Seq(1 -> "l_orderkey % 16 = 0", 2 -> "l_orderkey % 16 = 8")
      .foreach { case (w, f) =>
        GenLog.appendBatch(spark, loc, s"wave$w",
          m.slice(spark, dir, f).withColumn(pc, lit(s"wave$w")), Seq(pc))
        val gen = s"${m.relayout}$w"
        if (m.partial) GenZoned.maybeReclusterPartial(spark, loc, gen, m.tracked, key)
        else GenZoned.maybeRecluster(spark, loc, gen, m.tracked, key)
        ()
      }
  }

  private[graft] def micros(day: String): Long =
    java.time.Instant.parse(s"${day}T00:00:00Z").toEpochMilli * 1000L

  /** The shared q214/q223 body: pruned read of the 3-month window
    * over a generation-logged month-zoned layout, exact predicate
    * re-applied, revenue rollup. ONE definition so the partial
    * re-layout (q223) can never drift from the oracle it shares with
    * the full rewrite (q214).
    */
  private def genZonedWindowAgg(spark: SparkSession, loc: String): DataFrame =
    windowRevenue(spark, GenZoned.prunedRead(spark, loc,
      Seq(("l_shipdate", micros(ShipLo), micros(ShipHi)))), ShipLo, ShipHi)

  def q214(spark: SparkSession, dir: String): DataFrame =
    genZonedWindowAgg(spark, ensureMaintained(spark, dir, AdaptiveZoned))

  def q223(spark: SparkSession, dir: String): DataFrame =
    genZonedWindowAgg(spark, ensureMaintained(spark, dir, PartialZoned))

  /** The shared q228/q229 body: box bounds derive from the layout's
    * own stats (max of per-file maxes == the global max — O(files)
    * metadata), the 2-D pruned read, the exact predicate re-applied.
    * ONE definition so the partial variant can never drift from the
    * oracle it shares with the full rewrite.
    */
  private def zoned2BoxAgg(spark: SparkSession, loc: String): DataFrame = {
    val Seq(pmax, smax) = GenZoned.liveMaxes(spark, loc, Zoned2.tracked)
    val (pLo, pHi, sLo, sHi) = zBox(pmax, smax)
    GenZoned.prunedRead(spark, loc,
        Seq(("l_partkey", pLo, pHi), ("l_suppkey", sLo, sHi)))
      .where(col("l_partkey").between(lit(pLo), lit(pHi)) &&
        col("l_suppkey").between(lit(sLo), lit(sHi)))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_returnflag"))
  }

  def q228(spark: SparkSession, dir: String): DataFrame =
    zoned2BoxAgg(spark, ensureMaintained(spark, dir, Zoned2))

  def q229(spark: SparkSession, dir: String): DataFrame =
    zoned2BoxAgg(spark, ensureMaintained(spark, dir, Zoned2Partial))

  // ---------------------------------------------------------------
  // q236_bloom_logged — q201's POINT-lookup Bloom skipping, on a
  // GENERATION-LOGGED table with the Blooms carried IN the commit
  // objects (GenLog.configureStats bloomCol): the layout is
  // month-clustered by shipdate, so l_orderkey is scattered — every
  // file's orderkey envelope spans ~the whole domain and min/max
  // stats keep everything; the per-file 8192-bit Bloom recorded at
  // COMMIT TIME keeps only the files that may contain the key, and
  // because it travels with the commit there is no stats table to
  // lag, rebuild, or crash out of sync (the q201 layer's last
  // non-transactional piece, gone). The probe key derives from the
  // data (largest orderkey ≤ 3/8 of max — the q201 discipline), the
  // pruned read re-applies the exact equality, and the flat-scan
  // oracle (q201Sql verbatim) certifies skipping never changes the
  // answer; GenLogSpec pins the strict-minority pruning and the
  // inputFiles == bloom-matched set fact.
  // ---------------------------------------------------------------
  private[graft] def ensureBloomLogged(spark: SparkSession, dir: String): String = {
    val tbl = s"graft_li_genbloom_${java.lang.Integer.toHexString(dir.hashCode)}"
    graft.io.Warehouse.ensureDir(spark, tbl, s"$dir/lineitem.parquet") { loc =>
      GenLog.configureStats(spark, loc, Seq("l_shipdate"),
        bloomCol = Some("l_orderkey"))
      GenLog.appendBatch(spark, loc, "base",
        Tables.lineitem(spark, dir)
          .select(col("l_orderkey"), col("l_shipdate"), col("l_quantity"))
          .withColumn(GenZoned.PartCol, monthKey),
        Seq(GenZoned.PartCol))
    }
  }

  def q236(spark: SparkSession, dir: String): DataFrame = {
    val loc = ensureBloomLogged(spark, dir)
    val li = Tables.lineitem(spark, dir)
    val mx = li.agg(max(col("l_orderkey"))).head().getLong(0)
    val k = li.where(col("l_orderkey") <= lit(3L * mx / 8))
      .agg(max(col("l_orderkey"))).head().getLong(0)
    // the DRIVER-side twin of the build's hash60StrCol(cast string)
    val kh = graft.functions.TextKernels.hash60(
      k.toString.getBytes("UTF-8")) % graft.functions.TextFns.P
    GenLog.readBloomPruned(spark, loc, kh)
      .where(col("l_orderkey") === lit(k))
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_items"),
        dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_orderkey"))
  }

  def declared: Seq[Query] = Seq(
    Query("q86_zorder_layout", q86, q86Sql),
    Query("q194_zonemap_pruned", q194, q194Sql),
    Query("q195_zonemap_zorder", q195, q195Sql),
    // base + wave = the full corpus: the maintained skipping layer
    // must produce q194's exact answer
    Query("q199_zonemap_incremental", q199, q194Sql),
    Query("q201_bloom_skipping", q201, q201Sql),
    Query("q202_compound_skipping", q202, q202Sql),
    Query("q208_stats_access_path", q208, q208Sql),
    // q212 shares q202's oracle: access-path choice is answer-neutral
    Query("q212_cost_access_path", q212, q202Sql),
    // q214: base + waves + re-layout = the full corpus; re-layout
    // timing changes cost, never answers — q194's oracle verbatim
    Query("q214_adaptive_relayout", q214, q194Sql),
    // q223: the partial re-layout answers identically
    Query("q223_partial_relayout", q223, q194Sql),
    // q228: base + waves + z-order re-layout = the full corpus; the
    // maintained 2-D layout answers the 2-D box — q195's oracle
    // verbatim
    Query("q228_zoned2d_relayout", q228, q195Sql),
    // q229: the 2-D partial re-layout answers identically
    Query("q229_zoned2d_partial", q229, q195Sql),
    // q236: Bloom pruning on the logged table is answer-neutral —
    // q201's flat-scan oracle verbatim
    Query("q236_bloom_logged", q236, q201Sql))
}
