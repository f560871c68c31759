package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Bin-bucketed range (interval-containment) join.
  *
  * The naive plan for `point BETWEEN start AND end` with no equi-key
  * is a broadcast nested loop — O(|windows| × |points|) comparisons,
  * a scale-killer the moment the window side outgrows a broadcast.
  * The classic fix (used by every interval-join engine): quantize
  * time into fixed-width bins no narrower than the interval width.
  * Each INTERVAL is exploded to the bins it covers (≤ 2 here, since
  * bin width == interval width); each POINT maps to exactly ONE bin.
  * The join becomes an equi-join on bin + a residual containment
  * filter. Because the point side is never replicated, a matching
  * (window, point) pair meets in exactly one bin — no post-join
  * dedup, no blowup. Shuffle keys are uniform time bins, so the
  * exchange is skew-free and sized O(|windows|·2 + |points|), not
  * O(n²).
  *
  * At 100 TB the bin also becomes the storage partition key: windows
  * and points co-partition by bin and the join runs zero-exchange —
  * the same promotion path as the bucketed equi-join (q57).
  */
object RangeJoin {

  /** Window width = bin width, in days. Bins wider than the widest
    * interval keep per-interval replication ≤ 2.
    */
  final val WindowDays = 7

  // ---------------------------------------------------------------
  // q82_range_join_binned — per urgent 1995-Q1 order: how many
  // lineitems (any order) shipped inside [o_orderdate, +7d), and
  // their quantity total. Half-open containment, no equi-key.
  // ---------------------------------------------------------------
  def q82(spark: SparkSession, dir: String): DataFrame = {
    val day = lit(86400)
    val wins = Tables.orders(spark, dir)
      .where(col("o_orderpriority") === "1-URGENT" &&
        col("o_orderdate") >= lit("1995-01-01") &&
        col("o_orderdate") < lit("1995-04-01"))
      .select(col("o_orderkey"),
        unix_timestamp(col("o_orderdate")).as("s"))
      .withColumn("e", col("s") + lit(WindowDays) * day)
      // explode the INTERVAL side to its covered bins (point side
      // stays 1 row → pairs meet exactly once, dedup-free)
      .withColumn("bin", explode(sequence(
        floor(col("s") / (day * WindowDays)),
        floor((col("e") - 1) / (day * WindowDays)))))
    val pts = Tables.lineitem(spark, dir)
      .select(col("l_quantity"),
        unix_timestamp(col("l_shipdate")).as("d"))
      .withColumn("bin", floor(col("d") / (day * WindowDays)))
    wins.join(pts, Seq("bin"))
      .where(col("d") >= col("s") && col("d") < col("e"))
      .groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
      .orderBy(col("o_orderkey"))
  }

  val q82Sql: String =
    s"""WITH w AS (
       |  SELECT o_orderkey, o_orderdate AS s,
       |    o_orderdate + INTERVAL $WindowDays DAY AS e
       |  FROM orders
       |  WHERE o_orderpriority = '1-URGENT'
       |    AND o_orderdate >= '1995-01-01' AND o_orderdate < '1995-04-01')
       |SELECT w.o_orderkey, COUNT(*) AS n_items,
       |  CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
       |FROM w JOIN lineitem l
       |  ON l.l_shipdate >= w.s AND l.l_shipdate < w.e
       |GROUP BY 1 ORDER BY o_orderkey""".stripMargin

  /** The windows and points of q82 WITHOUT manual binning — the naive
    * containment join a user would actually write. The upper bound is
    * a PRE-COMPUTED column, so only the binWidth conf can enable the
    * rewrite for this form (the rule can't see the interval width
    * through the attribute).
    */
  private[graft] def naiveRangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val day = lit(86400)
    val wins = Tables.orders(spark, dir)
      .where(col("o_orderpriority") === "1-URGENT" &&
        col("o_orderdate") >= lit("1995-01-01") &&
        col("o_orderdate") < lit("1995-04-01"))
      .select(col("o_orderkey"),
        unix_timestamp(col("o_orderdate")).as("s"))
      .withColumn("e", col("s") + lit(WindowDays) * day)
    val pts = Tables.lineitem(spark, dir)
      .select(col("l_quantity"),
        unix_timestamp(col("l_shipdate")).as("d"))
    wins.join(pts, col("d") >= col("s") && col("d") < col("e"))
      .groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
      .orderBy(col("o_orderkey"))
  }

  // ---------------------------------------------------------------
  // q88_range_join_auto — identical semantics to q82, but written
  // NAIVELY (`d >= s AND d < s + 7 days`, no equi key) and planned
  // through the RangeJoinRewrite optimizer rule (plans/RangeJoinRule),
  // which reads the interval width off the inline `lo + literal`
  // bound and injects the bin equi-key automatically — no conf, no
  // session mutation. Shares q82's oracle — same contract, different
  // derivation: q82 proves the composition, q88 proves users don't
  // have to know it.
  // ---------------------------------------------------------------
  def q88(spark: SparkSession, dir: String): DataFrame = {
    val wins = Tables.orders(spark, dir)
      .where(col("o_orderpriority") === "1-URGENT" &&
        col("o_orderdate") >= lit("1995-01-01") &&
        col("o_orderdate") < lit("1995-04-01"))
      .select(col("o_orderkey"),
        unix_timestamp(col("o_orderdate")).as("s"))
    val pts = Tables.lineitem(spark, dir)
      .select(col("l_quantity"),
        unix_timestamp(col("l_shipdate")).as("d"))
    wins.join(pts,
        col("d") >= col("s") && col("d") < col("s") + lit(WindowDays * 86400L))
      .groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
      .orderBy(col("o_orderkey"))
  }

  // ---------------------------------------------------------------
  // q92_spatial_join — 2-D containment (points in rectangles): the
  // q82 bin trick lifted to two dimensions. Rectangles (derived
  // deterministically from orders) explode to the ≤ 2×2 grid cells
  // they cover (cell size ≥ rect size per axis); each point maps to
  // exactly ONE cell; the join is an equi-join on (cx, cy) plus the
  // residual containment filter — pairs meet exactly once, no dedup.
  // At 100 TB the cell pair (or its Morton code, q86) is the storage
  // partition key: a spatial probe reads only its covered cells. The
  // naive plan is a nested loop over |rects| × |points|.
  // ---------------------------------------------------------------
  final val CellX = 16
  final val CellY = 4

  def q92(spark: SparkSession, dir: String): DataFrame = {
    val rects = Tables.orders(spark, dir)
      .where(col("o_orderkey") % 100 === 0)
      .select(col("o_orderkey").as("rect_id"),
        (col("o_orderkey") % 180).as("x_lo"),
        (col("o_orderkey") % 180 + (CellX - 1)).as("x_hi"),
        (col("o_custkey") % 6).as("y_lo"),
        (col("o_custkey") % 6 + (CellY - 1)).as("y_hi"))
      // explode the RECTANGLE side to its covered cells
      .withColumn("cx", explode(sequence(
        floor(col("x_lo") / CellX), floor(col("x_hi") / CellX))))
      .withColumn("cy", explode(sequence(
        floor(col("y_lo") / CellY), floor(col("y_hi") / CellY))))
    val pts = Tables.lineitem(spark, dir)
      .select(col("l_partkey").as("px"), col("l_suppkey").as("py"),
        col("l_quantity"))
      .withColumn("cx", floor(col("px") / CellX))
      .withColumn("cy", floor(col("py") / CellY))
    rects.join(pts, Seq("cx", "cy"))
      .where(col("px") >= col("x_lo") && col("px") <= col("x_hi") &&
        col("py") >= col("y_lo") && col("py") <= col("y_hi"))
      .groupBy(col("rect_id"))
      .agg(count(lit(1)).as("n_points"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
      .orderBy(col("rect_id"))
  }

  val q92Sql: String =
    s"""WITH r AS (
       |  SELECT o_orderkey AS rect_id,
       |    o_orderkey % 180 AS x_lo, o_orderkey % 180 + ${CellX - 1} AS x_hi,
       |    o_custkey % 6 AS y_lo, o_custkey % 6 + ${CellY - 1} AS y_hi
       |  FROM orders WHERE o_orderkey % 100 = 0)
       |SELECT r.rect_id, COUNT(*) AS n_points,
       |  CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
       |FROM r JOIN lineitem l
       |  ON l.l_partkey BETWEEN r.x_lo AND r.x_hi
       | AND l.l_suppkey BETWEEN r.y_lo AND r.y_hi
       |GROUP BY 1 ORDER BY rect_id""".stripMargin

  // ---------------------------------------------------------------
  // q99_spatial_join_auto — q92's 2-D containment written NAIVELY
  // (`px >= x_lo AND px < x_lo + 16 AND py >= y_lo AND py < y_lo + 4`,
  // no equi keys, no manual cells) and planned through the
  // multi-dimensional RangeJoinRewrite, which derives both cell
  // widths structurally and injects the (cx, cy) grid equi-keys
  // automatically. Shares q92's oracle — q92 proves the composition,
  // q99 proves users don't have to know it in 2-D either.
  // ---------------------------------------------------------------
  def q99(spark: SparkSession, dir: String): DataFrame = {
    val rects = Tables.orders(spark, dir)
      .where(col("o_orderkey") % 100 === 0)
      .select(col("o_orderkey").as("rect_id"),
        (col("o_orderkey") % 180).as("x_lo"),
        (col("o_custkey") % 6).as("y_lo"))
    val pts = Tables.lineitem(spark, dir)
      .select(col("l_partkey").as("px"), col("l_suppkey").as("py"),
        col("l_quantity"))
    rects.join(pts,
        col("px") >= col("x_lo") && col("px") < col("x_lo") + lit(CellX.toLong) &&
          col("py") >= col("y_lo") && col("py") < col("y_lo") + lit(CellY.toLong))
      .groupBy(col("rect_id"))
      .agg(count(lit(1)).as("n_points"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
      .orderBy(col("rect_id"))
  }

  def declared: Seq[Query] = Seq(
    Query("q82_range_join_binned", q82, q82Sql),
    Query("q88_range_join_auto", q88, q82Sql),
    Query("q92_spatial_join", q92, q92Sql),
    Query("q99_spatial_join_auto", q99, q92Sql))
}
