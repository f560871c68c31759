package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.BinKernels
import graft.functions.TextFns.{rnd, rndSql}
import graft.operators.Forecast
import graft.sources.Tables

/** Advanced-operator queries: the typed flatMapGroups forecaster
  * (§2.11 D11) and the fused binary byte-stats expression (§2.11 D4),
  * both with exact DuckDB oracles.
  */
object Advanced {

  final val Horizon = 3
  private final val UsPerDay = 86400000000L

  // ---------------------------------------------------------------
  // q44_forecast_trend — daily order counts per priority → OLS fit +
  // 3-day forecast via the typed flatMapGroups operator. One shuffle
  // to daily counts, one to the 5 forecast keys.
  // ---------------------------------------------------------------
  def q44(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("key"),
        // o_orderdate is TIMESTAMP_NTZ; session TZ is UTC, so the cast
        // to TIMESTAMP is value-preserving and matches epoch_us().
        // DIV (integral), not `/`: micros ≈ 1.7e18 overflows double's
        // exact-integer range, a fractional divide would corrupt days.
        expr(s"unix_micros(cast(o_orderdate AS timestamp)) DIV $UsPerDay")
          .as("t"))
      .agg(count(lit(1)).as("y"))
      .as[Forecast.TrendPoint]
    Forecast.linearForecast(daily, Horizon).toDF()
      .select(col("key").as("o_orderpriority"), col("n_days"),
        rnd(col("slope"), 6).as("slope"),
        rnd(col("intercept"), 4).as("intercept"),
        col("h"), rnd(col("yhat"), 4).as("yhat"))
      .orderBy(col("o_orderpriority"), col("h"))
  }

  val q44Sql: String =
    s"""WITH daily AS (
       |  SELECT o_orderpriority AS key, epoch_us(o_orderdate) // $UsPerDay AS t,
       |         COUNT(*) AS y
       |  FROM orders GROUP BY 1, 2),
       |sums AS (
       |  SELECT key, COUNT(*) AS n, SUM(t) AS st, SUM(y) AS sy,
       |         SUM(t*y) AS sty, SUM(t*t) AS st2, MAX(t) AS tmax
       |  FROM daily GROUP BY key),
       |fit AS (
       |  SELECT key, n, tmax,
       |    (n*sty - st*sy)::DOUBLE / (n*st2 - st*st)::DOUBLE AS slope
       |  FROM sums WHERE n >= 2 AND (n*st2 - st*st) <> 0),
       |fit2 AS (
       |  SELECT f.key, f.n, f.tmax, f.slope,
       |    (s.sy::DOUBLE - f.slope * s.st::DOUBLE) / s.n::DOUBLE AS intercept
       |  FROM fit f JOIN sums s ON f.key = s.key)
       |SELECT key AS o_orderpriority, n AS n_days,
       |  ${rndSql("slope", 6)} AS slope,
       |  ${rndSql("intercept", 4)} AS intercept,
       |  h, ${rndSql("intercept + slope * (tmax + h)::DOUBLE", 4)} AS yhat
       |FROM fit2 CROSS JOIN (SELECT unnest(generate_series(1, $Horizon)) AS h) hs
       |ORDER BY o_orderpriority, h""".stripMargin

  // ---------------------------------------------------------------
  // q93_forecast_seasonal — q44's daily counts through the trend +
  // weekly-seasonality fit (Forecast.seasonalForecast): Prophet's
  // trend+weekly decomposition re-derived as two-stage closed-form
  // least squares, 14-day horizon so the weekly phase repeats once in
  // the output. The oracle replays the identical normal equations
  // (integer sums, pinned double-op order).
  // ---------------------------------------------------------------
  final val SeasonalHorizon = 14

  def q93(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("key"),
        expr(s"unix_micros(cast(o_orderdate AS timestamp)) DIV $UsPerDay")
          .as("t"))
      .agg(count(lit(1)).as("y"))
      .as[Forecast.TrendPoint]
    Forecast.seasonalForecast(daily, SeasonalHorizon).toDF()
      .select(col("key").as("o_orderpriority"), col("n_days"),
        rnd(col("slope"), 6).as("slope"),
        rnd(col("intercept"), 4).as("intercept"),
        col("h"), col("t"), col("dow"),
        rnd(col("seasonal"), 4).as("seasonal"),
        rnd(col("yhat"), 4).as("yhat"))
      .orderBy(col("o_orderpriority"), col("h"))
  }

  val q93Sql: String =
    s"""WITH daily AS (
       |  SELECT o_orderpriority AS key, epoch_us(o_orderdate) // $UsPerDay AS t,
       |         COUNT(*) AS y
       |  FROM orders GROUP BY 1, 2),
       |sums AS (
       |  SELECT key, COUNT(*) AS n, SUM(t) AS st, SUM(y) AS sy,
       |         SUM(t*y) AS sty, SUM(t*t) AS st2, MAX(t) AS tmax
       |  FROM daily GROUP BY key),
       |fit AS (
       |  SELECT key, n, tmax,
       |    (n*sty - st*sy)::DOUBLE / (n*st2 - st*st)::DOUBLE AS slope
       |  FROM sums WHERE n >= 2 AND (n*st2 - st*st) <> 0),
       |fit2 AS (
       |  SELECT f.key, f.n, f.tmax, f.slope,
       |    (s.sy::DOUBLE - f.slope * s.st::DOUBLE) / s.n::DOUBLE AS intercept
       |  FROM fit f JOIN sums s ON f.key = s.key),
       |dsums AS (
       |  SELECT key, ((t % 7) + 7) % 7 AS dow, COUNT(*) AS nd,
       |         SUM(t) AS std, SUM(y) AS syd
       |  FROM daily GROUP BY 1, 2),
       |seas AS (
       |  SELECT f.key, d.dow,
       |    (d.syd::DOUBLE - f.intercept * d.nd::DOUBLE - f.slope * d.std::DOUBLE)
       |      / d.nd::DOUBLE AS s
       |  FROM fit2 f JOIN dsums d ON f.key = d.key),
       |fc AS (
       |  SELECT key, n, slope, intercept, h, tmax + h AS t,
       |         ((tmax + h) % 7 + 7) % 7 AS dow
       |  FROM fit2 CROSS JOIN (SELECT unnest(generate_series(1, $SeasonalHorizon)) AS h) hs)
       |SELECT fc.key AS o_orderpriority, fc.n AS n_days,
       |  ${rndSql("fc.slope", 6)} AS slope,
       |  ${rndSql("fc.intercept", 4)} AS intercept,
       |  fc.h, fc.t, fc.dow,
       |  ${rndSql("COALESCE(seas.s, 0.0)", 4)} AS seasonal,
       |  ${rndSql("fc.intercept + fc.slope * fc.t::DOUBLE + COALESCE(seas.s, 0.0)", 4)} AS yhat
       |FROM fc LEFT JOIN seas ON fc.key = seas.key AND fc.dow = seas.dow
       |ORDER BY o_orderpriority, h""".stripMargin

  // ---------------------------------------------------------------
  // q45_byte_stats — the fused single-pass byte-stats kernel over the
  // utf-8 bytes of each document (ASCII corpus ⇒ DuckDB codepoint
  // twin is exact). Replaces the reference's 4 separate per-row UDF
  // evaluations with one struct-returning native expression.
  // ---------------------------------------------------------------
  def q45(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        BinKernels.byteStatsCol(encode(col("text"), "UTF-8")).as("s"))
      .select(col("doc_id"), col("s.bmin").as("bmin"), col("s.bmax").as("bmax"),
        rnd(col("s.bmean"), 4).as("bmean"), rnd(col("s.bstd"), 4).as("bstd"))
      .orderBy(col("doc_id"))

  val q45Sql: String = {
    val bytes = "list_transform(generate_series(1, length(text)), i -> ord(substr(text, i, 1)))"
    val (mn, mx, mean, std) = BinKernels.byteStatsSql("b")
    s"""SELECT doc_id, $mn AS bmin, $mx AS bmax,
       |  ${rndSql(mean, 4)} AS bmean, ${rndSql(std, 4)} AS bstd
       |FROM (SELECT doc_id, $bytes AS b FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  def declared: Seq[Query] = Seq(
    Query("q44_forecast_trend", q44, q44Sql),
    Query("q45_byte_stats", q45, q45Sql),
    Query("q93_forecast_seasonal", q93, q93Sql))
}
