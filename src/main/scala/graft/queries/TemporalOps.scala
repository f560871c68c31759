package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables

/** Temporal-state relational patterns: slowly-changing-dimension
  * interval building (gaps-and-islands run-length grouping),
  * cumulative-unique growth curves, and last-touch attribution.
  * These are the warehouse-ETL shapes the reference's analytics jobs
  * stop short of but any production deployment of them needs.
  *
  * Scale: every query shuffles once on its entity key (custkey /
  * user_id) and runs its windows on that same exchange; the only
  * unpartitioned window (q141's cumulative sum) operates on a frame
  * already rolled up to O(distinct days) rows.
  */
object TemporalOps {

  // ---------------------------------------------------------------
  // q140_scd2_intervals — build a type-2 slowly-changing dimension
  // from an ordered change log: per customer, consecutive runs of
  // equal o_orderpriority collapse into validity intervals
  // [valid_from, valid_to) with a version number and an is_current
  // flag. The island id is the classic run-length trick: a change
  // flag from lag(), then a running sum numbers the runs.
  //
  // Scale shape: one exchange on o_custkey serves both windows AND
  // the island aggregate AND the valid_to lead — Catalyst reuses the
  // partitioning, so the whole SCD2 build is a single shuffle over
  // the change log. Ties broken by o_orderkey for cross-engine
  // determinism.
  // ---------------------------------------------------------------
  def q140(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val flagged = Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
        col("o_orderpriority"))
      .withColumn("prev", lag(col("o_orderpriority"), 1).over(w))
      .withColumn("chg",
        when(col("prev").isNull || col("prev") =!= col("o_orderpriority"), 1)
          .otherwise(0))
      .withColumn("version", sum(col("chg")).over(run))
    val islands = flagged
      .groupBy(col("o_custkey"), col("version"), col("o_orderpriority"))
      .agg(min(col("o_orderdate")).as("valid_from"),
        count(lit(1)).as("n_orders"))
    val byCust = Window.partitionBy(col("o_custkey")).orderBy(col("version"))
    islands
      .withColumn("valid_to", lead(col("valid_from"), 1).over(byCust))
      .withColumn("is_current", col("valid_to").isNull)
      .select(col("o_custkey"), col("version"),
        col("o_orderpriority").as("priority"), col("valid_from"),
        col("valid_to"), col("n_orders"), col("is_current"))
      .orderBy(col("o_custkey"), col("version"))
  }

  val q140Sql: String =
    """WITH flagged AS (
      |  SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority,
      |    CASE WHEN LAG(o_orderpriority, 1) OVER w IS NULL
      |           OR LAG(o_orderpriority, 1) OVER w <> o_orderpriority
      |         THEN 1 ELSE 0 END AS chg
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_custkey
      |               ORDER BY o_orderdate, o_orderkey)),
      |runs AS (
      |  SELECT o_custkey, o_orderdate, o_orderpriority,
      |    CAST(SUM(chg) OVER (PARTITION BY o_custkey
      |      ORDER BY o_orderdate, o_orderkey
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS version
      |  FROM flagged),
      |islands AS (
      |  SELECT o_custkey, version, o_orderpriority,
      |    MIN(o_orderdate) AS valid_from, COUNT(*) AS n_orders
      |  FROM runs GROUP BY 1, 2, 3)
      |SELECT o_custkey, version, o_orderpriority AS priority, valid_from,
      |  LEAD(valid_from, 1) OVER (PARTITION BY o_custkey ORDER BY version)
      |    AS valid_to,
      |  n_orders,
      |  LEAD(valid_from, 1) OVER (PARTITION BY o_custkey ORDER BY version)
      |    IS NULL AS is_current
      |FROM islands
      |ORDER BY o_custkey, version""".stripMargin

  // ---------------------------------------------------------------
  // q141_cumulative_uniques — the growth curve: per day, events,
  // distinct active users, first-time users, and the running total
  // of users ever seen. Running COUNT(DISTINCT) is inexpressible as
  // a plain window — the standard rewrite attributes each user to
  // their FIRST day (one aggregate), then a running SUM over the
  // per-day new-user counts equals the cumulative distinct count.
  //
  // Scale shape: two combinable aggregates (by user, by day) do all
  // corpus-sized work; the unpartitioned running-sum window touches
  // only the O(days) rollup, so the single-partition window is a
  // non-issue at any corpus size.
  // ---------------------------------------------------------------
  def q141(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
    val daily = d.groupBy(col("day"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("daily_active"))
    val newByDay = d.groupBy(col("user_id"))
      .agg(min(col("day")).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("new_users"))
    val cum = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.join(newByDay, Seq("day"), "left")
      .na.fill(0L, Seq("new_users"))
      .withColumn("cum_users", sum(col("new_users")).over(cum))
      .select(col("day"), col("n_events"), col("daily_active"),
        col("new_users"), col("cum_users"))
      .orderBy(col("day"))
  }

  val q141Sql: String =
    """WITH d AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day FROM events),
      |daily AS (
      |  SELECT day, COUNT(*) AS n_events,
      |    COUNT(DISTINCT user_id) AS daily_active
      |  FROM d GROUP BY day),
      |firstday AS (
      |  SELECT user_id, MIN(day) AS day FROM d GROUP BY user_id),
      |newbyday AS (
      |  SELECT day, COUNT(*) AS new_users FROM firstday GROUP BY day)
      |SELECT daily.day, n_events, daily_active,
      |  COALESCE(new_users, 0) AS new_users,
      |  CAST(SUM(COALESCE(new_users, 0)) OVER (ORDER BY daily.day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS cum_users
      |FROM daily LEFT JOIN newbyday ON daily.day = newbyday.day
      |ORDER BY daily.day""".stripMargin

  // ---------------------------------------------------------------
  // q142_last_touch_attribution — revenue attribution: each purchase
  // is credited to the user's most recent PRIOR click's channel
  // (derived from the click's JSON payload), or 'direct' when no
  // click precedes it. The carry-forward is last(..., ignoreNulls)
  // over a rows-frame ending 1 PRECEDING — the purchase row itself
  // (whose channel is null) can never self-attribute.
  //
  // Scale shape: one exchange on user_id; the window, the filter,
  // and nothing else touch corpus-sized data — the final rollup is
  // O(channels). Sums are exact decimals so the attribution table
  // hashes identically cross-engine.
  // ---------------------------------------------------------------
  def q142(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // fanOut on the WINDOW key: the JSON channel parse ran as ONE
    // task over the single-file scan (profiled 0.24 s serial); the
    // explicit user_id repartition replaces the window's own exchange
    // (same exchange count) while pinning cores-many partitions.
    Tables.fanOut(Tables.events(spark, dir), col("user_id"))
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("value"),
        when(col("event_type") === "click",
          concat(lit("ch"),
            pmod(get_json_object(col("props"), "$.k").cast("long"), lit(3))))
          .as("chan"))
      .withColumn("attr", last(col("chan"), ignoreNulls = true).over(w))
      .where(col("event_type") === "purchase")
      .select(coalesce(col("attr"), lit("direct")).as("channel"),
        col("value"))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("value").cast("decimal(18,6)")).cast("double")
          .as("attributed_value"))
      .orderBy(col("channel"))
  }

  val q142Sql: String =
    """WITH tagged AS (
      |  SELECT user_id, ts, event_id, event_type, value,
      |    CASE WHEN event_type = 'click'
      |         THEN 'ch' || (json_extract_string(props, '$.k')::BIGINT % 3)
      |         END AS chan
      |  FROM events),
      |attributed AS (
      |  SELECT event_type, value,
      |    LAST_VALUE(chan IGNORE NULLS) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS attr
      |  FROM tagged)
      |SELECT COALESCE(attr, 'direct') AS channel,
      |  COUNT(*) AS n_purchases,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
      |    AS attributed_value
      |FROM attributed
      |WHERE event_type = 'purchase'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q144_trailing_window — trailing-7-day rolling metrics per event
  // type: a RANGE frame over the integer day number (not a ROWS
  // frame — days with no events must still age out of the trail,
  // which row counting cannot express). Events roll up to daily
  // grain FIRST, so the window operates on O(days × types) rows and
  // the frame sums pre-aggregated exact decimals — associativity
  // makes the two-level sum bit-identical to DuckDB's.
  //
  // Scale shape: the corpus-sized work is one combinable daily
  // rollup; the range window touches only the rollup. This is the
  // trailing-metrics dashboard shape (7-day actives, rolling
  // revenue) at any volume.
  // ---------------------------------------------------------------
  def q144(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).as("sv"))
      .withColumn("dnum", unix_date(col("day")))
    val trail = Window.partitionBy(col("event_type")).orderBy(col("dnum"))
      .rangeBetween(-6, Window.currentRow)
    daily
      .withColumn("n_7d", sum(col("n_events")).over(trail))
      .withColumn("value_7d", sum(col("sv")).over(trail).cast("double"))
      .select(col("day"), col("event_type"), col("n_events"),
        col("n_7d"), col("value_7d"))
      .orderBy(col("day"), col("event_type"))
  }

  val q144Sql: String =
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS day, event_type,
      |    COUNT(*) AS n_events,
      |    SUM(CAST(value AS DECIMAL(18,6))) AS sv,
      |    (CAST(ts AS DATE) - DATE '1970-01-01') AS dnum
      |  FROM events GROUP BY 1, 2, 5)
      |SELECT day, event_type, n_events,
      |  CAST(SUM(n_events) OVER w AS BIGINT) AS n_7d,
      |  CAST(SUM(sv) OVER w AS DOUBLE) AS value_7d
      |FROM daily
      |WINDOW w AS (PARTITION BY event_type ORDER BY dnum
      |             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
      |ORDER BY day, event_type""".stripMargin

  def declared: Seq[Query] = Seq(
    Query("q144_trailing_window", q144, q144Sql),
    Query("q140_scd2_intervals", q140, q140Sql),
    Query("q141_cumulative_uniques", q141, q141Sql),
    Query("q142_last_touch_attribution", q142, q142Sql))
}
