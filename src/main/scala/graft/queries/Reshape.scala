package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Shape-changing relational surface: pivot, unpivot (melt), explicit
  * grouping sets, and the shift family of window functions
  * (lag/lead/ntile). These complete the reporting layer the reference
  * builds by hand in pandas after collect (cases_time_analysis.py's
  * per-country wide frames) — here they stay distributed.
  *
  * Scale shapes (the reason each is safe at 100 TB):
  *   - pivot with explicit values = a (group, value)-keyed
  *     pre-aggregate feeding a pivotfirst aggregate; both exchanges
  *     carry O(groups × values), never O(rows). (An implicit-values
  *     pivot would add a distinct-scan job first — always pass the
  *     value list at scale.)
  *   - unpivot = a generator (Expand) emitting one row per measure —
  *     pure map side, no shuffle, no state.
  *   - grouping sets = Expand × |sets| feeding ONE shuffle keyed by
  *     (gid, keys) — n rollup levels cost one pass, not n scans.
  *   - lag/lead/ntile: the feeding aggregate exchanges O(groups);
  *     all three window specs are pinned to the same user_id
  *     partitioning so Catalyst plans one Window chain over a single
  *     shared exchange — adding a window function never adds a
  *     shuffle.
  */
object Reshape {

  /** Deterministic money-sum: decimal partial/final merge is exact
    * (associative), cast back to double only at the end — the same
    * dsum discipline as Relational (double partial sums would make
    * the result depend on partition merge order).
    */
  private def dsum(c: Column, scale: Int = 2): Column =
    graft.functions.ScaledSum.scaledDsum(c, scale)

  private def dsumSql(e: String, scale: Int = 2): String =
    s"CAST(SUM(CAST($e AS DECIMAL(18,$scale))) AS DOUBLE)"

  // ---------------------------------------------------------------
  // q78_pivot — long→wide: per user cohort, one (count, value-sum)
  // column pair per event type. Values passed EXPLICITLY so the plan
  // is a single aggregate (no distinct pre-scan) and the output
  // schema is static — both required at scale.
  // ---------------------------------------------------------------
  private final val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  def q78(spark: SparkSession, dir: String): DataFrame = {
    val wide = Tables.events(spark, dir)
      .withColumn("cohort", col("user_id") % 4)
      .groupBy(col("cohort"))
      .pivot("event_type", EventTypes)
      .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("val"))
    // a (cohort, type) cell with no rows is NULL from pivotfirst but 0
    // from SQL's COUNT FILTER — pin the count cells to 0 (the sum
    // cells stay NULL in both engines)
    wide.select(col("cohort") +: EventTypes.flatMap { t =>
      Seq(coalesce(col(s"${t}_cnt"), lit(0L)).as(s"${t}_cnt"),
        col(s"${t}_val"))
    }: _*)
      .orderBy(col("cohort"))
  }

  val q78Sql: String = {
    val cells = EventTypes.map { t =>
      s"  COUNT(*) FILTER (event_type = '$t') AS ${t}_cnt,\n" +
        s"  CAST(SUM(CAST(value AS DECIMAL(18,2))) FILTER (event_type = '$t') AS DOUBLE) AS ${t}_val"
    }.mkString(",\n")
    s"""SELECT user_id % 4 AS cohort,
       |$cells
       |FROM events GROUP BY 1 ORDER BY cohort""".stripMargin
  }

  // ---------------------------------------------------------------
  // q79_unpivot — wide→long melt of a per-flag measure frame into
  // (l_returnflag, measure, val) triples via the built-in unpivot
  // generator (Expand: map-side, zero shuffle beyond the feeding agg).
  // ---------------------------------------------------------------
  def q79(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_price"),
        dsum(col("l_discount")).as("sum_disc"))
      .unpivot(
        Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price"), col("sum_disc")),
        "measure", "val")
      .orderBy(col("l_returnflag"), col("measure"))

  val q79Sql: String =
    s"""WITH wide AS (
       |  SELECT l_returnflag,
       |    ${dsumSql("l_quantity")} AS sum_qty,
       |    ${dsumSql("l_extendedprice")} AS sum_price,
       |    ${dsumSql("l_discount")} AS sum_disc
       |  FROM lineitem GROUP BY 1)
       |SELECT l_returnflag, measure, val FROM (
       |  SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS val FROM wide
       |  UNION ALL
       |  SELECT l_returnflag, 'sum_price', sum_price FROM wide
       |  UNION ALL
       |  SELECT l_returnflag, 'sum_disc', sum_disc FROM wide)
       |ORDER BY l_returnflag, measure""".stripMargin

  // ---------------------------------------------------------------
  // q80_grouping_sets — explicit grouping sets (the generalization
  // of q15 rollup / q16 cube): detail, per-flag, and grand-total
  // levels in ONE pass, disambiguated by grouping_id. Expand
  // replicates each input row once per set BEFORE the shuffle, so
  // n levels cost one scan + one exchange.
  // ---------------------------------------------------------------
  def q80(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag")),
          Seq.empty[Column]),
        col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().cast("int").as("gid"),
        dsum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n"))
      .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))

  val q80Sql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  CAST(GROUPING_ID(l_returnflag, l_linestatus) AS INT) AS gid,
       |  ${dsumSql("l_quantity")} AS sum_qty, COUNT(*) AS n
       |FROM lineitem
       |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
       |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------
  // q81_window_shift — lag / lead / ntile over per-user daily value
  // series: day-over-day delta, next-day preview, and in-user
  // quartile. All three specs partition by user_id, so the plan is
  // one exchange + one sort feeding a single Window chain.
  // ---------------------------------------------------------------
  def q81(spark: SparkSession, dir: String): DataFrame = {
    val byDay = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val byVal = Window.partitionBy(col("user_id"))
      .orderBy(col("daily"), col("day"))
    Tables.events(spark, dir)
      .where(col("user_id") < 8)
      .groupBy(col("user_id"),
        date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(dsum(col("value")).as("daily"))
      .select(col("user_id"), col("day"), col("daily"),
        (col("daily") - lag(col("daily"), 1).over(byDay)).as("delta"),
        lead(col("daily"), 1).over(byDay).as("nxt"),
        ntile(4).over(byVal).as("quartile"))
      .orderBy(col("user_id"), col("day"))
  }

  val q81Sql: String =
    s"""WITH daily AS (
       |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
       |    ${dsumSql("value")} AS daily
       |  FROM events WHERE user_id < 8 GROUP BY 1, 2)
       |SELECT user_id, day, daily,
       |  daily - lag(daily) OVER w AS delta,
       |  lead(daily) OVER w AS nxt,
       |  CAST(ntile(4) OVER (PARTITION BY user_id ORDER BY daily, day) AS INT) AS quartile
       |FROM daily WINDOW w AS (PARTITION BY user_id ORDER BY day)
       |ORDER BY user_id, day""".stripMargin

  def declared: Seq[Query] = Seq(
    Query("q78_pivot", q78, q78Sql),
    Query("q79_unpivot", q79, q79Sql),
    Query("q80_grouping_sets", q80, q80Sql),
    Query("q81_window_shift", q81, q81Sql))
}
