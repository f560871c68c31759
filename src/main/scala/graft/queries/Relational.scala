package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables

/** Relational operator inventory over the star-schema corpus — one
  * query per SURVEY.md §2 operator family, each with a DuckDB-runnable
  * oracle (SparkEntry.oracleSql).
  *
  * Float-parity discipline: monetary aggregates are summed as
  * DECIMAL (exact, order-independent — a double sum would differ in
  * final ULPs between Spark's partial-agg tree and DuckDB's sequential
  * sum) and cast back to DOUBLE only at the end; the double<->decimal
  * conversions are deterministic and identical across engines. The
  * same shape is used in both the Spark plan and the oracle SQL.
  * Every query carries a total ORDER BY on a unique key so row order
  * is deterministic in both engines.
  *
  * Scale notes are per-query in the Scaladoc: every aggregate is
  * partial+final (map-side combine), every dim join is broadcast,
  * filters/projections sit directly on the scan for pushdown.
  */
object Relational {

  /** sum(x) exactly, emitted as double — the escalated scaled-long
    * fast path (functions/ScaledSum.scala), value-identical to
    * `SUM(CAST(x AS DECIMAL(18,s)))` but without the per-row
    * BigDecimal tax (q01: 1.65 s → 0.68 s at sf0.1).
    */
  private def dsum(c: Column, scale: Int = 2): Column =
    graft.functions.ScaledSum.scaledDsum(c, scale)

  // ---------------------------------------------------------------
  // q01_pricing_summary — §2.6 A1 (groupBy + multi-sum), §2.4 F1
  // (scan-pushed predicate), §2.8 O1. TPC-H Q1 shape.
  // Scale: one shuffle on a 6-value key; partial agg collapses ~all
  // rows map-side, the exchange carries O(groups) rows.
  // ---------------------------------------------------------------
  def q01(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("2001-09-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6).as("sum_disc_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")), 6).as("sum_charge"),
        (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        (dsum(col("l_extendedprice")) / count(lit(1))).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  val q01Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2001-09-01'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------
  // q02_group_count — §2.6 A2 (groupBy.count), mirrors the clinical
  // job's result-distribution count (cases_clinical_spectrum_analysis
  // .py:238). Map-side combine; exchange carries 5 rows.
  // ---------------------------------------------------------------
  def q02(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("o_orderpriority"))

  val q02Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS n
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------
  // q03_multi_agg — §2.6 A3 (multi-agg with aliases), mirrors
  // groupBy('result').agg(max('age'), avg('age'))
  // (cases_clinical_spectrum_analysis.py:119).
  // ---------------------------------------------------------------
  def q03(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .groupBy(col("c_mktsegment"))
      .agg(
        max(col("c_acctbal")).as("max_bal"),
        min(col("c_acctbal")).as("min_bal"),
        (dsum(col("c_acctbal")) / count(lit(1))).as("avg_bal"),
        count(lit(1)).as("n"))
      .orderBy(col("c_mktsegment"))

  val q03Sql: String =
    """SELECT c_mktsegment, MAX(c_acctbal) AS max_bal, MIN(c_acctbal) AS min_bal,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_bal,
      |  COUNT(*) AS n
      |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------
  // q04_missing_profile — §2.6 A4: programmatic per-column null
  // profile, mirrors the clinical job's missing-value scan
  // (cases_clinical_spectrum_analysis.py:220-225). One row out;
  // fully map-side partial counts.
  // ---------------------------------------------------------------
  private val q04Cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority")

  def q04(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(q04Cols.map(c => count(when(col(c).isNull, lit(1))).as(s"null_$c")): _*)

  val q04Sql: String =
    q04Cols.map(c => s"COUNT(CASE WHEN $c IS NULL THEN 1 END) AS null_$c")
      .mkString("SELECT ", ", ", " FROM orders")

  // ---------------------------------------------------------------
  // q05_filter_project — §2.4 F1/F2 + §2.3 P1/P4: scan-pushed
  // conjunctive predicate + IN-list + derived column, mirrors the
  // country filters (cases_time_analysis.py:129-164). Narrow
  // ReadSchema: only 6 of 11 lineitem columns leave the scan.
  // ---------------------------------------------------------------
  def q05(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_returnflag").isin("A", "R") &&
        col("l_quantity") >= 45 && col("l_discount") > 0.05)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("l_quantity"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("net_price"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  val q05Sql: String =
    """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
      |  l_extendedprice * (1 - l_discount) AS net_price
      |FROM lineitem
      |WHERE l_returnflag IN ('A','R') AND l_quantity >= 45 AND l_discount > 0.05
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---------------------------------------------------------------
  // q06_topk_resort — §2.8 O3: top-k by desc then re-sort asc,
  // mirrors the mortality-rate top-10 (cases_time_analysis.py:187-189).
  // Catalyst plans TakeOrderedAndProject: no global sort, each
  // partition keeps k rows, driver merges k*partitions.
  // ---------------------------------------------------------------
  def q06(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      .limit(10)
      .orderBy(col("c_acctbal").asc, col("c_custkey").asc)

  val q06Sql: String =
    """SELECT * FROM (
      |  SELECT c_custkey, c_name, c_acctbal FROM customer
      |  ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 10
      |) ORDER BY c_acctbal ASC, c_custkey ASC""".stripMargin

  // ---------------------------------------------------------------
  // q07_window_latest — §2.7 W1 + §2.4 F4: the reference's
  // "latest row per partition" idiom (cases_time_analysis.py:158-161):
  // max(date) over (partition by key), keep rows where date == max.
  // One shuffle on the partition key; no sort needed (frame = full
  // partition for max without orderBy).
  // ---------------------------------------------------------------
  def q07(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
    Tables.orders(spark, dir)
      .withColumn("max_date", max(col("o_orderdate")).over(w))
      .where(col("o_orderdate") === col("max_date"))
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  val q07Sql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
      |FROM (SELECT *, MAX(o_orderdate) OVER (PARTITION BY o_custkey) AS max_date FROM orders)
      |WHERE o_orderdate = max_date
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // ---------------------------------------------------------------
  // q08_ordered_collect — §2.7 W2 + §2.6 A5: ordered running
  // collect_list then max = full ordered sequence, the abstract-
  // reassembly idiom (research_challenge_analysis.py:94-99), joined
  // to a string for a hashable oracle (string_agg ORDER BY).
  // Scale note: the window shuffle and the groupBy reuse the same
  // hash partitioning on user_id — Catalyst plans ONE exchange.
  // ---------------------------------------------------------------
  def q08(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    // fanOut on the WINDOW key: the running collect_list materializes
    // O(events-per-user²) array cells, and the window's own exchange
    // was being size-coalesced to ~1 task (profiled 0.83 s of serial
    // stage time). An explicit hash repartition on user_id satisfies
    // the window's required distribution (still ONE exchange — it
    // replaces the planner's) but pins cores-many partitions, which
    // AQE leaves alone for user-specified repartitions.
    Tables.fanOut(Tables.events(spark, dir), col("user_id"))
      .select(col("user_id"), col("event_id"), col("event_type"))
      .withColumn("running", collect_list(col("event_type")).over(w))
      .groupBy(col("user_id"))
      .agg(max(col("running")).as("seq_arr"), count(lit(1)).as("n_events"))
      .select(col("user_id"), array_join(col("seq_arr"), " ").as("event_seq"), col("n_events"))
      .orderBy(col("user_id"))
  }

  val q08Sql: String =
    """SELECT user_id, STRING_AGG(event_type, ' ' ORDER BY event_id) AS event_seq,
      |  COUNT(*) AS n_events
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------
  // q09_union — §2.9 U1: positional union (bag semantics) of two
  // entity frames, mirrors the class-frame unions
  // (radiography_analysis.py:92-96). No shuffle until the sort.
  // ---------------------------------------------------------------
  def q09(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey").as("entity_key"), col("c_name").as("entity_name"),
        lit("customer").as("role"))
    val s = Tables.supplier(spark, dir)
      .select(col("s_suppkey").as("entity_key"), col("s_name").as("entity_name"),
        lit("supplier").as("role"))
    c.union(s).orderBy(col("role"), col("entity_key"))
  }

  val q09Sql: String =
    """SELECT c_custkey AS entity_key, c_name AS entity_name, 'customer' AS role FROM customer
      |UNION ALL
      |SELECT s_suppkey, s_name, 'supplier' FROM supplier
      |ORDER BY role, entity_key""".stripMargin

  // ---------------------------------------------------------------
  // q10_dedup_exact — §2.6 A6: full-row dropDuplicates
  // (cases_time_analysis.py:222). Planned as a hash aggregate on all
  // columns — map-side combine keeps the exchange tiny.
  // ---------------------------------------------------------------
  def q10(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_linestatus"))
      .dropDuplicates()
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  val q10Sql: String =
    """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------
  // q11_join_revenue — §2.5 joins (driver corpus): TPC-H Q3 shape.
  // customer (15k rows/SF) is broadcast — no shuffle of the fact
  // side for that join; orders⋈lineitem shuffles on orderkey. Top-10
  // via TakeOrderedAndProject.
  // ---------------------------------------------------------------
  def q11(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
  }

  val q11Sql: String =
    """SELECT l_orderkey, o_orderdate,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1999-01-01'
      |GROUP BY l_orderkey, o_orderdate
      |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin

  // ---------------------------------------------------------------
  // q12_join_semi — left-semi (EXISTS). The filtered lineitem side
  // is aggregated to distinct keys inside the semi-join — no
  // duplication of the probe side.
  // ---------------------------------------------------------------
  def q12(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .filter(col("l_quantity") >= 49)
      .select(col("l_orderkey"))
    Tables.orders(spark, dir)
      .join(big, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  val q12Sql: String =
    """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------
  // q13_join_anti — left-anti (NOT EXISTS): customers with no orders.
  // Customer side stays un-shuffled when orders' keys broadcast
  // post-aggregation under AQE.
  // ---------------------------------------------------------------
  def q13(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderstatus") === "P")
      .select(col("o_custkey"))
    Tables.customer(spark, dir)
      .join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  val q13Sql: String =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------
  // q14_outer_join — left outer with null-aware aggregation:
  // per-nation customer stats keeping empty nations. Dim side is
  // tiny: Catalyst broadcast-right after the customer pre-agg.
  // ---------------------------------------------------------------
  def q14(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("cust_cnt"), dsum(col("c_acctbal")).as("bal_sum"))
    Tables.nation(spark, dir)
      .join(cust, col("n_nationkey") === col("c_nationkey"), "left")
      .select(col("n_nationkey"), col("n_name"),
        coalesce(col("cust_cnt"), lit(0L)).as("n_customers"),
        coalesce(col("bal_sum"), lit(0.0)).as("total_bal"))
      .orderBy(col("n_nationkey"))
  }

  val q14Sql: String =
    """SELECT n_nationkey, n_name,
      |  COALESCE(cust_cnt, 0) AS n_customers,
      |  COALESCE(bal_sum, CAST(0.0 AS DOUBLE)) AS total_bal
      |FROM nation LEFT JOIN (
      |  SELECT c_nationkey, COUNT(*) AS cust_cnt,
      |    CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal_sum
      |  FROM customer GROUP BY c_nationkey
      |) ON n_nationkey = c_nationkey
      |ORDER BY n_nationkey""".stripMargin

  // ---------------------------------------------------------------
  // q15_rollup — §2.6 gap noted in SURVEY (grouping sets family):
  // ROLLUP over (returnflag, linestatus). NULLS FIRST pinned on both
  // sides (Spark's ASC default) so the subtotal rows order the same.
  // ---------------------------------------------------------------
  def q15(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  val q15Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------
  // q16_cube — CUBE over two independent dims.
  // ---------------------------------------------------------------
  def q16(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)

  val q16Sql: String =
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------
  // q17_rank_windows — §2.7 gap: ranking + offset window family
  // (row_number / rank / dense_rank / lead / lag) with a unique
  // tiebreak so output is deterministic. Single shuffle+sort per
  // partition spec (all five share one spec).
  // ---------------------------------------------------------------
  def q17(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    Tables.orders(spark, dir)
      .filter(col("o_custkey") <= 50)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      .withColumn("rn", row_number().over(w))
      .withColumn("rk", rank().over(w))
      .withColumn("drk", dense_rank().over(w))
      .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
      .withColumn("next_price", lead(col("o_totalprice"), 1).over(w))
      .orderBy(col("o_custkey"), col("rn"))
  }

  val q17Sql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
      |  CAST(ROW_NUMBER() OVER w AS INT) AS rn,
      |  CAST(RANK() OVER w AS INT) AS rk,
      |  CAST(DENSE_RANK() OVER w AS INT) AS drk,
      |  LAG(o_totalprice, 1) OVER w AS prev_price,
      |  LEAD(o_totalprice, 1) OVER w AS next_price
      |FROM orders WHERE o_custkey <= 50
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
      |ORDER BY o_custkey, rn""".stripMargin

  // ---------------------------------------------------------------
  // q18_running_sum — explicit rowsBetween frame: running revenue
  // per supplier, plus a full-partition share. Two frames over one
  // partition spec — still a single exchange.
  // ---------------------------------------------------------------
  def q18(spark: SparkSession, dir: String): DataFrame = {
    val ws = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate").asc, col("l_orderkey").asc, col("l_linenumber").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.lineitem(spark, dir)
      .filter(col("l_suppkey") <= 3)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_shipdate"), col("l_quantity"))
      .withColumn("running_qty",
        sum(col("l_quantity").cast("decimal(18,2)")).over(ws).cast("double"))
      .orderBy(col("l_suppkey"), col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
  }

  val q18Sql: String =
    """SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate, l_quantity,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
      |    PARTITION BY l_suppkey
      |    ORDER BY l_shipdate ASC, l_orderkey ASC, l_linenumber ASC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty
      |FROM lineitem WHERE l_suppkey <= 3
      |ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber""".stripMargin

  // ---------------------------------------------------------------
  // q19_distinct_agg — exact distinct aggregation (expand + two-phase
  // agg in Catalyst).
  // ---------------------------------------------------------------
  def q19(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus"))
      .agg(
        countDistinct(col("o_custkey")).as("n_custs"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderstatus"))

  val q19Sql: String =
    """SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_custs, COUNT(*) AS n_orders
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // ---------------------------------------------------------------
  // q20_pct_of_total — §2.6 A3's embedded-total idiom
  // (radiography_analysis.py:107-112) done scalably: the total comes
  // from an unpartitioned window over the 5 aggregated rows, NOT a
  // driver-side count() action embedded in the expression.
  // ---------------------------------------------------------------
  def q20(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("pct",
        col("n").cast("double") / sum(col("n")).over(Window.partitionBy()) * 100)
      .orderBy(col("event_type"))

  val q20Sql: String =
    """SELECT event_type, n, CAST(n AS DOUBLE) / SUM(n) OVER () * 100 AS pct
      |FROM (SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type)
      |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------
  // q21_date_buckets — date_trunc bucketing (the time-series family
  // of cases_time_analysis re-expressed on real timestamps).
  // ---------------------------------------------------------------
  def q21(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(date_trunc("month", col("o_orderdate")).as("order_month"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("order_month"))

  val q21Sql: String =
    """SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY 1 ORDER BY order_month""".stripMargin

  // ---------------------------------------------------------------
  // q22_case_when — §2.10 C9 + §2.11 D1-D3: the reference's
  // branch-UDFs re-expressed as when/otherwise expressions (no UDF:
  // stays inside whole-stage codegen).
  // ---------------------------------------------------------------
  def q22(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        when(col("event_type") === "purchase", lit(1)).otherwise(lit(0)).as("is_purchase"),
        when(col("event_type") === "error", lit("bad"))
          .when(col("value") > 150, lit("big"))
          .otherwise(lit("ok")).as("kind"))
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n"), sum(col("is_purchase")).as("purchases"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("kind"))

  val q22Sql: String =
    """SELECT kind, COUNT(*) AS n, CAST(SUM(is_purchase) AS BIGINT) AS purchases,
      |  COUNT(DISTINCT user_id) AS n_users
      |FROM (SELECT user_id,
      |        CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_purchase,
      |        CASE WHEN event_type = 'error' THEN 'bad'
      |             WHEN value > 150 THEN 'big'
      |             ELSE 'ok' END AS kind
      |      FROM events)
      |GROUP BY kind ORDER BY kind""".stripMargin

  // ---------------------------------------------------------------
  // q23_dedup_keyed — §2.6 A6 keyed dedup made deterministic: the
  // reference's dropDuplicates(['label']) picks an arbitrary row
  // (radiography_analysis.py:119); at scale (and for the oracle) the
  // row_number()==1 form pins WHICH row survives.
  // ---------------------------------------------------------------
  def q23(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id").desc)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .drop("rn")
      .orderBy(col("user_id"))
  }

  val q23Sql: String =
    """SELECT user_id, event_id, event_type, value
      |FROM (SELECT user_id, event_id, event_type, value,
      |        ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
      |      FROM events)
      |WHERE rn = 1 ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------
  // q24_multi_join_dims — star join through two dims with broadcast:
  // revenue by region (TPC-H Q5 flavor). Both dims broadcast; the
  // only shuffle is the final 5-row aggregate.
  // ---------------------------------------------------------------
  def q24(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    val dims = n.join(r, col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("r_name"))
    Tables.customer(spark, dir)
      .join(broadcast(dims), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_customers"), dsum(col("c_acctbal")).as("sum_bal"))
      .orderBy(col("r_name"))
  }

  val q24Sql: String =
    """SELECT r_name, COUNT(*) AS n_customers,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name ORDER BY r_name""".stripMargin

  // ---------------------------------------------------------------
  // q25_intersect_except — §2.9 gap: INTERSECT / EXCEPT (set
  // semantics). Customers having both 'O' and 'F' orders minus those
  // with any 'P' order.
  // ---------------------------------------------------------------
  def q25(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val k = (st: String) => o.filter(col("o_orderstatus") === st).select(col("o_custkey"))
    k("O").intersect(k("F")).except(k("P"))
      .orderBy(col("o_custkey"))
  }

  val q25Sql: String =
    """(SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      | INTERSECT
      | SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
      |EXCEPT
      |SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
      |ORDER BY o_custkey""".stripMargin

  def declared: Seq[Query] = Seq(
    Query("q01_pricing_summary", q01, q01Sql),
    Query("q02_group_count", q02, q02Sql),
    Query("q03_multi_agg", q03, q03Sql),
    Query("q04_missing_profile", q04, q04Sql),
    Query("q05_filter_project", q05, q05Sql),
    Query("q06_topk_resort", q06, q06Sql),
    Query("q07_window_latest", q07, q07Sql),
    Query("q08_ordered_collect", q08, q08Sql),
    Query("q09_union", q09, q09Sql),
    Query("q10_dedup_exact", q10, q10Sql),
    Query("q11_join_revenue", q11, q11Sql),
    Query("q12_join_semi", q12, q12Sql),
    Query("q13_join_anti", q13, q13Sql),
    Query("q14_outer_join", q14, q14Sql),
    Query("q15_rollup", q15, q15Sql),
    Query("q16_cube", q16, q16Sql),
    Query("q17_rank_windows", q17, q17Sql),
    Query("q18_running_sum", q18, q18Sql),
    Query("q19_distinct_agg", q19, q19Sql),
    Query("q20_pct_of_total", q20, q20Sql),
    Query("q21_date_buckets", q21, q21Sql),
    Query("q22_case_when", q22, q22Sql),
    Query("q23_dedup_keyed", q23, q23Sql),
    Query("q24_multi_join_dims", q24, q24Sql),
    Query("q25_intersect_except", q25, q25Sql))
}
