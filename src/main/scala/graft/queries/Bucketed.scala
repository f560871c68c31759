package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Bucketed co-located join through the declared inventory: both join
  * sides are pre-shuffled ONCE into the same bucket layout
  * (bucketBy(orderkey) + sortBy), after which every orderkey join is
  * a zero-exchange sort-merge — the strategy for repeatedly-joined
  * 100 TB fact tables, where paying one layout write amortizes over
  * every downstream query. BucketingSpec pins the no-Exchange plan;
  * the driver oracle pins the values.
  */
object Bucketed {

  final val NumBuckets = 8

  /** Bucketed copies of orders/lineitem for `dir` as EXTERNAL tables
    * in the warehouse — table names are dir-keyed so different scale
    * factors don't collide. The layout is a WAREHOUSE-KEYED ONE-TIME
    * ARTIFACT, not session state: the files carry a fingerprint of
    * their source parquet, and a fresh JVM whose catalog has never
    * seen the table re-REGISTERS the surviving files (one DDL, no
    * rewrite) instead of paying the layout shuffle again. That
    * cross-session reuse is the bucketing economics the whole
    * operator exists for — charging the layout write to every session
    * (the pre-round-7 behavior) inverts it. A source-corpus
    * regeneration changes the fingerprint and forces the rewrite, so
    * a stale layout can never serve a new corpus generation (the
    * round-5 events-encoding lesson, applied to derived data).
    */
  def ensureBucketed(spark: SparkSession, dir: String): (String, String) = {
    val tag = java.lang.Integer.toHexString(dir.hashCode)
    val li = s"graft_li_bkt_$tag"
    val ord = s"graft_ord_bkt_$tag"
    graft.io.Warehouse.ensureBucketedTable(spark, li,
      s"$dir/lineitem.parquet", "l_orderkey", NumBuckets)(
      Tables.lineitem(spark, dir).select("l_orderkey", "l_extendedprice"))
    graft.io.Warehouse.ensureBucketedTable(spark, ord,
      s"$dir/orders.parquet", "o_orderkey", NumBuckets)(
      Tables.orders(spark, dir).select("o_orderkey", "o_orderpriority"))
    (li, ord)
  }

  /** The co-located join itself (pre-aggregation) — the fragment
    * BucketingSpec plan-asserts has no Exchange on either side.
    */
  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val (li, ord) = ensureBucketed(spark, dir)
    spark.table(ord).join(spark.table(li),
      col("o_orderkey") === col("l_orderkey"))
  }

  // ---------------------------------------------------------------
  // q57_bucketed_join — revenue per order priority through the
  // zero-exchange orders⋈lineitem. The only shuffle in the whole
  // query is the final small groupBy on o_orderpriority (5 keys);
  // the fact-fact join itself moves no rows.
  // ---------------------------------------------------------------
  def q57(spark: SparkSession, dir: String): DataFrame =
    bucketedJoin(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
          .as("sum_price"))
      .orderBy(col("o_orderpriority"))

  val q57Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Day-partitioned events layout (`…/day=2024-01-07/…`) as a
    * warehouse-keyed external table — the scan-pruning complement of
    * the bucketed join layout above, with the same fingerprint +
    * re-register economics. One file per day: the build repartitions
    * on the partition column so a 30-day corpus writes 30 files, not
    * 30 × shuffle-partitions small files (the classic partitioned-
    * write mistake that melts the namenode at scale).
    */
  def ensurePartitionedEvents(spark: SparkSession, dir: String): String = {
    val t = s"graft_ev_day_${java.lang.Integer.toHexString(dir.hashCode)}"
    graft.io.Warehouse.ensurePartitionedTable(spark, t,
      s"$dir/events.parquet", "day")(
      Tables.events(spark, dir)
        .withColumn("day", to_date(col("ts")))
        .repartition(col("day")))
    t
  }

  // ---------------------------------------------------------------
  // q146_partition_pruned — one week's rollup read through the day-
  // partitioned layout: the BETWEEN lands in PartitionFilters, so
  // the scan opens 7 of 30 partition directories and row groups of
  // other days are never touched (BucketingSpec asserts both the
  // filter and the pruned partition count). The oracle computes the
  // same week from the flat events file — identical results prove
  // partitioning is pure layout, like q57 proves it for bucketing.
  // ---------------------------------------------------------------
  final val WeekLo = "2024-01-08"
  final val WeekHi = "2024-01-14"

  def q146(spark: SparkSession, dir: String): DataFrame = {
    val t = ensurePartitionedEvents(spark, dir)
    spark.table(t)
      .where(col("day").between(
        lit(WeekLo).cast("date"), lit(WeekHi).cast("date")))
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .orderBy(col("day"), col("event_type"))
  }

  val q146Sql: String =
    s"""SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n_events,
       |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
       |FROM events
       |WHERE CAST(ts AS DATE) BETWEEN DATE '$WeekLo' AND DATE '$WeekHi'
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  def declared: Seq[Query] = Seq(
    Query("q57_bucketed_join", q57, q57Sql),
    Query("q146_partition_pruned", q146, q146Sql))
}
