package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Skew-mitigation operators: the two classic salting shapes a
  * 1000-executor job needs when a handful of keys hold most rows and
  * AQE's runtime skew handling is unavailable (first-shuffle
  * aggregation) or insufficient (a dim too big to broadcast joined on
  * a power-law key).
  *
  * `events.event_type` is the corpus's heavy-hitter key by
  * construction: 5 distinct values over the whole fact table, so a
  * plain one-level shuffle would land ~20% of the corpus on single
  * reducers. Both queries here produce results IDENTICAL to their
  * unsalted equivalents — the DuckDB oracles are the plain forms, so
  * the gate certifies that salting is a pure physical rewrite.
  */
object SkewQueries {

  /** Salt fan-out. 16 subkeys per hot key caps any reducer at ~1/16th
    * of a hot key's rows; at real scale this is sized to
    * rows(hot_key) / target_partition_rows.
    */
  final val SaltBuckets = 16

  // ---------------------------------------------------------------
  // q137_salted_agg — salted aggregation WITH an exact distinct
  // count. q49 (operators/SkewOps.saltedCountSum) established the
  // count/sum split; the piece it cannot do — and the reason this is
  // a separate operator — is COUNT(DISTINCT user_id): distinct state
  // does not decompose under an arbitrary salt (the same user would
  // be counted once per bucket). The trick is choosing the salt AS A
  // FUNCTION OF the counted key (salt = user_id % 16): every user
  // lands in exactly one (type, salt) bucket, the per-bucket
  // distinct partials are disjoint, and the level-2 SUM of
  // distinct-counts is exact, not an approximation.
  //
  // Scale shape: the first exchange hashes on (type, salt) — 80
  // uniform subkeys instead of 5 hot ones; the second exchange
  // carries 80 pre-aggregated rows. This is exactly what a plain
  // groupBy(event_type) CANNOT do when one key holds 10 TB: no
  // single reducer ever sees a whole hot key.
  // ---------------------------------------------------------------
  def q137(spark: SparkSession, dir: String): DataFrame = {
    val lvl1 = Tables.events(spark, dir)
      .select(col("event_type"), col("user_id"),
        pmod(col("user_id"), lit(SaltBuckets)).as("salt"),
        col("value").cast("decimal(18,6)").as("v"))
      .groupBy(col("event_type"), col("salt"))
      .agg(count(lit(1)).as("pn"),
        countDistinct(col("user_id")).as("pu"),
        sum(col("v")).as("pv"))
    lvl1.groupBy(col("event_type"))
      .agg(sum(col("pn")).as("n_events"),
        sum(col("pu")).as("n_users"),
        sum(col("pv")).cast("double").as("sum_value"))
      .withColumn("avg_value",
        col("sum_value") / col("n_events").cast("double"))
      .orderBy(col("event_type"))
  }

  val q137Sql: String =
    """SELECT event_type,
      |  COUNT(*) AS n_events,
      |  COUNT(DISTINCT user_id) AS n_users,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_value
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** q138's per-type dim as a local collection (§2.1 S5 shape): at
    * real scale this stands in for a dim that is too large to
    * broadcast yet joined on a power-law key — the situation where
    * salting is the only shuffle-join-safe rewrite.
    */
  private val TypeWeights: Seq[(String, Int)] = Seq(
    "view" -> 1, "click" -> 3, "signup" -> 10, "purchase" -> 25, "error" -> 0)

  // ---------------------------------------------------------------
  // q138_salted_join — skew-safe shuffle join on the heavy-hitter
  // key. The fact side gets salt = event_id % 16; the dim side is
  // REPLICATED once per salt value (dim ×16) so every (key, salt)
  // fact partition finds its dim row locally. The join is forced to
  // a shuffle hash join (the scenario where the dim cannot
  // broadcast); the exchange hashes on (event_type, salt) — 80
  // uniform subkeys — instead of 5 hot keys.
  //
  // The post-join rollup re-aggregates by event_type only, which is
  // safe at one level here because the join already spread the rows
  // (the aggregate's map-side combine sees 16-way-split inputs).
  // Result is provably identical to the unsalted join: the oracle is
  // the plain VALUES-dim join.
  // ---------------------------------------------------------------
  def q138(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val salts = spark.range(SaltBuckets)
      .select(col("id").cast("int").as("salt"))
    val dim = TypeWeights.toDF("event_type", "weight").crossJoin(salts)
    // fanOut on the SALTED join key: at bench scale AQE coalesced the
    // (event_type, salt) exchange back to ~1 task (profiled 0.48 s of
    // serial stage time), un-spreading the very skew the salt exists
    // to spread. The explicit repartition IS the join's required
    // distribution (no extra exchange) and pins cores-many
    // partitions, which AQE leaves alone for user repartitions.
    val fact = Tables.fanOut(
        Tables.events(spark, dir)
          .select(col("event_type"), col("value"),
            pmod(col("event_id"), lit(SaltBuckets)).cast("int").as("salt")),
        col("event_type"), col("salt"))
    fact.hint("shuffle_hash")
      .join(dim, Seq("event_type", "salt"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum((col("weight") * col("value")).cast("decimal(18,6)"))
          .cast("double").as("weighted_value"))
      .orderBy(col("event_type"))
  }

  val q138Sql: String = {
    val dimRows = TypeWeights
      .map { case (t, w) => s"('$t', $w)" }.mkString(", ")
    s"""SELECT e.event_type,
       |  COUNT(*) AS n,
       |  CAST(SUM(CAST(d.weight * e.value AS DECIMAL(18,6))) AS DOUBLE)
       |    AS weighted_value
       |FROM events e
       |JOIN (VALUES $dimRows) AS d(event_type, weight)
       |  ON e.event_type = d.event_type
       |GROUP BY e.event_type
       |ORDER BY e.event_type""".stripMargin
  }

  def declared: Seq[Query] = Seq(
    Query("q137_salted_agg", q137, q137Sql),
    Query("q138_salted_join", q138, q138Sql))
}
