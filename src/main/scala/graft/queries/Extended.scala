package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, MapType, StringType}
import graft.functions.TextFns.{rnd, rndSql}
import graft.sources.Tables

/** Extended Catalyst-capability queries (SURVEY.md §4.2's "unused by
  * reference parity but exercised by the test corpus" families):
  * correlated-subquery decorrelation, map-typed JSON, sliding
  * windows.
  */
object Extended {

  // ---------------------------------------------------------------
  // q53_correlated_subquery — orders above their customer's average:
  // a correlated scalar subquery through the SQL surface. Catalyst
  // decorrelates it into an aggregate + join (no per-row subquery
  // execution) — the property that makes it runnable at scale.
  // ---------------------------------------------------------------
  def q53(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("orders_v")
    spark.sql(
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders_v o
        |WHERE o_totalprice > 2 * (
        |  SELECT AVG(o_totalprice) FROM orders_v i
        |  WHERE i.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin)
  }

  val q53Sql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders o
      |WHERE o_totalprice > 2 * (
      |  SELECT AVG(o_totalprice) FROM orders i
      |  WHERE i.o_custkey = o.o_custkey)
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------
  // q54_map_functions — props parsed into a typed map column, then
  // map_keys / element access / map aggregation. from_json with an
  // explicit MapType — no schema inference pass over the corpus.
  // ---------------------------------------------------------------
  def q54(spark: SparkSession, dir: String): DataFrame =
    // fanOut: the per-row JSON parse ran as ONE task over the
    // single-file scan (profiled 0.42 s serial); max/count are
    // order-free.
    Tables.fanOut(Tables.events(spark, dir), col("event_id"))
      .select(col("event_type"),
        from_json(col("props"), MapType(StringType, IntegerType)).as("m"))
      .select(col("event_type"),
        element_at(col("m"), "k").as("k"),
        size(map_keys(col("m"))).as("n_keys"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), max(col("k")).as("max_k"),
        max(col("n_keys")).as("max_keys"))
      .orderBy(col("event_type"))

  val q54Sql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  MAX(json_extract_string(props, '$.k')::INT) AS max_k,
      |  MAX(len(json_keys(props))) AS max_keys
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------
  // q55_sliding_windows — 2h windows sliding by 1h: every event lands
  // in exactly two windows. The batch twin of
  // window(ts, '2 hours', '1 hour'); the oracle unnests the two
  // aligned window starts per event.
  // ---------------------------------------------------------------
  def q55(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n"), col("sum_value"))
      .orderBy(col("w_start"), col("event_type"))

  val q55Sql: String =
    """SELECT w_start, event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM (SELECT event_type, value,
      |        unnest([date_trunc('hour', ts) - INTERVAL 1 HOUR,
      |                date_trunc('hour', ts)])::TIMESTAMP AS w_start
      |      FROM events)
      |GROUP BY w_start, event_type ORDER BY w_start, event_type""".stripMargin

  // ---------------------------------------------------------------
  // q56_tf_embedding — text→embedding generation (hashing-trick TF,
  // L2-normalized) via a native one-pass kernel: the bridge from raw
  // documents into the ANN/near-dup pipeline (embed → dedup). Pure
  // map work at scan parallelism; the embedding column then flows
  // into the q35-q37 operators unchanged. The declared projection
  // serializes the vector as '_'-joined 4-dp fixed-point longs
  // (float→string formatting differs across engines; fixed-point
  // longs are exact, and raw arrays crash the driver's pandas
  // harness). The array-valued kernel stays the pipeline currency.
  // ---------------------------------------------------------------
  def q56(spark: SparkSession, dir: String): DataFrame = {
    val emb = graft.functions.TextKernels.tfEmbeddingCol(col("text"))
    val fixed = transform(emb,
      x => floor(x.cast("double") * 10000 + 0.5).cast("long"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .transform(d => Tables.fanOut(d, col("doc_id")))
      .select(col("doc_id"),
        array_join(fixed.cast("array<string>"), "_").as("embedding"),
        size(filter(emb, x => x > 0)).as("nnz"))
      .orderBy(col("doc_id"))
  }

  val q56Sql: String = {
    val emb = graft.functions.TextKernels.tfEmbeddingSql("string_split(text, ' ')")
    val fixed = s"list_transform($emb, " +
      "x -> CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT))"
    s"""SELECT doc_id, array_to_string($fixed, '_') AS embedding,
       |  len(list_filter($emb, x -> x > 0)) AS nnz
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // q64_stratified_sample — deterministic per-stratum sampling for
  // class rebalancing (the training-data curation step: downsample
  // the dominant language, keep the tail): keep a doc iff
  // hash60(doc_id) mod 100 < rate(lang). Hash-threshold sampling is
  // the distributed form of sampleBy that is (a) reproducible across
  // runs/engines with no RNG state, (b) pure map work at scan
  // parallelism, and (c) consistent under re-partitioning — the
  // properties a 100 TB curation pass needs. One partial+final
  // aggregate computes kept/total per stratum.
  // ---------------------------------------------------------------
  final val EnSampleRate = 30L
  final val TailSampleRate = 80L

  def q64(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFns.hash60
    val rate = when(col("lang") === "en", lit(EnSampleRate))
      .otherwise(lit(TailSampleRate))
    val keep = graft.functions.TextKernels.hash60LongCol(col("doc_id")) % 100 < rate
    Tables.documents(spark, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(keep, 1L).otherwise(0L)).as("n_sampled"))
      .withColumn("rate_pct", rate)
      .orderBy(col("lang"))
  }

  val q64Sql: String = {
    import graft.functions.TextFns.hash60Sql
    val rate = s"CASE WHEN lang = 'en' THEN $EnSampleRate ELSE $TailSampleRate END"
    s"""SELECT lang, COUNT(*) AS n_total,
       |  CAST(SUM(CASE WHEN ${hash60Sql("CAST(doc_id AS VARCHAR)")} % 100 < $rate
       |           THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
       |  CAST($rate AS BIGINT) AS rate_pct
       |FROM documents GROUP BY lang ORDER BY lang""".stripMargin
  }

  // ---------------------------------------------------------------
  // q83_topk_heap — exact per-group top-k WITHOUT a sort: the
  // bounded-heap aggregate (functions/TopKAgg) keeps each group's k
  // best (price, orderkey, linenumber) triples through partial+final
  // hash aggregation, so the exchange carries O(groups × k) and no
  // group is ever sorted — the scale path where q17's window-rank
  // (sort per group) stops fitting. posexplode turns the best-first
  // array back into ranked rows.
  // ---------------------------------------------------------------
  final val TopK = 3

  def q83(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(graft.functions.TopKAgg.topK(
        col("l_extendedprice"), col("l_orderkey"),
        col("l_linenumber").cast("long"), TopK).as("top"))
      .select(col("l_returnflag"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("l_returnflag"),
        (col("pos") + 1).cast("int").as("rank"),
        col("t.id1").as("l_orderkey"),
        col("t.id2").cast("int").as("l_linenumber"),
        col("t.score").as("price"))
      .orderBy(col("l_returnflag"), col("rank"))

  val q83Sql: String =
    s"""SELECT l_returnflag, CAST(rk AS INT) AS rank, l_orderkey,
       |  l_linenumber, l_extendedprice AS price
       |FROM (
       |  SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
       |    ROW_NUMBER() OVER (PARTITION BY l_returnflag
       |      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rk
       |  FROM lineitem)
       |WHERE rk <= $TopK ORDER BY l_returnflag, rank""".stripMargin

  // ---------------------------------------------------------------
  // q154_full_outer_reconcile — the two-sided COVERAGE RECONCILIATION
  // report, the canonical FULL OUTER JOIN use (the one outer shape
  // the corpus didn't yet declare): per-nation customer presence vs
  // supplier presence, null sides zero-filled and classified. At
  // sf0.001 suppliers cover 10 of the 25 customer nations, so both
  // one-sided classes are genuinely exercised.
  //
  // Scale shape: two partial+final aggregates shrink each fact to
  // per-key rows BEFORE the join (never full-outer raw facts — an
  // unmatched-row explosion at 100 TB); the full outer then shuffles
  // only the aggregates on the shared key, and the nation dim
  // broadcasts for names.
  // ---------------------------------------------------------------
  def q154(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
      .groupBy(col("c_nationkey").as("nk"))
      .agg(count(lit(1)).as("n_cust"))
    val s = Tables.supplier(spark, dir)
      .groupBy(col("s_nationkey").as("snk"))
      .agg(count(lit(1)).as("n_supp"))
    c.join(s, col("nk") === col("snk"), "full_outer")
      .select(coalesce(col("nk"), col("snk")).as("nationkey"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
      .join(broadcast(Tables.nation(spark, dir)
        .select(col("n_nationkey").as("nationkey"), col("n_name"))),
        Seq("nationkey"))
      .select(col("n_name"), col("n_cust"), col("n_supp"),
        when(col("n_cust") > 0 && col("n_supp") > 0, "both")
          .when(col("n_cust") > 0, "customers_only")
          .otherwise("suppliers_only").as("presence"))
      .orderBy(col("n_name"))
  }

  val q154Sql: String =
    """WITH c AS (
      |  SELECT c_nationkey AS nk, COUNT(*) AS n_cust
      |  FROM customer GROUP BY 1),
      |s AS (
      |  SELECT s_nationkey AS snk, COUNT(*) AS n_supp
      |  FROM supplier GROUP BY 1)
      |SELECT n.n_name,
      |  COALESCE(c.n_cust, 0)::BIGINT AS n_cust,
      |  COALESCE(s.n_supp, 0)::BIGINT AS n_supp,
      |  CASE WHEN COALESCE(c.n_cust, 0) > 0 AND COALESCE(s.n_supp, 0) > 0
      |         THEN 'both'
      |       WHEN COALESCE(c.n_cust, 0) > 0 THEN 'customers_only'
      |       ELSE 'suppliers_only' END AS presence
      |FROM c FULL OUTER JOIN s ON c.nk = s.snk
      |JOIN nation n ON n.n_nationkey = COALESCE(c.nk, s.snk)
      |ORDER BY n.n_name""".stripMargin

  def declared: Seq[Query] = Seq(
    Query("q154_full_outer_reconcile", q154, q154Sql),
    Query("q53_correlated_subquery", q53, q53Sql),
    Query("q54_map_functions", q54, q54Sql),
    Query("q55_sliding_windows", q55, q55Sql),
    Query("q56_tf_embedding", q56, q56Sql),
    Query("q64_stratified_sample", q64, q64Sql),
    Query("q83_topk_heap", q83, q83Sql))
}
