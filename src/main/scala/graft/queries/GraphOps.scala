package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Iterative graph analytics as declared queries. Companion to the
  * connected-components operators (queries/Dedup q61/q71): where CC
  * labels undirected near-dup graphs, this family ranks directed
  * weighted graphs by power iteration.
  */
object GraphOps {

  // ---------------------------------------------------------------
  // q112_trade_pagerank — weighted PageRank over the nation-level
  // trade graph (customer's nation → supplier's nation, weight =
  // lineitem count), 3 power iterations, damping 0.85.
  //
  // Determinism: the whole iteration runs in FIXED-POINT INTEGER
  // arithmetic. Edge weights are first normalized to parts-per-10^6
  // of their source's out-weight (w_ppm = w*10^6 DIV out_w, so
  // w_ppm <= 10^6 bounds every later product: score*w_ppm <=
  // 10^12 * 10^6 < 2^63 NO MATTER how large the corpus grows — the
  // overflow analysis is volume-independent). Per-edge contribution
  // is score*w_ppm DIV 10^6, damping is *85 DIV 100. Long sums are
  // associative and commutative, so Spark's partial aggregation
  // order cannot change a single bit vs DuckDB's sequential replay —
  // the same trick KMeansCodebook uses to make distributed training
  // oracle-replayable. Doubles would drift ULPs per shuffle order.
  //
  // Scale shape: the edge build is the usual star join (dims
  // broadcast, one shuffle on orderkey); each iteration is one
  // broadcast of the score frame (nodes ≪ edges — 25 nations here, a
  // host list at web scale) against the edge frame plus one dst-keyed
  // combinable aggregate. Iterations are a fixed small count; at a
  // scale where the score frame stops broadcasting, the join flips to
  // a bucketed equi-join on src and per-iteration localCheckpoint
  // truncates lineage (the ConnectedComponents discipline). The
  // single driver-side scalar is the node COUNT (one long — the
  // teleport term's denominator), the same driver-sized-state budget
  // as MLlib.
  // ---------------------------------------------------------------
  final val PrScale = 1000000000000L // 10^12 fixed-point
  final val PrIters = 3

  def q112(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
    val c = Tables.customer(spark, dir).select(col("c_custkey"), col("c_nationkey"))
    val s = Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_nationkey"))
    // the aggregated edge frame is nations² ≤ 625 rows, but its
    // LINEAGE is the full lineitem star join — without a checkpoint
    // every downstream reader (nodes, out-weights, the node count,
    // and EACH power iteration) re-executes that join. One eager
    // materialization makes the corpus-sized work run exactly once;
    // at web scale this is the persisted edge table every iterative
    // graph job starts from.
    val edges = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      .agg(count(lit(1)).as("w"))
      .localCheckpoint()
    val outw = edges.groupBy(col("src")).agg(sum(col("w")).as("ow"))
    val wEdges = edges.join(outw, "src")
      .select(col("src"), col("dst"), expr("w * 1000000 DIV ow").as("w_ppm"))

    val nodes = edges.select(col("src").as("n"))
      .union(edges.select(col("dst").as("n"))).distinct()
    // one driver-sized scalar: the teleport denominator
    val nN = nodes.count()
    val base = (PrScale * 15L / 100L) / nN

    var score = nodes.select(col("n"), lit(PrScale / nN).as("score"))
    for (_ <- 1 to PrIters) {
      val contrib = wEdges.join(broadcast(score), col("src") === col("n"))
        .select(col("dst"), expr("score * w_ppm DIV 1000000").as("contrib"))
        .groupBy(col("dst")).agg(sum(col("contrib")).as("inflow"))
      score = nodes.join(contrib, col("n") === col("dst"), "left")
        .select(col("n"),
          (lit(base) + expr("85 * coalesce(inflow, CAST(0 AS BIGINT)) DIV 100"))
            .as("score"))
    }
    score.join(broadcast(Tables.nation(spark, dir)
        .select(col("n_nationkey"), col("n_name"))),
        col("n") === col("n_nationkey"))
      .select(col("n_name").as("nation"), col("score"))
      .orderBy(desc("score"), col("nation"))
  }

  /** The oracle unrolls the 3 iterations as CTEs — same integer ops,
    * same truncating DIVs, so every score matches to the last digit.
    */
  val q112Sql: String = {
    def iter(prev: String, cur: String): String =
      s"""$cur AS (
         |  SELECT n.n,
         |    -- ::BIGINT: SUM makes the chain HUGEINT in DuckDB; the values
         |    -- fit long by the w_ppm bound, so cast per iteration to keep
         |    -- the gate's dtype at int64 like Spark
         |    ((($PrScale * 15 // 100) // (SELECT COUNT(*) FROM nodes))
         |      + 85 * COALESCE(SUM(($prev.score * e.w_ppm) // 1000000), 0) // 100)::BIGINT AS score
         |  FROM nodes n
         |  LEFT JOIN we e ON e.dst = n.n
         |  LEFT JOIN $prev ON $prev.n = e.src
         |  GROUP BY n.n)""".stripMargin
    s"""WITH edges AS (
       |  SELECT c.c_nationkey AS src, s.s_nationkey AS dst, COUNT(*) AS w
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |  GROUP BY 1, 2),
       |outw AS (SELECT src, SUM(w) AS ow FROM edges GROUP BY src),
       |we AS (SELECT e.src, e.dst, (e.w * 1000000 // o.ow)::BIGINT AS w_ppm
       |       FROM edges e JOIN outw o ON e.src = o.src),
       |nodes AS (SELECT DISTINCT src AS n FROM edges
       |          UNION SELECT DISTINCT dst FROM edges),
       |s0 AS (SELECT n, $PrScale // (SELECT COUNT(*) FROM nodes) AS score FROM nodes),
       |${iter("s0", "s1")},
       |${iter("s1", "s2")},
       |${iter("s2", "s3")}
       |SELECT nn.n_name AS nation, s3.score
       |FROM s3 JOIN nation nn ON s3.n = nn.n_nationkey
       |ORDER BY s3.score DESC, nation""".stripMargin
  }

  // ---------------------------------------------------------------
  // q139_triangle_count — triangle census of the co-purchase graph:
  // parts are adjacent when they appear together in >= MinSupport
  // orders (the market-basket support threshold that keeps the edge
  // set at the BIRTHDAY-COLLISION density rather than the raw
  // per-order pair explosion). Output is the one-row graph summary:
  // nodes, edges, wedges (open triads), triangles, and the global
  // clustering coefficient 3*tri/wedges.
  //
  // The Spark side counts each triangle exactly once via DEGREE
  // ORDERING — every edge is oriented from its lower-(degree, id)
  // endpoint to the higher one, wedges form only at a vertex that
  // ranks below both neighbors, and a join against the oriented
  // edge set closes them. Degree orientation bounds every vertex's
  // out-degree by O(sqrt(m)) REGARDLESS of skew — a celebrity node
  // with 10^6 neighbors contributes wedges at its (few, high-rank)
  // out-neighbors, never C(10^6, 2) locally — which is what makes
  // the census feasible on a power-law graph at 100 TB where the
  // naive id-ordered join would melt one reducer. The oracle proves
  // orientation is count-invariant: it enumerates the same census
  // with the textbook a<b<c triple join.
  //
  // Scale shape: the pair build shuffles once on l_orderkey (per-
  // order Θ(k²) pairs with k ≤ items-per-order, a bounded constant);
  // support pruning is a combinable count; the census runs entirely
  // on the pruned edge set. All joins are equi-joins.
  // ---------------------------------------------------------------
  final val MinSupport = 2

  /** The support-pruned co-purchase edge set — a SHARED DERIVED FRAME
    * by the same economics as the LSH pair set and the inverted
    * index: built once (the per-order pair expansion is the census's
    * only corpus-sized pass), then every census/analysis query reads
    * the pruned, birthday-collision-density edge list. Memoized and
    * lineage-truncated; the bench builds it in its setup phase, a
    * production pipeline persists it in the Warehouse.
    *
    * Build shape: one exchange on l_orderkey (collect_set's partial
    * aggregation dedupes repeated parts per order map-side — a
    * separate distinct() would pay a second full exchange for
    * nothing), then C(k,2) pair structs explode locally with k
    * bounded by items-per-order, then a combinable support count.
    */
  private[graft] def prunedEdges(spark: SparkSession, dir: String): DataFrame =
    graft.CacheRegistry.frame("graph.copurchaseEdges", spark, dir) {
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .groupBy(col("ok")).agg(sort_array(collect_set(col("pk"))).as("ps"))
        .select(explode(
          graft.functions.ArrayFns.sortedPairs("ps", "u", "v")).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
        .groupBy(col("u"), col("v"))
        .agg(count(lit(1)).as("support"))
        .where(col("support") >= MinSupport)
        .select(col("u"), col("v"))
    }

  def q139(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFns.rnd
    val edges = prunedEdges(spark, dir)
    // undirected degree, then a total order rank = (degree, id)
    val deg = edges.select(col("u").as("n"))
      .unionAll(edges.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    // rank is the (deg, id) STRUCT compared lexicographically — a
    // packed `deg * 2^32 + id` long would collide (and can overflow)
    // once ids exceed 2^32, which they do at 100 TB partkey scale
    val ranked = deg.select(col("n"),
      struct(col("deg"), col("n")).as("rank"))
    // orient low-rank -> high-rank
    val oriented = edges
      .join(ranked.withColumnRenamed("n", "u").withColumnRenamed("rank", "ru"), "u")
      .join(ranked.withColumnRenamed("n", "v").withColumnRenamed("rank", "rv"), "v")
      .select(
        when(col("ru") < col("rv"), col("u")).otherwise(col("v")).as("src"),
        when(col("ru") < col("rv"), col("v")).otherwise(col("u")).as("dst"),
        when(col("ru") < col("rv"), col("rv")).otherwise(col("ru")).as("rdst"))
    val triangles = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.rdst") < col("e2.rdst"))
      .select(col("e1.dst").as("b"), col("e2.dst").as("c"))
      .join(oriented.as("e3").select(
        col("src").as("b2"), col("dst").as("c2")),
        col("b") === col("b2") && col("c") === col("c2"))
      .agg(count(lit(1)).as("n_triangles"))
    // Σ deg·(deg−1) summed as exact longs, halved once at the end
    // (the sum of an even-termed series is even — no precision hop)
    val wedges = deg
      .agg(expr("sum(deg * (deg - 1)) div 2").as("n_wedges"),
        count(lit(1)).as("n_nodes"))
    val nEdges = edges.agg(count(lit(1)).as("n_edges"))
    wedges.crossJoin(nEdges).crossJoin(triangles)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        when(col("n_wedges") > 0,
          rnd(lit(3) * col("n_triangles").cast("double") /
            col("n_wedges").cast("double"), 6)).as("clustering"))
  }

  /** The co-purchase edge CTE — the SQL twin of [[prunedEdges]],
    * shared by q139 and q153.
    */
  private val coEdgesSql: String =
    s"""li AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |edges AS (
       |  SELECT a.pk AS u, b.pk AS v
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $MinSupport)""".stripMargin

  val q139Sql: String = {
    val r = graft.functions.TextFns.rndSql(
      "3 * tri.n_triangles::DOUBLE / w.n_wedges::DOUBLE", 6)
    s"""WITH $coEdgesSql,
       |deg AS (
       |  SELECT n, COUNT(*) AS deg FROM (
       |    SELECT u AS n FROM edges UNION ALL SELECT v FROM edges)
       |  GROUP BY n),
       |w AS (SELECT CAST(SUM(deg * (deg - 1)) // 2 AS BIGINT) AS n_wedges,
       |             COUNT(*) AS n_nodes FROM deg),
       |ne AS (SELECT COUNT(*) AS n_edges FROM edges),
       |tri AS (
       |  SELECT COUNT(*) AS n_triangles
       |  FROM edges e1
       |  JOIN edges e2 ON e1.v = e2.u
       |  JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v)
       |SELECT w.n_nodes, ne.n_edges, w.n_wedges, tri.n_triangles,
       |  CASE WHEN w.n_wedges > 0 THEN $r END AS clustering
       |FROM w, ne, tri""".stripMargin
  }

  // ---------------------------------------------------------------
  // q153_kcore — k-core decomposition of the co-purchase graph:
  // repeatedly delete every node with degree < K until the K-core
  // remains. The result is the PEELING TRAJECTORY — one row per
  // round (n_removed, n_edges_remaining) — which hash-pins every
  // intermediate state, not just the final core.
  //
  // Iteration discipline mirrors q112/q150: a FIXED number of
  // unrolled rounds (the oracle replays the same N in SQL; at the
  // tested SFs the peel reaches its fixed point well inside N —
  // GraphOpsSpec asserts it — and trailing rounds are 0-removal
  // no-ops). Per round: one combinable degree count, weak-node
  // anti-joins on both endpoints (equi-joins; Catalyst broadcasts
  // the weak side when small, SMJ otherwise — no hint, because at
  // 100 TB round 1's weak set can be most of the graph), then
  // localCheckpoint so round r+1 never replays rounds 1..r.
  //
  // Scale shape: every pass is keyed (degree count on n, anti-join
  // on u then v); the edge frame SHRINKS monotonically; the shared
  // corpus-sized pair build is paid once in [[prunedEdges]].
  // ---------------------------------------------------------------
  // K chosen against the corpus's degree profile so the peel is
  // non-trivial at the driver's sf0.01 gate (a 3-round cascade:
  // 1521 -> 325 -> 2 removals); at sf0.001 the dense graph loses one
  // node, at sf0.1 the sparse graph peels to empty in one round —
  // all three are exact against the unrolled oracle.
  final val CoreK = 6
  final val CoreRounds = 6

  def q153(spark: SparkSession, dir: String): DataFrame = {
    var edges = prunedEdges(spark, dir)
    val rounds = Vector.newBuilder[DataFrame]
    for (r <- 1 to CoreRounds) {
      val deg = edges.select(col("u").as("n"))
        .unionAll(edges.select(col("v").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("deg"))
      val weak = deg.where(col("deg") < CoreK).select(col("n"))
      // Eager, deliberately (r17 A/B): the lazy-localCheckpoint fold
      // (defer all 6 rounds to the final union's one job tree) was
      // measured FLAT-to-worse same-window — each round's `weak` is
      // consumed three times, and without the eager materialization
      // those re-evaluations cost what the folded job scheduling
      // saved. Keep the per-round materialization.
      val pruned = edges
        .join(weak.withColumnRenamed("n", "u"), Seq("u"), "left_anti")
        .join(weak.withColumnRenamed("n", "v"), Seq("v"), "left_anti")
        .select(col("u"), col("v"))
        .localCheckpoint()
      rounds += weak.agg(count(lit(1)).as("n_removed"))
        .crossJoin(pruned.agg(count(lit(1)).as("n_edges_remaining")))
        .select(lit(r).as("round"), col("n_removed"),
          col("n_edges_remaining"))
      edges = pruned
    }
    rounds.result().reduce(_.unionAll(_)).orderBy(col("round"))
  }

  /** Each e_k/w_k is referenced 2-3 times by the next level; DuckDB
    * inlines plain CTEs, so an unmaterialized chain re-evaluates the
    * base 3^rounds times — AS MATERIALIZED pins each level to one
    * evaluation (the exact analogue of the Spark side's per-round
    * localCheckpoint).
    */
  val q153Sql: String = {
    val steps = (1 to CoreRounds).map { k =>
      s"""w$k AS MATERIALIZED (
         |  SELECT n FROM (
         |    SELECT n, COUNT(*) AS deg FROM (
         |      SELECT u AS n FROM e${k - 1} UNION ALL SELECT v FROM e${k - 1})
         |    GROUP BY n)
         |  WHERE deg < $CoreK),
         |e$k AS MATERIALIZED (
         |  SELECT u, v FROM e${k - 1}
         |  WHERE u NOT IN (SELECT n FROM w$k)
         |    AND v NOT IN (SELECT n FROM w$k)),
         |s$k AS (
         |  SELECT $k AS round,
         |    (SELECT COUNT(*) FROM w$k)::BIGINT AS n_removed,
         |    (SELECT COUNT(*) FROM e$k)::BIGINT AS n_edges_remaining)""".stripMargin
    }
    val sel = (1 to CoreRounds)
      .map(k => s"SELECT * FROM s$k").mkString("\nUNION ALL\n")
    s"""WITH $coEdgesSql,
       |e0 AS MATERIALIZED (SELECT u, v FROM edges),
       |${steps.mkString(",\n")}
       |$sel
       |ORDER BY round""".stripMargin
  }

  def declared: Seq[Query] = Seq(
    Query("q112_trade_pagerank", q112, q112Sql),
    Query("q139_triangle_count", q139, q139Sql),
    Query("q153_kcore", q153, q153Sql))
}
