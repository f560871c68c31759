package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFns.{rnd, rndSql, shinglesSql, tokens}
import graft.functions.TextKernels
import graft.sources.Tables

/** Training-data-pipeline operators beyond dedup/similarity: benchmark
  * decontamination (n-gram overlap against an eval set), intra-document
  * repetition scoring (the Gopher-rule quality signal), and sequence
  * packing (documents → fixed-token context windows). Each is the
  * standard pretraining-corpus operation re-expressed as one or two
  * keyed shuffles — no all-pairs work, no driver loops.
  */
object PipelineOps {

  /** DuckDB twin of the distinct word-bigram shingle basis (same as
    * Dedup's; parity with TextKernels.bigramSetCol pinned by
    * KernelSpec).
    */
  private val shingleSetSql: String =
    s"list_distinct(${shinglesSql("string_split(text, ' ')", 2)})"

  // ---------------------------------------------------------------
  // q100_decontamination — n-gram overlap against a benchmark set:
  // the pre-training hygiene step that drops training documents
  // sharing too many n-grams with an evaluation suite. A
  // deterministic ~4% slice (doc_id % 23 = 1) stands in for the
  // benchmark; its DISTINCT bigram set is the contamination index.
  //
  // Scale shape: the index is tiny relative to the corpus (eval
  // suites are MBs, corpora are TBs) and BROADCASTS — the corpus
  // explodes to (doc, gram) pairs map-side, hash-joins the broadcast
  // index, and aggregates per doc. One shuffle (the groupBy), no
  // corpus self-join. At 100 TB the index is a bloom-or-set file
  // shipped to every executor, exactly this plan's shape.
  // ---------------------------------------------------------------
  final val ContaminationMin = 0.2

  def q100(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), TextKernels.bigramSetCol(col("text")).as("sh"))
    val isBench = col("doc_id") % 23 === 1
    val benchGrams = docs.where(isBench)
      .select(explode(col("sh")).as("g")).distinct()
    val corpus = docs.where(!isBench)
      .select(col("doc_id"), size(col("sh")).as("total"),
        explode(col("sh")).as("g"))
    corpus.join(broadcast(benchGrams), "g")
      // sh is a DISTINCT shingle set, so plain count = distinct overlap
      .groupBy(col("doc_id"), col("total"))
      .agg(count(lit(1)).as("overlap"))
      .select(col("doc_id"), col("overlap"), col("total"),
        rnd(col("overlap").cast("double") / col("total").cast("double"), 4)
          .as("contamination"))
      .where(col("contamination") >= ContaminationMin)
      .orderBy(desc("contamination"), col("doc_id")).limit(30)
  }

  val q100Sql: String =
    s"""WITH sh AS (SELECT doc_id, $shingleSetSql AS sh FROM documents),
       |bench AS (
       |  SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 23 = 1),
       |corpus AS (
       |  SELECT doc_id, len(sh) AS total, unnest(sh) AS g
       |  FROM sh WHERE doc_id % 23 <> 1),
       |hits AS (
       |  SELECT doc_id, total, COUNT(*) AS overlap
       |  FROM corpus JOIN bench USING (g) GROUP BY 1, 2)
       |SELECT doc_id, overlap, total,
       |  ${rndSql("overlap::DOUBLE / total::DOUBLE", 4)} AS contamination
       |FROM hits
       |WHERE ${rndSql("overlap::DOUBLE / total::DOUBLE", 4)} >= $ContaminationMin
       |ORDER BY contamination DESC, doc_id LIMIT 30""".stripMargin

  // ---------------------------------------------------------------
  // q101_repetition_score — intra-document repetition (the
  // Gopher-family quality rule "fraction of duplicate n-grams"):
  // 1 − distinct_bigrams / total_bigrams per document. Pure map work
  // (the bigram kernel) + a top-k — quality scoring at corpus scale
  // is exactly a scan.
  // ---------------------------------------------------------------
  def q101(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        (size(split(col("text"), " ")) - 1).as("total_bigrams"),
        size(TextKernels.bigramSetCol(col("text"))).as("distinct_bigrams"))
      .where(col("total_bigrams") > 0)
      .select(col("doc_id"), col("total_bigrams"), col("distinct_bigrams"),
        rnd(lit(1.0) - col("distinct_bigrams").cast("double")
          / col("total_bigrams").cast("double"), 4).as("rep_ratio"))
      .orderBy(desc("rep_ratio"), col("doc_id")).limit(50)

  val q101Sql: String =
    s"""WITH b AS (
       |  SELECT doc_id,
       |    len(string_split(text, ' ')) - 1 AS total_bigrams,
       |    len($shingleSetSql) AS distinct_bigrams
       |  FROM documents)
       |SELECT doc_id, total_bigrams, distinct_bigrams,
       |  ${rndSql("1.0 - distinct_bigrams::DOUBLE / total_bigrams::DOUBLE", 4)} AS rep_ratio
       |FROM b WHERE total_bigrams > 0
       |ORDER BY rep_ratio DESC, doc_id LIMIT 50""".stripMargin

  // ---------------------------------------------------------------
  // q102_sequence_packing — documents → fixed-token context windows
  // (the concatenate-and-chunk packing every pretraining loader
  // runs): within a shard, documents are laid out in doc_id order,
  // each document STARTS at its running-token offset, and its window
  // is that offset ÷ context size. Emits per-window occupancy — the
  // packing manifest a trainer reads.
  //
  // Scale shape: one hash shuffle on shard + one window cumsum per
  // shard + one aggregate. Shards are the unit of parallelism (a real
  // loader packs per input file); the cumsum never crosses shards, so
  // adding shards scales the layout linearly.
  // ---------------------------------------------------------------
  final val ContextTokens = 4096
  final val PackShards = 8

  def q102(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, dir)
      .select(col("doc_id"), (col("doc_id") % PackShards).as("shard"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      // the document's start offset decides its window. Integer DIV, not
      // floor(double /): past 2^53 cumulative tokens per shard a double
      // quotient rounds and the two engines could bin a document into
      // different windows (operands are non-negative, so truncating DIV
      // equals floor).
      .withColumn("window_id",
        expr(s"(cum - n_tokens) DIV $ContextTokens"))
      .groupBy(col("shard"), col("window_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("window_tokens"),
        min(col("doc_id")).as("first_doc"))
      .select(col("shard"), col("window_id"), col("n_docs"),
        col("window_tokens"), col("first_doc"),
        rnd(col("window_tokens").cast("double") / ContextTokens, 4)
          .as("fill_ratio"))
      .orderBy(col("shard"), col("window_id"))
  }

  val q102Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, doc_id % $PackShards AS shard,
       |    len(string_split(text, ' '))::BIGINT AS n_tokens
       |  FROM documents),
       |c AS (
       |  SELECT *, SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
       |    ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM t),
       |wd AS (
       |  -- cum is SUM() OVER → HUGEINT; ::BIGINT keeps the gate's
       |  -- pandas dtype at int64 to match Spark's long
       |  SELECT *, ((cum - n_tokens) // $ContextTokens)::BIGINT AS window_id
       |  FROM c)
       |SELECT shard, window_id, COUNT(*) AS n_docs,
       |  SUM(n_tokens)::BIGINT AS window_tokens, MIN(doc_id) AS first_doc,
       |  ${rndSql(s"SUM(n_tokens)::DOUBLE / $ContextTokens", 4)} AS fill_ratio
       |FROM wd GROUP BY 1, 2 ORDER BY shard, window_id""".stripMargin

  // ---------------------------------------------------------------
  // q103_semantic_dedup — SemDeDup-shaped embedding dedup: k-means
  // cells as the BLOCKING stage (the trained q70 codebook, shared
  // from the session cache), exact pairwise cosine only WITHIN a
  // cell, and keep-lowest-id per duplicate pair. Reports the per-cell
  // dedup manifest (members, dup pairs, dropped, keep rate).
  //
  // Scale shape: the O(m²) step runs per cell with m ≈ n/k — at
  // corpus scale k grows with n (cells ≈ √n, same dial as IVF), so
  // per-cell work stays bounded and the only shuffles are the cell
  // assignment and the per-cell aggregate. The codebook is k×dim
  // driver state, trained once per session with fixed-point updates
  // so the DuckDB oracle replays it bit-identically.
  // ---------------------------------------------------------------
  final val SemTau = 0.25

  def q103(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.KMeansCodebook
    import graft.functions.VecFns
    val v = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
        VecFns.normK(col("embedding")).as("nrm"))
    val cents = KMeansCodebook.centsFrame(spark,
      KMeansCodebook.trained(spark, dir, AnnTrained.Cells, AnnTrained.Iters))
    val m = KMeansCodebook.assignCells(v, cents).join(v, "vec_id")
    val pairs = m.as("x").join(m.as("y"),
        col("x.cell") === col("y.cell") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.cell").as("cell"),
        col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"),
        (VecFns.dotCol(col("x.embedding"), col("y.embedding"))
          / (col("x.nrm") * col("y.nrm"))).as("cosine"))
      .where(col("cosine") >= SemTau)
    val dupStats = pairs.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_dup_pairs"),
        countDistinct(col("id_b")).as("n_dropped"))
    m.groupBy(col("cell")).agg(count(lit(1)).as("n_members"))
      .join(dupStats, Seq("cell"), "left")
      .select(col("cell"), col("n_members"),
        coalesce(col("n_dup_pairs"), lit(0L)).as("n_dup_pairs"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        rnd((col("n_members") - coalesce(col("n_dropped"), lit(0L)))
          .cast("double") / col("n_members").cast("double"), 4).as("keep_rate"))
      .orderBy(col("cell"))
  }

  val q103Sql: String = {
    import graft.operators.KMeansCodebook
    import graft.functions.VecFns
    val cents = s"cents${AnnTrained.Iters}"
    def cosC(e: String, n: String) = s"${VecFns.dotSql(e, "c.e_c")} / ($n * c.n_c)"
    s"""WITH v AS (SELECT vec_id, embedding,
       |  ${VecFns.normSql("embedding")} AS nrm FROM embeddings),
       |${KMeansCodebook.centsSql(AnnTrained.Cells, AnnTrained.Iters, AnnTrained.Dim)},
       |assign AS (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT v.vec_id, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${cosC("v.embedding", "v.nrm")} DESC, c.cid ASC) AS rk
       |    FROM v CROSS JOIN $cents c) WHERE rk = 1),
       |m AS (SELECT a.cell, v.vec_id, v.embedding, v.nrm
       |      FROM assign a JOIN v ON a.vec_id = v.vec_id),
       |pairs AS (
       |  SELECT x.cell, x.vec_id AS id_a, y.vec_id AS id_b
       |  FROM m x JOIN m y ON x.cell = y.cell AND x.vec_id < y.vec_id
       |  WHERE ${VecFns.dotSql("x.embedding", "y.embedding")} / (x.nrm * y.nrm)
       |    >= $SemTau),
       |dup AS (
       |  SELECT cell, COUNT(*) AS n_dup_pairs,
       |    COUNT(DISTINCT id_b) AS n_dropped
       |  FROM pairs GROUP BY cell),
       |sz AS (SELECT cell, COUNT(*) AS n_members FROM m GROUP BY cell)
       |SELECT sz.cell, sz.n_members,
       |  COALESCE(dup.n_dup_pairs, 0) AS n_dup_pairs,
       |  COALESCE(dup.n_dropped, 0) AS n_dropped,
       |  ${rndSql("(sz.n_members - COALESCE(dup.n_dropped, 0))::DOUBLE / sz.n_members::DOUBLE", 4)} AS keep_rate
       |FROM sz LEFT JOIN dup ON sz.cell = dup.cell
       |ORDER BY sz.cell""".stripMargin
  }

  // ---------------------------------------------------------------
  // q104_mixture_rebalance — hit a TARGET language mix by pure
  // downsampling (the pretraining data-mixing step): q64 samples at
  // fixed per-stratum rates; here the rates are DERIVED from the
  // corpus so the kept set lands on the target shares (en 40%, tail
  // 15% each, in basis points). The max feasible kept-total under
  // downsampling is T = min_l(n_l · 10000 ÷ target_l); each stratum
  // keeps hash(doc) mod 10000 < target_l · T ÷ n_l. All integer
  // math — the thresholds replay exactly in the oracle.
  //
  // Scale shape: one tiny per-stratum aggregate (broadcast back), one
  // map-side hash filter, one re-aggregate. No sort, no RNG state,
  // reproducible under repartitioning — q64's properties, plus the
  // mixture solve in-frame (window-min over the stratum frame, no
  // driver round-trip).
  // ---------------------------------------------------------------
  final val EnTargetBp = 4000L
  final val TailTargetBp = 1500L

  def q104(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.TextFns.hash60
    val target = when(col("lang") === "en", lit(EnTargetBp))
      .otherwise(lit(TailTargetBp))
    val counts = Tables.documents(spark, dir)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .withColumn("target_bp", target)
    // materialized once (per-stratum rows, driver-tiny): both the
    // broadcast filter probe and the final manifest join read it, and
    // without the checkpoint each re-runs the full corpus count scan
    val thresh = counts
      .withColumn("t_max",
        min(expr("n_docs * 10000 DIV target_bp")).over(Window.partitionBy()))
      .withColumn("keep_thresh", expr("target_bp * t_max DIV n_docs"))
      .localCheckpoint()
    val kept = Tables.documents(spark, dir)
      .join(broadcast(thresh.select(col("lang"), col("keep_thresh"))), "lang")
      .where(graft.functions.TextKernels.hash60LongCol(col("doc_id")) % 10000 < col("keep_thresh"))
      .groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
    thresh.join(kept, Seq("lang"), "left")
      .select(col("lang"), col("n_docs"), col("target_bp"), col("keep_thresh"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
      .withColumn("achieved_share",
        rnd(col("n_kept").cast("double")
          / sum(col("n_kept")).over(Window.partitionBy()).cast("double"), 4))
      .orderBy(col("lang"))
  }

  val q104Sql: String = {
    import graft.functions.TextFns.hash60Sql
    val target = s"CASE WHEN lang = 'en' THEN $EnTargetBp ELSE $TailTargetBp END"
    s"""WITH counts AS (
       |  SELECT lang, COUNT(*) AS n_docs, $target AS target_bp
       |  FROM documents GROUP BY lang),
       |t AS (
       |  SELECT *, MIN(n_docs * 10000 // target_bp) OVER () AS t_max FROM counts),
       |th AS (
       |  SELECT *, target_bp * t_max // n_docs AS keep_thresh FROM t),
       |k AS (
       |  SELECT d.lang, COUNT(*) AS n_kept
       |  FROM documents d JOIN th ON d.lang = th.lang
       |  WHERE ${hash60Sql("CAST(d.doc_id AS VARCHAR)")} % 10000 < th.keep_thresh
       |  GROUP BY d.lang)
       |SELECT th.lang, th.n_docs, CAST(th.target_bp AS BIGINT) AS target_bp,
       |  th.keep_thresh, COALESCE(k.n_kept, 0) AS n_kept,
       |  ${rndSql("COALESCE(k.n_kept, 0)::DOUBLE / (SUM(COALESCE(k.n_kept, 0)) OVER ())::DOUBLE", 4)} AS achieved_share
       |FROM th LEFT JOIN k ON th.lang = k.lang ORDER BY th.lang""".stripMargin
  }

  // ---------------------------------------------------------------
  // q113_temperature_mixture — temperature-scaled language
  // rebalancing (the multilingual τ-sampling move: target share ∝
  // n^(1/τ), here τ = 2): high-resource languages are down-weighted
  // toward the tail without a hand-written target mix. Targets are
  // derived IN INTEGERS — t_l = floor(sqrt(n_l)) (IEEE sqrt is
  // correctly rounded, so floor∘sqrt is bit-identical across
  // engines), target_bp_l = t_l·10000 DIV Σt — then q104's exact
  // threshold solve downsamples to land on them. Zero RNG state,
  // reproducible under repartitioning.
  //
  // Scale shape: identical to q104 — one tiny per-stratum aggregate,
  // window-min over the 5-row stratum frame, one map-side hash
  // filter, one re-aggregate.
  // ---------------------------------------------------------------
  def q113(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.TextFns.hash60
    val wAll = Window.partitionBy()
    val thresh = Tables.documents(spark, dir)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .withColumn("t_l", floor(sqrt(col("n_docs").cast("double"))).cast("long"))
      .withColumn("sum_t", sum(col("t_l")).over(wAll))
      .withColumn("target_bp", expr("t_l * 10000 DIV sum_t"))
      // target_bp can floor to 0 under extreme language skew; DuckDB's
      // `// 0` yields NULL (ignored by MIN) while ANSI DIV throws —
      // nullif matches the oracle and the zero-target stratum keeps 0.
      .withColumn("t_max",
        min(expr("n_docs * 10000 DIV nullif(target_bp, 0)")).over(wAll))
      .withColumn("keep_thresh", expr("target_bp * t_max DIV n_docs"))
      // same as q104: both readers share one materialization of the
      // per-stratum frame instead of re-scanning the corpus count
      .localCheckpoint()
    val kept = Tables.documents(spark, dir)
      .join(broadcast(thresh.select(col("lang"), col("keep_thresh"))), "lang")
      .where(graft.functions.TextKernels.hash60LongCol(col("doc_id")) % 10000 < col("keep_thresh"))
      .groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
    thresh.join(kept, Seq("lang"), "left")
      .select(col("lang"), col("n_docs"), col("t_l"), col("target_bp"),
        col("keep_thresh"), coalesce(col("n_kept"), lit(0L)).as("n_kept"))
      .withColumn("achieved_share",
        rnd(col("n_kept").cast("double")
          / sum(col("n_kept")).over(wAll).cast("double"), 4))
      .orderBy(col("lang"))
  }

  val q113Sql: String = {
    import graft.functions.TextFns.hash60Sql
    s"""WITH counts AS (
       |  SELECT lang, COUNT(*) AS n_docs,
       |    CAST(floor(sqrt(COUNT(*)::DOUBLE)) AS BIGINT) AS t_l
       |  FROM documents GROUP BY lang),
       |w1 AS (SELECT *, SUM(t_l) OVER () AS sum_t FROM counts),
       |w2 AS (SELECT *, t_l * 10000 // sum_t AS target_bp FROM w1),
       |w3 AS (SELECT *, MIN(n_docs * 10000 // target_bp) OVER () AS t_max FROM w2),
       |th AS (SELECT *, target_bp * t_max // n_docs AS keep_thresh FROM w3),
       |k AS (
       |  SELECT d.lang, COUNT(*) AS n_kept
       |  FROM documents d JOIN th ON d.lang = th.lang
       |  WHERE ${hash60Sql("CAST(d.doc_id AS VARCHAR)")} % 10000 < th.keep_thresh
       |  GROUP BY d.lang)
       |SELECT th.lang, th.n_docs, th.t_l,
       |  -- target_bp/keep_thresh descend from SUM() OVER → HUGEINT;
       |  -- cast to BIGINT so the gate's dtype matches Spark's long
       |  th.target_bp::BIGINT AS target_bp, th.keep_thresh::BIGINT AS keep_thresh,
       |  COALESCE(k.n_kept, 0) AS n_kept,
       |  ${rndSql("COALESCE(k.n_kept, 0)::DOUBLE / (SUM(COALESCE(k.n_kept, 0)) OVER ())::DOUBLE", 4)} AS achieved_share
       |FROM th LEFT JOIN k ON th.lang = k.lang ORDER BY th.lang""".stripMargin
  }

  // ---------------------------------------------------------------
  // q167_token_waterfill — token-budget allocation across sources by
  // water-filling: given a global training-token budget B (here 60%
  // of the corpus total), give every source an equal share λ of the
  // budget, capped at what the source actually has — the allocation
  // rule behind "balanced mixture under a budget" (the max-min fair
  // allocation; same waterline geometry as power/water-filling in
  // information theory). Closed form, no iteration: sort sources by
  // availability ASCENDING; scanning in that order, the first source
  // j where λ_j = (B - Σ_{i<j} avail_i) / (N - j + 1) fits under
  // avail_j pins the waterline — every smaller source is exhausted,
  // every larger source gets exactly λ.
  //
  // Scale shape: ONE corpus-wide aggregate (per-source token sums —
  // partial+final, map-side combined); everything after runs on the
  // sources-sized frame (a handful of rows) through two tiny window
  // passes. The waterline solve never touches the corpus again — at
  // 100 TB this is a profiling pass plus driver-scale arithmetic.
  //
  // Float parity: avail/cum/N/B are exact longs; λ is ONE IEEE
  // division of exact integers (bit-identical across engines); the
  // feasibility compare and `least` are order-free; outputs ride
  // rnd(·, 4).
  // ---------------------------------------------------------------
  final val WaterfillBudgetPct = 60L

  def q167(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wAll = Window.partitionBy()
    val wAsc = Window.orderBy(col("avail"), col("source"))
    val stats = Tables.documents(spark, dir)
      .select(col("source"), size(tokens(col("text"))).cast("long").as("tk"))
      .groupBy(col("source")).agg(sum(col("tk")).as("avail"))
      .withColumn("total", sum(col("avail")).over(wAll))
      .withColumn("budget", expr(s"total * $WaterfillBudgetPct DIV 100"))
      .withColumn("j", row_number().over(wAsc))
      .withColumn("n_src", count(lit(1)).over(wAll))
      .withColumn("cum_before",
        coalesce(sum(col("avail")).over(
          wAsc.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("lambda_j",
        (col("budget") - col("cum_before")).cast("double")
          / (col("n_src") - col("j") + 1).cast("double"))
    val solved = stats
      .withColumn("jstar",
        min(when(col("lambda_j") <= col("avail").cast("double"), col("j")))
          .over(wAll))
      .withColumn("waterline",
        max(when(col("j") === col("jstar"), col("lambda_j"))).over(wAll))
    solved
      .select(col("source"), col("avail").as("avail_tokens"),
        rnd(least(col("avail").cast("double"),
          coalesce(col("waterline"), col("avail").cast("double"))), 4)
          .as("alloc_tokens"),
        rnd(least(col("avail").cast("double"),
          coalesce(col("waterline"), col("avail").cast("double")))
          / col("budget").cast("double"), 4).as("budget_share"))
      .orderBy(col("source"))
  }

  val q167Sql: String =
    s"""WITH stats AS (
       |  SELECT source, SUM(len(string_split(text, ' ')))::BIGINT AS avail
       |  FROM documents GROUP BY source),
       |w1 AS (
       |  SELECT *,
       |    (SUM(avail) OVER ())::BIGINT AS total,
       |    ROW_NUMBER() OVER (ORDER BY avail, source) AS j,
       |    (COUNT(*) OVER ())::BIGINT AS n_src,
       |    COALESCE(SUM(avail) OVER (ORDER BY avail, source
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
       |      AS cum_before
       |  FROM stats),
       |w2 AS (
       |  SELECT *, total * $WaterfillBudgetPct // 100 AS budget FROM w1),
       |w3 AS (
       |  SELECT *,
       |    (budget - cum_before)::DOUBLE / (n_src - j + 1)::DOUBLE AS lambda_j
       |  FROM w2),
       |w4 AS (
       |  SELECT *,
       |    MIN(CASE WHEN lambda_j <= avail::DOUBLE THEN j END) OVER () AS jstar
       |  FROM w3),
       |w5 AS (
       |  SELECT *,
       |    MAX(CASE WHEN j = jstar THEN lambda_j END) OVER () AS waterline
       |  FROM w4)
       |SELECT source, avail AS avail_tokens,
       |  ${rndSql("LEAST(avail::DOUBLE, COALESCE(waterline, avail::DOUBLE))", 4)} AS alloc_tokens,
       |  ${rndSql("LEAST(avail::DOUBLE, COALESCE(waterline, avail::DOUBLE)) / budget::DOUBLE", 4)} AS budget_share
       |FROM w5 ORDER BY source""".stripMargin

  // ---------------------------------------------------------------
  // q124_semantic_decontamination — embedding-space benchmark
  // decontamination, the semantic complement to q100's n-gram
  // overlap: training vectors whose max cosine against ANY eval-set
  // vector reaches the threshold are flagged (paraphrased or
  // re-formatted eval leakage that shares no n-grams still lands
  // close in embedding space). Eval membership is the deterministic
  // vec_id % 41 = 1 stripe, mirroring q100's doc_id % 23 bench
  // stripe.
  //
  // Scale: the eval side BROADCASTS (eval suites are thousands of
  // rows — driver-sized by definition, like q36's probes); the
  // training corpus streams through one map-side join + max
  // aggregate, never shuffling its embeddings. The max over eval
  // vectors is order-free (no float-sum discipline needed). At
  // larger eval suites the same flagging swaps the broadcast for IVF
  // candidate pruning — that variant is q125 below, whose flags are
  // provably a subset of this query's (AnnDecontSpec asserts it).
  // ---------------------------------------------------------------
  final val SemDecontMin = 0.35

  def q124(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VecFns
    val v = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
        VecFns.normK(col("embedding")).as("nrm"))
    val isEval = col("vec_id") % 41 === 1
    val eval = v.where(isEval)
      .select(col("vec_id").as("e_id"), col("embedding").as("e_emb"),
        col("nrm").as("e_nrm"))
    v.where(!isEval)
      .crossJoin(broadcast(eval))
      .select(col("vec_id"),
        (VecFns.dotCol(col("embedding"), col("e_emb")) /
          (col("nrm") * col("e_nrm"))).as("cos"))
      .groupBy(col("vec_id"))
      .agg(max(col("cos")).as("mc"))
      .where(col("mc") >= SemDecontMin)
      .select(col("vec_id"), rnd(col("mc"), 4).as("max_cosine"))
      .orderBy(desc("max_cosine"), col("vec_id")).limit(40)
  }

  val q124Sql: String =
    s"""WITH v AS (SELECT vec_id, embedding,
       |  ${graft.functions.VecFns.normSql("embedding")} AS nrm FROM embeddings),
       |ev AS (SELECT vec_id AS e_id, embedding AS e_emb, nrm AS e_nrm
       |       FROM v WHERE vec_id % 41 = 1),
       |mc AS (
       |  SELECT t.vec_id,
       |    MAX(${graft.functions.VecFns.dotSql("t.embedding", "ev.e_emb")}
       |      / (t.nrm * ev.e_nrm)) AS mc
       |  FROM v t CROSS JOIN ev
       |  WHERE t.vec_id % 41 <> 1
       |  GROUP BY t.vec_id)
       |SELECT vec_id, ${rndSql("mc", 4)} AS max_cosine
       |FROM mc WHERE mc >= $SemDecontMin
       |ORDER BY max_cosine DESC, vec_id LIMIT 40""".stripMargin

  // ---------------------------------------------------------------
  // q125_decontamination_ann — the ANN-pruned variant q124's scaladoc
  // promises: when the eval suite outgrows a broadcast-vs-everything
  // scan budget, prune candidates through the q59 IVF shape. Every
  // training vector is assigned its nearest coarse-quantizer cell
  // (one broadcast join, rank over the skinny (vec_id, cid, cos)
  // frame — embeddings never shuffle); each EVAL vector probes its
  // nprobe nearest cells; only training vectors ASSIGNED to a probed
  // cell are scored. Flag when the CANDIDATE max-cosine reaches the
  // same theta as q124.
  //
  // The approximation is one-sided by construction: candidates ⊆ all
  // eval pairs, so candidate-max <= exact-max and every q125 flag is
  // a q124 flag (AnnDecontSpec asserts the containment and
  // quantifies the misses — the recall side of the trade, measured
  // the way q111 measures the ANN paths).
  //
  // Scale: identical argument to q59 — the corpus streams through
  // one broadcast join + max aggregate; at 100 TB `cell` becomes the
  // partition key and each eval probe reads nprobe partitions.
  // ---------------------------------------------------------------
  final val SemDecontCells = 16
  final val SemDecontProbe = 2

  def q125(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VecFns
    import org.apache.spark.sql.expressions.Window
    val v = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
        VecFns.normK(col("embedding")).as("nrm"))
    val isEval = col("vec_id") % 41 === 1
    // deterministic-sample coarse quantizer (the q59 idiom: lowest
    // vec_ids, so the oracle mirrors it exactly; production swaps in
    // the q70 k-means codebook without changing the query shape)
    val cents = v.filter(col("vec_id") < SemDecontCells)
      .select(col("vec_id").as("cid"), col("embedding").as("e_c"),
        col("nrm").as("n_c"))
    val cosC = (VecFns.dotCol(col("embedding"), col("e_c")) /
      (col("nrm") * col("n_c"))).as("cos_c")
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos_c").desc, col("cid").asc)
    val assign = v.where(!isEval).join(broadcast(cents))
      .select(col("vec_id"), col("cid"), cosC)
      .withColumn("rk", row_number().over(wAssign))
      .where(col("rk") === 1)
      .select(col("vec_id"), col("cid").as("cell"))
    val wProbe = Window.partitionBy(col("e_id"))
      .orderBy(col("cos_c").desc, col("cid").asc)
    val probeCells = v.where(isEval)
      .select(col("vec_id").as("e_id"), col("embedding"), col("nrm"))
      .join(broadcast(cents))
      .select(col("e_id"), col("cid"), cosC)
      .withColumn("rk", row_number().over(wProbe))
      .where(col("rk") <= SemDecontProbe)
      .select(col("e_id"), col("cid").as("cell"))
    val eval = v.where(isEval)
      .select(col("vec_id").as("e_id"), col("embedding").as("e_emb"),
        col("nrm").as("e_nrm"))
    assign.join(broadcast(probeCells), "cell")
      .join(v, "vec_id")
      .join(broadcast(eval), "e_id")
      .select(col("vec_id"),
        (VecFns.dotCol(col("embedding"), col("e_emb")) /
          (col("nrm") * col("e_nrm"))).as("cos"))
      .groupBy(col("vec_id"))
      .agg(max(col("cos")).as("mc"))
      .where(col("mc") >= SemDecontMin)
      .select(col("vec_id"), rnd(col("mc"), 4).as("max_cosine"))
      .orderBy(desc("max_cosine"), col("vec_id")).limit(40)
  }

  val q125Sql: String = {
    import graft.functions.VecFns
    def cosC(e: String, n: String) =
      s"${VecFns.dotSql(e, "c.e_c")} / ($n * c.n_c)"
    s"""WITH v AS (SELECT vec_id, embedding,
       |  ${VecFns.normSql("embedding")} AS nrm FROM embeddings),
       |c AS (SELECT vec_id AS cid, embedding AS e_c, nrm AS n_c
       |      FROM v WHERE vec_id < $SemDecontCells),
       |assign AS (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT v.vec_id, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${cosC("v.embedding", "v.nrm")} DESC, c.cid ASC) AS rk
       |    FROM v CROSS JOIN c WHERE v.vec_id % 41 <> 1) WHERE rk = 1),
       |probe AS (
       |  SELECT e_id, cid AS cell FROM (
       |    SELECT v.vec_id AS e_id, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${cosC("v.embedding", "v.nrm")} DESC, c.cid ASC) AS rk
       |    FROM v CROSS JOIN c WHERE v.vec_id % 41 = 1) WHERE rk <= $SemDecontProbe),
       |ev AS (SELECT vec_id AS e_id, embedding AS e_emb, nrm AS e_nrm
       |       FROM v WHERE vec_id % 41 = 1),
       |mc AS (
       |  SELECT t.vec_id,
       |    MAX(${VecFns.dotSql("t.embedding", "ev.e_emb")}
       |      / (t.nrm * ev.e_nrm)) AS mc
       |  FROM assign a
       |    JOIN probe USING (cell)
       |    JOIN v t ON a.vec_id = t.vec_id
       |    JOIN ev ON probe.e_id = ev.e_id
       |  GROUP BY t.vec_id)
       |SELECT vec_id, ${rndSql("mc", 4)} AS max_cosine
       |FROM mc WHERE mc >= $SemDecontMin
       |ORDER BY max_cosine DESC, vec_id LIMIT 40""".stripMargin
  }

  // ---------------------------------------------------------------
  // q155_dsir_weights — importance weights for domain-matched data
  // selection (DSIR; Xie et al. 2023, "Data Selection for Language
  // Models via Importance Resampling"): score every corpus document
  // by how much its hashed-unigram distribution leans toward a
  // target domain (here source 'src0' stands in for the trusted
  // high-quality slice). DSIR proper uses log-likelihood ratios of
  // hashed n-gram features; this uses the LINEAR divergence
  //   score_raw = Σ_b cnt_doc(b) · (c_tgt(b)·N_all − c_all(b)·N_tgt)
  // which keeps every intermediate an exact BIGINT so the DuckDB
  // oracle matches bit-for-bit (log-ratio doubles are not
  // cross-engine reproducible). Positive = target-leaning. At web
  // scale the integer products overflow and the real deployment
  // swaps in double log-ratios — same plan shape, weights stay a
  // 1024-row broadcast.
  //
  // Scale shape: both distributions are map-side-combining
  // aggregates that collapse to DsirBuckets rows (the feature hash
  // IS the state bound — corpus size never appears); the weight
  // table broadcasts; the corpus pays exactly one keyed shuffle
  // (doc_id, b) plus the final per-doc rollup. No joins between
  // corpus-sized frames.
  // ---------------------------------------------------------------
  final val DsirBuckets = 1024
  final val DsirTarget = "src0"
  final val DsirTopK = 50

  def q155(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // fanOut: the token explode + hash ran as ONE task over the
    // single-file scan (profiled 0.50 s serial); all three branches
    // still read the SAME subplan, so exchange reuse is unaffected,
    // and every aggregate is an exact-integer sum (order-free).
    val tok = Tables.fanOut(Tables.documents(spark, dir), col("doc_id"))
      .select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("w"))
      .select(col("doc_id"), col("source"),
        // hash60StrCol kernel, not the declarative conv(md5) chain:
        // this runs once per exploded TOKEN (the suite's largest
        // remaining hash volume after r17's hash60Long sweep) and the
        // declarative form pays the md5→hex-string→substring→base-16
        // parse round-trip per call; the kernel is value-identical
        // (KernelSpec parity), so no oracle change
        (graft.functions.TextKernels.hash60StrCol(col("w")) % DsirBuckets).as("b"))
      // semantically a no-op (b is a hash of a non-null token), but
      // load-bearing for exchange reuse: the final join on b infers
      // isnotnull(b) into ITS branch only, which de-canonicalizes the
      // doc-bucket exchange vs the distribution branches; stating the
      // filter once here keeps all branches bit-identical
      .where(col("b").isNotNull)
    // both distributions ROLL UP from the per-doc bucket aggregate
    // rather than re-scanning the token explode: the three branches
    // then share ONE identical (doc_id, source, b) exchange, which
    // ReuseExchange dedupes — the corpus is exploded and shuffled
    // exactly once (PlanSpec pins the reuse)
    val docB = tok.groupBy(col("doc_id"), col("source"), col("b"))
      .agg(count(lit(1)).as("cnt"))
    val allB = docB.groupBy(col("b")).agg(sum(col("cnt")).as("c_all"))
    val tgtB = docB.where(col("source") === DsirTarget)
      .groupBy(col("b")).agg(sum(col("cnt")).as("c_tgt"))
    val whole = Window.partitionBy(lit(1))
    val wt = allB.join(tgtB, Seq("b"), "left")
      .select(col("b"), col("c_all"),
        coalesce(col("c_tgt"), lit(0L)).as("c_tgt"))
      .select(col("b"),
        (col("c_tgt") * sum(col("c_all")).over(whole) -
          col("c_all") * sum(col("c_tgt")).over(whole)).as("wt"))
    docB
      .join(broadcast(wt), "b")
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("cnt")).as("n_tok"),
        sum(col("cnt") * col("wt")).as("score_raw"))
      .select(col("doc_id"), col("source"), col("n_tok"), col("score_raw"),
        (col("source") === DsirTarget).as("is_target"))
      .orderBy(desc("score_raw"), col("doc_id")).limit(DsirTopK)
  }

  val q155Sql: String = {
    import graft.functions.TextFns.hash60Sql
    s"""WITH tok AS (
       |  SELECT doc_id, source, ${hash60Sql("w")} % $DsirBuckets AS b
       |  FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
       |        FROM documents)),
       |alls AS (SELECT b, COUNT(*) AS c_all FROM tok GROUP BY b),
       |tgt AS (SELECT b, COUNT(*) AS c_tgt FROM tok
       |        WHERE source = '$DsirTarget' GROUP BY b),
       |wt AS (
       |  SELECT a.b,
       |    (COALESCE(t.c_tgt, 0) * (SELECT SUM(c_all) FROM alls)
       |     - a.c_all * (SELECT COALESCE(SUM(c_tgt), 0) FROM tgt))::BIGINT AS wt
       |  FROM alls a LEFT JOIN tgt t USING (b)),
       |db AS (SELECT doc_id, source, b, COUNT(*) AS cnt
       |       FROM tok GROUP BY 1, 2, 3)
       |SELECT doc_id, source, SUM(cnt)::BIGINT AS n_tok,
       |  SUM(cnt * wt)::BIGINT AS score_raw,
       |  (source = '$DsirTarget') AS is_target
       |FROM db JOIN wt USING (b)
       |GROUP BY doc_id, source
       |ORDER BY score_raw DESC, doc_id LIMIT $DsirTopK""".stripMargin
  }

  def declared: Seq[Query] = Seq(
    Query("q155_dsir_weights", q155, q155Sql),
    Query("q124_semantic_decontamination", q124, q124Sql),
    Query("q125_decontamination_ann", q125, q125Sql),
    Query("q104_mixture_rebalance", q104, q104Sql),
    Query("q100_decontamination", q100, q100Sql),
    Query("q101_repetition_score", q101, q101Sql),
    Query("q102_sequence_packing", q102, q102Sql),
    Query("q103_semantic_dedup", q103, q103Sql),
    Query("q113_temperature_mixture", q113, q113Sql),
    Query("q167_token_waterfill", q167, q167Sql))
}
