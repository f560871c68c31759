package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFns.{bind1, hash60, hash60Sql, rnd, rndSql, shingles, shinglesSql, tokens}
import graft.sources.Tables

/** Second wave of corpus-curation operators (CorpusOps holds the
  * first): the Gopher per-document repetition suite, exact duplicated
  * substring detection (the suffix-array dedup family in its blocked,
  * distributed form), weighted corpus subsampling with an unbiased
  * token estimator, and per-source quality calibration. Public-paper
  * lineage per operator in its header; none of these exist in the
  * reference — they are the LLM-pipeline surface the brief mandates.
  */
object CurationOps {

  // ---------------------------------------------------------------
  // q126_repetition_suite — the Gopher repetition filters (Rae et
  // al. 2021, "Scaling Language Models: ... Gopher", §A1.1) as
  // per-document metrics: fraction of tokens that are the single
  // most frequent word, fraction covered by the most frequent
  // bigram, and fraction of positions covered by any bigram that
  // repeats within the document, plus the keep/drop decision at
  // Gopher-shaped thresholds.
  //
  // Scale shape: ZERO shuffles before the top-K — every metric is a
  // per-row computation over the token vector (the classic
  // explode→groupBy(doc,gram) formulation would shuffle the entire
  // token stream on a composite key). The metrics come from the
  // fused TextKernels.repMetrics StaticInvoke kernel: two hash maps
  // + a cover array in ONE token pass, O(d) per document — the
  // declarative HOF build below (kept for the KernelSpec parity
  // pin) recomputes filter(tk, _ === w) per distinct gram, O(d²)
  // per doc, which a megabyte document cannot afford.
  // ---------------------------------------------------------------
  final val RepTopWordMax = 0.2   // Gopher: top word <= 20% of doc
  final val RepTopBigramMax = 0.18
  final val RepDupCovMax = 0.25
  final val RepTopK = 40

  /** The original declarative formulation of the q126 metrics —
    * oracle-shaped, bit-exact vs DuckDB, but quadratic per document.
    * KernelSpec pins [[graft.functions.TextKernels.repMetrics]]
    * against it; q126 itself runs the kernel.
    */
  private[graft] def repMetricsDeclarative: Column =
    bind1(tokens(col("text"))) { tk =>
      bind1(shingles(tk, 2)) { bg =>
        val n = size(tk)
        val topWord = array_max(transform(array_distinct(tk),
          w => size(filter(tk, x => x === w))))
        val topBigram = array_max(transform(array_distinct(bg),
          g => size(filter(bg, x => x === g))))
        // positions covered by a within-doc repeated bigram: each
        // repeated bigram at position i covers tokens i and i+1
        val dupCov = size(array_distinct(flatten(
          transform(sequence(lit(1), n - 1), i =>
            when(size(filter(bg, x => x === element_at(bg, i))) >= 2,
              array(i, i + 1)).otherwise(array().cast("array<int>"))))))
        struct(n.as("n_tok"),
          (topWord.cast("double") / n.cast("double")).as("top_word_frac"),
          (topBigram.cast("double") * 2d / n.cast("double")).as("top_bigram_frac"),
          (dupCov.cast("double") / n.cast("double")).as("dup_cov_frac"))
      }
    }

  def q126(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.functions.TextKernels.repMetricsCol(col("text")).as("m"))
      .select(col("doc_id"), col("m.n_tok").as("n_tok"),
        rnd(col("m.top_word_frac"), 4).as("top_word_frac"),
        rnd(col("m.top_bigram_frac"), 4).as("top_bigram_frac"),
        rnd(col("m.dup_cov_frac"), 4).as("dup_cov_frac"),
        (col("m.top_word_frac") <= RepTopWordMax &&
          col("m.top_bigram_frac") <= RepTopBigramMax &&
          col("m.dup_cov_frac") <= RepDupCovMax).as("keep"))
      .orderBy(desc("dup_cov_frac"), col("doc_id")).limit(RepTopK)
  }

  val q126Sql: String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |b AS (SELECT doc_id, t, len(t) AS n,
       |  ${shinglesSql("t", 2)} AS bg FROM d),
       |m AS (SELECT doc_id, n,
       |  list_max(list_transform(list_distinct(t),
       |    w -> len(list_filter(t, x -> x = w))))::DOUBLE / n::DOUBLE AS top_word_frac,
       |  list_max(list_transform(list_distinct(bg),
       |    g -> len(list_filter(bg, x -> x = g))))::DOUBLE * 2 / n::DOUBLE AS top_bigram_frac,
       |  len(list_distinct(flatten(list_transform(generate_series(1, n - 1),
       |    i -> CASE WHEN len(list_filter(bg, x -> x = bg[i])) >= 2
       |         THEN [i, i + 1] ELSE [] END))))::DOUBLE / n::DOUBLE AS dup_cov_frac
       |  FROM b)
       |SELECT doc_id, n AS n_tok,
       |  ${rndSql("top_word_frac", 4)} AS top_word_frac,
       |  ${rndSql("top_bigram_frac", 4)} AS top_bigram_frac,
       |  ${rndSql("dup_cov_frac", 4)} AS dup_cov_frac,
       |  (top_word_frac <= $RepTopWordMax AND top_bigram_frac <= $RepTopBigramMax
       |    AND dup_cov_frac <= $RepDupCovMax) AS keep
       |FROM m ORDER BY dup_cov_frac DESC, doc_id LIMIT $RepTopK""".stripMargin

  // ---------------------------------------------------------------
  // q127_window_dedup — exact duplicated-substring detection (Lee et
  // al. 2021, "Deduplicating Training Data Makes Language Models
  // Better": their suffix-array ExactSubstr pass) in the distributed
  // form a cluster actually runs: every K-token window is hashed,
  // windows appearing in >= 2 distinct documents are duplicated
  // spans, and each document reports the fraction of its tokens
  // covered by such spans (1.0 = the doc is entirely made of text
  // that exists elsewhere — Lee et al.'s cut candidates).
  //
  // Scale shape: the window stream is corpus-sized but carries only
  // (doc_id, pos, 60-bit hash) — never the window text; the dup-set
  // aggregate is a plain hash groupBy (uniform md5 keys — no skew);
  // the join back is an equi-join on the same key so AQE plans it
  // shuffle-local; per-doc state is the hit-position list, bounded
  // by doc length. At 100 TB the dup-window index persists via
  // Warehouse (the q57 machinery) and every batch joins against it —
  // this is the build+apply pair, like q105/q114.
  // ---------------------------------------------------------------
  final val WinK = 10
  final val WinTopK = 40
  final val WinDropFrac = 0.5 // >= half duplicated-coverage: drop

  def q127(spark: SparkSession, dir: String): DataFrame = {
    // fanOut: the winHash kernel pass feeds THREE consumers and ran
    // as single tasks over the one-file scan (profiled 0.62 s of
    // serial stage time); counts/sets below are order-free.
    val docs = Tables.fanOut(Tables.documents(spark, dir), col("doc_id"))
      .select(col("doc_id"), size(tokens(col("text"))).as("n_tok"),
        // native kernel, not transform(shingles(...), hash60): the
        // interpreted HOF chain re-splits the text per element_at
        // reference (57 s over 5k docs); the kernel is one JIT'd
        // loop per doc inside whole-stage codegen
        graft.functions.TextKernels.winHashCol(col("text"), WinK).as("wh"))
    val wins = docs
      .select(col("doc_id"), posexplode(col("wh")).as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("h"))
    val dup = wins.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .where(col("nd") >= 2).select(col("h"))
    val hits = wins.join(dup, "h")
      .groupBy(col("doc_id")).agg(collect_list(col("pos")).as("ps"))
    docs.select(col("doc_id"), col("n_tok"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"),
        coalesce(size(col("ps")), lit(0)).cast("long").as("n_dup_windows"),
        // coverSize kernel (r17): sort+merge, not the interpreted
        // sequence/flatten/distinct HOF chain — identical count
        coalesce(graft.functions.TextKernels.coverSizeCol(col("ps"), WinK),
          lit(0)).cast("long").as("covered_tokens"))
      .withColumn("dup_frac",
        rnd(col("covered_tokens").cast("double") / col("n_tok").cast("double"), 4))
      .withColumn("action",
        when(col("dup_frac") >= WinDropFrac, "drop")
          .when(col("covered_tokens") > 0, "trim").otherwise("keep"))
      .orderBy(desc("dup_frac"), col("doc_id")).limit(WinTopK)
  }

  val q127Sql: String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |w AS (SELECT doc_id, i AS pos,
       |  ${hash60Sql(s"array_to_string(t[i:i+${WinK - 1}], ' ')")} AS h
       |  FROM d, unnest(generate_series(1, len(t) - ${WinK - 1})) AS u(i)
       |  WHERE len(t) >= $WinK),
       |dup AS (SELECT h FROM (
       |  SELECT h, COUNT(DISTINCT doc_id) AS nd FROM w GROUP BY h) WHERE nd >= 2),
       |hits AS (SELECT doc_id, list(pos) AS ps
       |  FROM w JOIN dup USING (h) GROUP BY doc_id),
       |c AS (SELECT d.doc_id, len(t) AS n_tok,
       |  COALESCE(len(ps), 0)::BIGINT AS n_dup_windows,
       |  COALESCE(len(list_distinct(flatten(list_transform(ps,
       |    p -> generate_series(p, p + ${WinK - 1}))))), 0)::BIGINT AS covered_tokens
       |  FROM d LEFT JOIN hits ON d.doc_id = hits.doc_id)
       |SELECT doc_id, n_tok, n_dup_windows, covered_tokens,
       |  ${rndSql("covered_tokens::DOUBLE / n_tok::DOUBLE", 4)} AS dup_frac,
       |  CASE WHEN covered_tokens::DOUBLE / n_tok::DOUBLE >= $WinDropFrac THEN 'drop'
       |       WHEN covered_tokens > 0 THEN 'trim' ELSE 'keep' END AS action
       |FROM c ORDER BY dup_frac DESC, doc_id LIMIT $WinTopK""".stripMargin

  // ---------------------------------------------------------------
  // q128_priority_sample — weighted sampling without replacement
  // with an unbiased subset-sum estimator (Duffield, Lund, Thorup,
  // "Priority Sampling for Estimation of Arbitrary Subset Sums",
  // JACM 2007): each doc gets priority w/u with u a deterministic
  // hash-derived uniform, the K highest priorities are the sample,
  // and each sampled doc's token estimate max(w, tau) (tau = the
  // (K+1)-th priority) sums to an unbiased estimate of total corpus
  // tokens — the accounting a trainer needs when it subsamples.
  //
  // Chosen over Efraimidis-Spirakis A-ES (keys u^(1/w)) because the
  // priority key needs NO transcendental: u = (h+1)/2^40 is an exact
  // power-of-two scaling of a 40-bit hash and w/u one IEEE division,
  // so both engines compute bit-identical keys (the q122 ln() parity
  // risk class never arises).
  //
  // Scale shape: priority is a pure map; the sample is TakeOrdered
  // top-(K+1) — K+1 rows per partition cross the wire, no global
  // sort; tau re-attaches by broadcast. O(K) driver state.
  // ---------------------------------------------------------------
  final val PriK = 25
  final val U40 = 1099511627776L // 2^40

  def q128(spark: SparkSession, dir: String): DataFrame = {
    val u = (graft.functions.TextKernels.hash60LongCol(col("doc_id")) % U40 + 1L).cast("double") / U40.toDouble
    val ranked = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("pri", col("n_tokens").cast("double") / u)
      .orderBy(desc("pri"), col("doc_id")).limit(PriK + 1)
    val tau = ranked.agg(min(col("pri")).as("tau"))
    ranked.orderBy(desc("pri"), col("doc_id")).limit(PriK)
      .crossJoin(broadcast(tau))
      .select(col("doc_id"), col("n_tokens"), col("pri"),
        greatest(col("n_tokens").cast("double"), col("tau")).as("est_tokens"))
      .orderBy(desc("pri"), col("doc_id"))
  }

  val q128Sql: String =
    s"""WITH p AS (
       |  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens,
       |    len(string_split(text, ' '))::DOUBLE /
       |      ((${hash60Sql("CAST(doc_id AS VARCHAR)")} % $U40 + 1)::DOUBLE / $U40.0) AS pri
       |  FROM documents),
       |top AS (SELECT * FROM p ORDER BY pri DESC, doc_id LIMIT ${PriK + 1}),
       |tau AS (SELECT MIN(pri) AS tau FROM top)
       |SELECT doc_id, n_tokens, pri,
       |  greatest(n_tokens::DOUBLE, tau) AS est_tokens
       |FROM (SELECT * FROM top ORDER BY pri DESC, doc_id LIMIT $PriK), tau
       |ORDER BY pri DESC, doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q129_source_calibration — per-domain quality calibration (the
  // CCNet move, Wenzek et al. 2020: quality cuts computed WITHIN
  // each source, not globally, so a uniformly-weaker domain isn't
  // wholesale-dropped): score every doc by type-token ratio, rank it
  // within its source, assign integer quintiles by pure integer math
  // (((rn-1)*5) DIV n — no percent_rank float boundary to disagree
  // on), and emit the per-(source, quintile) manifest with a
  // fixed-point mean so cross-engine sums are order-independent.
  //
  // Scale shape: one window over source partitions (the shuffle a
  // per-domain rank inherently needs — partition count = domain
  // count, skew bounded by the domain cap of q107) and one
  // map-side-combinable manifest aggregate.
  // ---------------------------------------------------------------
  def q129(spark: SparkSession, dir: String): DataFrame = {
    val byScore = Window.partitionBy(col("source"))
      .orderBy(desc("ttr"), col("doc_id"))
    val scored = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        bind1(tokens(col("text")))(tk =>
          size(array_distinct(tk)).cast("double") / size(tk).cast("double"))
          .as("ttr"))
      .withColumn("rn", row_number().over(byScore))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("source"))))
      .withColumn("bucket", expr("((rn - 1) * 5) DIV n"))
    scored.groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("ttr")).as("min_ttr"),
        sum(floor(col("ttr") * 1e6 + 0.5).cast("long")).as("sfp"))
      .select(col("source"), col("bucket"), col("n_docs"),
        rnd(col("min_ttr"), 4).as("min_ttr"),
        rnd(col("sfp").cast("double") / col("n_docs").cast("double") / 1e6, 4)
          .as("mean_ttr"))
      .orderBy(col("source"), col("bucket"))
  }

  val q129Sql: String =
    s"""WITH s AS (
       |  SELECT source, doc_id,
       |    len(list_distinct(string_split(text, ' ')))::DOUBLE /
       |      len(string_split(text, ' '))::DOUBLE AS ttr
       |  FROM documents),
       |r AS (
       |  SELECT source, ttr,
       |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY ttr DESC, doc_id) AS rn,
       |    COUNT(*) OVER (PARTITION BY source) AS n
       |  FROM s)
       |SELECT source, ((rn - 1) * 5) // n AS bucket, COUNT(*) AS n_docs,
       |  ${rndSql("MIN(ttr)", 4)} AS min_ttr,
       |  ${rndSql("SUM(floor(ttr * 1000000.0 + 0.5)::BIGINT)::DOUBLE / COUNT(*)::DOUBLE / 1000000.0", 4)} AS mean_ttr
       |FROM r GROUP BY source, ((rn - 1) * 5) // n
       |ORDER BY source, bucket""".stripMargin

  // ---------------------------------------------------------------
  // q130_span_trim — the INCREMENTAL apply side of q127 (q87's
  // batch-vs-history split, at span granularity): a new batch (10%
  // of the corpus by doc_id) is admitted against the history window
  // index, and every batch span that already exists in history is
  // trimmed — Lee et al.'s ExactSubstr CUT applied at ingest time,
  // reporting what survives of each new document.
  //
  // Scale shape: the history side is an INDEX (distinct 60-bit
  // window hashes — 8 bytes/window, never the text), precomputable
  // and persistable as a hash-bucketed Warehouse table so a daily
  // batch probes partition-pruned buckets; the batch side is the
  // small side. The probe is one equi-join on uniform hashes; per-doc
  // state is the hit-position list, bounded by doc length. Nothing
  // rescans history text per ingest.
  // ---------------------------------------------------------------
  final val TrimTopK = 40

  /** q130's history window index as a cross-session Warehouse
    * artifact (q57 / persistedScoredPairs machinery): built once per
    * corpus generation, hash-bucketed on the probe key, re-registered
    * from surviving files by any later JVM — the persisted form the
    * scale note above argues for, not just an in-session cache.
    */
  private[graft] def persistedHistoryIndex(spark: SparkSession, dir: String): DataFrame = {
    val table = s"graft_hist_windows_${java.lang.Integer.toHexString(dir.hashCode)}"
    graft.io.Warehouse.ensureBucketedTable(spark, table,
      s"$dir/documents.parquet", "h", 8)(
      Tables.documents(spark, dir)
        .where(col("doc_id") % 10 =!= 7)
        .select(explode(
          graft.functions.TextKernels.winHashCol(col("text"), WinK)).as("h"))
        .distinct())
    spark.table(table)
  }

  def q130(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), size(tokens(col("text"))).as("n_tok"),
        graft.functions.TextKernels.winHashCol(col("text"), WinK).as("wh"))
    val isBatch = col("doc_id") % 10 === 7
    val histIndex = persistedHistoryIndex(spark, dir)
    val batchWins = docs.where(isBatch)
      .select(col("doc_id"), posexplode(col("wh")).as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("h"))
    val hits = batchWins.join(histIndex, "h")
      .groupBy(col("doc_id")).agg(collect_list(col("pos")).as("ps"))
    docs.where(isBatch).select(col("doc_id"), col("n_tok"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"),
        coalesce(size(col("ps")), lit(0)).cast("long").as("n_hit_windows"),
        coalesce(graft.functions.TextKernels.coverSizeCol(col("ps"), WinK),
          lit(0)).cast("long").as("trimmed_tokens"))
      .withColumn("kept_frac",
        rnd(lit(1.0) - col("trimmed_tokens").cast("double") / col("n_tok").cast("double"), 4))
      .orderBy(desc("trimmed_tokens"), col("doc_id")).limit(TrimTopK)
  }

  val q130Sql: String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |w AS (SELECT doc_id, i AS pos,
       |  ${hash60Sql(s"array_to_string(t[i:i+${WinK - 1}], ' ')")} AS h
       |  FROM d, unnest(generate_series(1, len(t) - ${WinK - 1})) AS u(i)
       |  WHERE len(t) >= $WinK),
       |hist AS (SELECT DISTINCT h FROM w WHERE doc_id % 10 <> 7),
       |hits AS (SELECT doc_id, list(pos) AS ps
       |  FROM w JOIN hist USING (h) WHERE doc_id % 10 = 7 GROUP BY doc_id),
       |c AS (SELECT d.doc_id, len(t) AS n_tok,
       |  COALESCE(len(ps), 0)::BIGINT AS n_hit_windows,
       |  COALESCE(len(list_distinct(flatten(list_transform(ps,
       |    p -> generate_series(p, p + ${WinK - 1}))))), 0)::BIGINT AS trimmed_tokens
       |  FROM d LEFT JOIN hits ON d.doc_id = hits.doc_id
       |  WHERE d.doc_id % 10 = 7)
       |SELECT doc_id, n_tok, n_hit_windows, trimmed_tokens,
       |  ${rndSql("1.0 - trimmed_tokens::DOUBLE / n_tok::DOUBLE", 4)} AS kept_frac
       |FROM c ORDER BY trimmed_tokens DESC, doc_id LIMIT $TrimTopK""".stripMargin

  // ---------------------------------------------------------------
  // q131_source_overlap — the corpus-overlap audit a mixture
  // designer runs before weighting domains (how much of src A's
  // content is also in src B?): exact trigram-set Jaccard between
  // every source pair, computed WITHOUT materializing per-source
  // sets on one node.
  //
  // Scale shape: one (source, gram)-distinct aggregate; then pairs
  // are generated PER GRAM from a collect_set bounded by the source
  // count (tens), never by corpus size — the classic inverted
  // document-frequency trick turned on domains. The manifest is one
  // combinable count aggregate; sizes re-attach by broadcast. At
  // 100 TB the (source, gram) frame is the only corpus-sized
  // intermediate and it shrinks as it aggregates.
  // ---------------------------------------------------------------
  private val trigramSetDuck: String =
    s"list_distinct(${shinglesSql("string_split(text, ' ')", 3)})"

  def q131(spark: SparkSession, dir: String): DataFrame = {
    // fanOut: the trigram-set explode feeding the distinct ran as ONE
    // task over the single-file scan (profiled 0.79 s of serial stage
    // time); distinct/counts/sorted sets are order-free.
    val srcGrams = Tables.fanOut(Tables.documents(spark, dir), col("doc_id"))
      .select(col("source"),
        explode(graft.functions.TextKernels.trigramSetCol(col("text"))).as("g"))
      .distinct()
    val sizes = srcGrams.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val inter = srcGrams.groupBy(col("g"))
      .agg(sort_array(collect_set(col("source"))).as("ss"))
      .where(size(col("ss")) >= 2)
      .select(explode(
        graft.functions.ArrayFns.sortedPairs("ss", "s1", "s2")).as("p"))
      .groupBy(col("p.s1").as("s1"), col("p.s2").as("s2"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(broadcast(sizes.select(col("source").as("s1"), col("n").as("n1"))), "s1")
      .join(broadcast(sizes.select(col("source").as("s2"), col("n").as("n2"))), "s2")
      .select(col("s1"), col("s2"), col("n1"), col("n2"), col("inter"),
        rnd(col("inter").cast("double") /
          (col("n1") + col("n2") - col("inter")).cast("double"), 4).as("jaccard"))
      .orderBy(desc("jaccard"), col("s1"), col("s2")).limit(50)
  }

  val q131Sql: String =
    s"""WITH sg AS (
       |  SELECT DISTINCT source, unnest($trigramSetDuck) AS g FROM documents),
       |sz AS (SELECT source, COUNT(*) AS n FROM sg GROUP BY source),
       |i AS (
       |  SELECT a.source AS s1, b.source AS s2, COUNT(*) AS inter
       |  FROM sg a JOIN sg b ON a.g = b.g AND a.source < b.source
       |  GROUP BY a.source, b.source)
       |SELECT s1, s2, z1.n AS n1, z2.n AS n2, inter,
       |  ${rndSql("inter::DOUBLE / (z1.n + z2.n - inter)::DOUBLE", 4)} AS jaccard
       |FROM i JOIN sz z1 ON i.s1 = z1.source JOIN sz z2 ON i.s2 = z2.source
       |ORDER BY jaccard DESC, s1, s2 LIMIT 50""".stripMargin

  // ---------------------------------------------------------------
  // q156_paragraph_dedup — corpus-wide FIRST-OCCURRENCE paragraph
  // dedup (the CCNet recipe, Wenzek et al. 2020: dedup at paragraph
  // granularity across the whole corpus, keep the first copy,
  // reassemble documents from their surviving paragraphs). The
  // synthetic corpus has no paragraph breaks, so "paragraph" is the
  // packing-style unit: consecutive non-overlapping ParaW-token
  // blocks (full blocks only). Per doc: how many of its blocks are
  // the corpus-wide first occurrence of their content, i.e. what
  // fraction survives reassembly — the docs that keep the LEAST are
  // the boilerplate carriers CCNet drops.
  //
  // vs q127/q130: those detect overlap (sliding windows, vs history)
  // — this one RESOLVES it with a global keep/drop decision per
  // block, which needs a canonical winner. The winner is
  // min(struct(doc_id, block_idx)) per content hash — lexicographic
  // struct min IS first-occurrence order, one aggregate, no window
  // sort over the corpus, and safe at ANY block count / doc_id range
  // (a packed doc_id·10^5 + idx BIGINT would silently corrupt the
  // winner for docs with >=1e5 blocks — the megabyte-document regime
  // q126's kernel enables — and can overflow for large ids). The
  // oracle picks the same winner via a ROW_NUMBER window: exactness
  // over scale is the right trade on the oracle side only.
  //
  // Scale shape: block hashes ride the q127 winHash kernel (one
  // JIT'd pass per doc, stride-indexed); the keep table is one keyed
  // aggregate on the 60-bit hash (uniform, skew-free) and joins back
  // by the same key, so AQE plans both sides co-partitioned; per-doc
  // rollup is the only other shuffle. Never materializes block TEXT
  // — only (doc_id, idx, hash).
  // ---------------------------------------------------------------
  final val ParaW = 20
  final val ParaTopK = 40

  def q156(spark: SparkSession, dir: String): DataFrame = {
    val nb = floor(col("n") / ParaW).cast("int")
    // fanOut: the winHash block pass feeds both the keep aggregate
    // and the join-back (profiled 0.38 s serial over the one-file
    // scan); min(struct) winner and counts are order-free.
    val blocks = Tables.fanOut(Tables.documents(spark, dir), col("doc_id"))
      .select(col("doc_id"),
        graft.functions.TextKernels.winHashCol(col("text"), ParaW).as("wh"),
        size(tokens(col("text"))).as("n"))
      .select(col("doc_id"), col("wh"),
        when(nb >= 1, sequence(lit(0), nb - 1))
          .otherwise(array().cast("array<int>")).as("bs"))
      .select(col("doc_id"), col("wh"), explode(col("bs")).as("b"))
      .select(col("doc_id"), col("b"),
        element_at(col("wh"), col("b") * ParaW + 1).as("h"))
    val keep = blocks.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("b"))).as("keep_key"))
    blocks.join(keep, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("doc_id") === col("keep_key.doc_id") &&
            col("b") === col("keep_key.b"), 1L)
          .otherwise(0L)).as("n_kept"))
      .select(col("doc_id"), col("n_blocks"), col("n_kept"),
        rnd(col("n_kept").cast("double") / col("n_blocks").cast("double"), 4)
          .as("kept_frac"))
      .orderBy(col("kept_frac"), col("doc_id")).limit(ParaTopK)
  }

  val q156Sql: String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |bl AS (
       |  SELECT doc_id, t,
       |    unnest(generate_series(0, (len(t) // $ParaW) - 1)) AS b
       |  FROM d),
       |bh AS (
       |  SELECT doc_id, b,
       |    ${hash60Sql(s"array_to_string(t[(b*$ParaW+1):(b*$ParaW+$ParaW)], ' ')")} AS h
       |  FROM bl),
       |rk AS (
       |  SELECT doc_id, b,
       |    ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, b) AS rn
       |  FROM bh)
       |SELECT doc_id, COUNT(*)::BIGINT AS n_blocks,
       |  SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       |  ${rndSql("SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::DOUBLE / COUNT(*)::DOUBLE", 4)}
       |    AS kept_frac
       |FROM rk
       |GROUP BY doc_id
       |ORDER BY kept_frac, doc_id LIMIT $ParaTopK""".stripMargin

  // ---------------------------------------------------------------
  // q164_cdc_chunks — content-defined chunking (the FastCDC family:
  // Xia et al., USENIX ATC 2016; rolling-hash cut-points from Muthi-
  // tacharoen et al.'s LBFS, SOSP 2001) + chunk-level dedup: cut each
  // document where the rolling K-token window hash satisfies
  // h % D == 0, hash every resulting chunk, and report the most
  // duplicated chunks across the corpus. The primitive storage and
  // curation systems use when duplicated text does NOT align to fixed
  // windows or natural paragraphs: content-defined boundaries are
  // SHIFT-RESISTANT — inserting a token early in a doc moves every
  // fixed window (q127) but only the one chunk containing the edit,
  // so shared tails still dedup. Complements q127 (overlap
  // detection) and q156 (natural-boundary blocks).
  //
  // Cut rule (deterministic in both engines): windows are the q127
  // winHash stream; a cut lands AFTER token e = i+K-1 when the
  // window starting at i (1-based) has W[i] % D == 0 and e < n;
  // chunks are the maximal spans between cuts (last chunk runs to
  // n; a doc shorter than K is one chunk). Expected chunk length is
  // ~D windows.
  //
  // Scale shape: cuts + chunk spans are per-row array expressions on
  // the winHash kernel output — one scan, no shuffle until the
  // aggregate; the shuffled stream carries (doc_id, chunk_hash, len)
  // — never chunk text; the group-by key is a uniform 60-bit hash
  // (skew-free) and the result is bounded by TopK. At 100 TB the
  // chunk-hash table persists via Warehouse exactly like q127's
  // dup-window index — [[persistedChunkIndex]] below is that home,
  // and q176 is the incremental flow that probes it.
  // ---------------------------------------------------------------
  final val CdcK = 4
  final val CdcD = 8
  final val CdcTopK = 30

  /** The CDC span stream: (doc_id, chunk_hash, clen) per chunk, cut
    * by the q164 rule — shared by q164's corpus-wide dup report, the
    * persisted chunk index build, and q176's incremental probe. Pure
    * per-row array expressions over the winHash kernel output; no
    * shuffle is introduced here.
    */
  private[graft] def cdcChunks(spark: SparkSession, dir: String): DataFrame = {
    // fanOut: winHash + per-row cut/span arrays + chunk re-hash ran
    // as ONE task over the single-file scan (profiled 0.26 s serial
    // in q164 alone; q176 shares this base); downstream aggregates
    // are order-free.
    val base = Tables.fanOut(Tables.documents(spark, dir), col("doc_id"))
      .select(col("doc_id"), tokens(col("text")).as("t"),
        graft.functions.TextKernels.winHashCol(col("text"), CdcK).as("wh"))
      .withColumn("n", size(col("t")))
    // wh index j is 0-based (window start j+1) → cut after e = j + K.
    // cdcSpans kernel (r17), not the transform/filter/concat HOF
    // chain: that form ran two interpreted lambdas per WINDOW per
    // document; the kernel emits the identical (starts, ends) span
    // rows in one pass (KernelSpec parity on corpus + edge docs).
    base
      .select(col("doc_id"), col("t"),
        posexplode(graft.functions.TextKernels.cdcSpansCol(
          col("wh"), col("n"), CdcK, CdcD)).as(Seq("ci", "se")))
      .select(col("doc_id"),
        // hash60StrCol kernel (value-identical to the conv(md5) chain,
        // KernelSpec parity): the chunk re-hash runs once per CDC
        // chunk and the declarative form paid the hex round-trip
        graft.functions.TextKernels.hash60StrCol(array_join(
          slice(col("t"), col("se.starts"),
            col("se.ends") - col("se.starts") + 1), " ")).as("chunk_hash"),
        (col("se.ends") - col("se.starts") + 1).cast("long").as("clen"))
  }

  def q164(spark: SparkSession, dir: String): DataFrame =
    cdcChunks(spark, dir).groupBy(col("chunk_hash"))
      .agg(min(col("clen")).as("chunk_len"),
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"))
      .orderBy(desc("n_occ"), desc("n_docs"), col("chunk_hash"))
      .limit(CdcTopK)

  /** DuckDB twin of [[cdcChunks]]: CTEs ending in
    * `chunks(doc_id, chunk_hash, clen)`, shared by q164/q176.
    */
  private val cdcChunkCtes: String =
    s"""d AS (SELECT doc_id, string_split(text, ' ') AS t,
       |    len(string_split(text, ' ')) AS n FROM documents),
       |cu AS (SELECT doc_id, t, n,
       |  list_filter(list_transform(generate_series(1, len(t) - ${CdcK - 1}),
       |    i -> CASE WHEN ${hash60Sql(s"array_to_string(t[i:i+${CdcK - 1}], ' ')")} % $CdcD = 0
       |            AND i + ${CdcK - 1} < n THEN i + ${CdcK - 1} ELSE -1 END),
       |    c -> c <> -1) AS cuts
       |  FROM d),
       |sp AS (SELECT doc_id, t,
       |  list_prepend(1, list_transform(cuts, c -> c + 1)) AS starts,
       |  list_append(cuts, n) AS ends FROM cu),
       |chunks AS (SELECT doc_id,
       |  ${hash60Sql("array_to_string(t[starts[k]:ends[k]], ' ')")} AS chunk_hash,
       |  (ends[k] - starts[k] + 1)::BIGINT AS clen
       |  FROM sp, unnest(generate_series(1, len(starts))) AS u(k))""".stripMargin

  val q164Sql: String =
    s"""WITH $cdcChunkCtes
       |SELECT chunk_hash, MIN(clen)::BIGINT AS chunk_len,
       |  COUNT(DISTINCT doc_id)::BIGINT AS n_docs, COUNT(*)::BIGINT AS n_occ
       |FROM chunks GROUP BY chunk_hash
       |ORDER BY n_occ DESC, n_docs DESC, chunk_hash LIMIT $CdcTopK""".stripMargin

  // ---------------------------------------------------------------
  // q176_cdc_incremental — the PRODUCTION use of content-defined
  // chunking (the round-10 scaladoc promised it; this delivers it):
  // a new ingest batch (doc_id % 10 == 7, q130's batch split) is
  // admitted against the PERSISTED chunk-hash index built from the
  // history corpus, and every batch chunk already present in history
  // is flagged — per-document novelty accounting (how much of this
  // crawl is genuinely new text?) without ever re-reading history.
  //
  // Scale shape: the index is (chunk_hash, chunk_len, first_doc) —
  // ~16 bytes per distinct chunk, never the text — persisted as a
  // hash-bucketed fingerprinted Warehouse table ([[io.Warehouse]]),
  // so a daily batch probes partition-pruned buckets; the probe is
  // ONE equi-join on the uniform 60-bit chunk hash (skew-free by
  // construction) followed by a per-doc rollup of the batch side
  // only. Because CDC boundaries are shift-resistant, a batch doc
  // that shares a tail with history dedups even when an early edit
  // moved every fixed window (contrast q130). PersistedIndexSpec
  // pins the cross-JVM economics: build once = "written", next
  // catalog = "files" re-register, identical content.
  // ---------------------------------------------------------------
  final val CdcIncTopK = 40

  /** q176's history chunk index as a cross-session Warehouse artifact
    * (the home the q164 scaladoc promised): distinct history chunk
    * hashes with their length and first-occurrence doc, hash-bucketed
    * on the probe key.
    */
  private[graft] def persistedChunkIndex(spark: SparkSession, dir: String): DataFrame = {
    val table = s"graft_cdc_chunks_${java.lang.Integer.toHexString(dir.hashCode)}"
    graft.io.Warehouse.ensureBucketedTable(spark, table,
      s"$dir/documents.parquet", "chunk_hash", 8)(
      cdcChunks(spark, dir)
        .where(col("doc_id") % 10 =!= 7)
        .groupBy(col("chunk_hash"))
        .agg(min(col("clen")).as("chunk_len"),
          min(col("doc_id")).as("first_doc")))
    spark.table(table)
  }

  def q176(spark: SparkSession, dir: String): DataFrame = {
    val idx = persistedChunkIndex(spark, dir)
    cdcChunks(spark, dir).where(col("doc_id") % 10 === 7)
      .join(idx.select(col("chunk_hash"), lit(1).as("hit")),
        Seq("chunk_hash"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("clen")).as("n_tok"),
        sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("n_dup_chunks"),
        sum(when(col("hit").isNotNull, col("clen")).otherwise(0L)).as("dup_tokens"))
      .withColumn("new_frac",
        rnd(lit(1.0) - col("dup_tokens").cast("double") / col("n_tok").cast("double"), 4))
      .orderBy(desc("dup_tokens"), col("doc_id")).limit(CdcIncTopK)
  }

  val q176Sql: String =
    s"""WITH $cdcChunkCtes,
       |hist AS (SELECT DISTINCT chunk_hash FROM chunks WHERE doc_id % 10 <> 7),
       |b AS (SELECT c.doc_id, c.clen, h.chunk_hash IS NOT NULL AS hit
       |  FROM chunks c LEFT JOIN hist h ON c.chunk_hash = h.chunk_hash
       |  WHERE c.doc_id % 10 = 7),
       |r AS (SELECT doc_id, COUNT(*)::BIGINT AS n_chunks,
       |  SUM(clen)::BIGINT AS n_tok,
       |  SUM(CASE WHEN hit THEN 1 ELSE 0 END)::BIGINT AS n_dup_chunks,
       |  SUM(CASE WHEN hit THEN clen ELSE 0 END)::BIGINT AS dup_tokens
       |  FROM b GROUP BY doc_id)
       |SELECT doc_id, n_chunks, n_tok, n_dup_chunks, dup_tokens,
       |  ${rndSql("1.0 - dup_tokens::DOUBLE / n_tok::DOUBLE", 4)} AS new_frac
       |FROM r ORDER BY dup_tokens DESC, doc_id LIMIT $CdcIncTopK""".stripMargin

  // ---------------------------------------------------------------
  // q169_pii_redact — PII detection + masking, the hygiene transform
  // every public curation pipeline ships (Dolma's PII tagger, the
  // RefinedWeb / FineWeb postprocessors; see Soldaini et al. 2024,
  // "Dolma", §2.3): emails, NANP-style phone numbers, and IPv4
  // addresses are matched with the conventional regex classes and
  // masked with typed placeholders. The synthetic corpus is
  // letters-only, so the PII surface is INJECTED deterministically
  // from doc_id — identically in the DuckDB oracle — with presence
  // and digits varying per document (second email on doc_id%3==0,
  // IPv4 on %2==0, phone unless %5==4), so the redaction does
  // document-varying work and every per-class count is non-trivial.
  //
  // Scale shape: detection + masking is a pure regexp projection
  // (codegen'd, ZERO shuffle); the audit report is one partial+final
  // aggregate keyed by source (a handful of groups). The content
  // checksum is bit_xor over per-doc 60-bit signatures of the masked
  // text — commutative, constant agg-buffer state, map-side
  // combinable (an ORDER BY string_agg checksum would buffer a
  // group's whole corpus). At 100 TB the masked corpus streams
  // straight to a sink; this query is the audit view, and the
  // checksum pins the full rewrite byte-for-byte against the oracle.
  // ---------------------------------------------------------------
  final val EmailRe = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  final val PhoneRe = """\+1 555-[0-9]{3}-[0-9]{4}"""
  final val IpRe =
    """\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"""

  def q169(spark: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    def s(c: Column): Column = c.cast("string")
    val dirty = concat(
      col("text"),
      lit(" contact user"), s(d), lit("@example.com"),
      when(d % 3 === 0, lit(" cc admin@mail.example.org")).otherwise(lit("")),
      when(d % 2 === 0, concat(lit(" from "),
        s((d * 7 + 13) % 223 + 1), lit("."), s((d * 3 + 5) % 256), lit("."),
        s((d * 11 + 1) % 256), lit("."), s(d % 254 + 1))).otherwise(lit("")),
      when(d % 5 =!= 4, concat(lit(" call +1 555-"),
        s(d % 900 + 100), lit("-"),
        lpad(s(d % 10000), 4, "0"))).otherwise(lit("")))
    // fanOut: six regexp passes per row ran as ONE task over the
    // single-file scan (profiled 0.51 s serial); sums and bit_xor are
    // commutative, so the answer is partitioning-invariant.
    Tables.fanOut(Tables.documents(spark, dir), col("doc_id"))
      .select(col("doc_id"), col("source"), dirty.as("dirty"))
      .withColumn("n_email", regexp_count(col("dirty"), lit(EmailRe)))
      .withColumn("n_phone", regexp_count(col("dirty"), lit(PhoneRe)))
      .withColumn("n_ip", regexp_count(col("dirty"), lit(IpRe)))
      .withColumn("clean",
        regexp_replace(regexp_replace(regexp_replace(col("dirty"),
          EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>"), IpRe, "<IP>"))
      .withColumn("sig", graft.functions.TextKernels.hash60StrCol(col("clean")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs"),
        sum(col("n_email")).as("emails"),
        sum(col("n_phone")).as("phones"),
        sum(col("n_ip")).as("ips"),
        sum((length(col("dirty")) - length(col("clean"))).cast("long"))
          .as("chars_redacted"),
        expr("bit_xor(sig)").as("content_sig"))
      .orderBy(col("source"))
  }

  val q169Sql: String =
    s"""WITH dirty AS (SELECT doc_id, source,
       |  text || ' contact user' || doc_id::VARCHAR || '@example.com'
       |  || CASE WHEN doc_id % 3 = 0 THEN ' cc admin@mail.example.org'
       |     ELSE '' END
       |  || CASE WHEN doc_id % 2 = 0 THEN ' from '
       |     || ((doc_id * 7 + 13) % 223 + 1)::VARCHAR || '.'
       |     || ((doc_id * 3 + 5) % 256)::VARCHAR || '.'
       |     || ((doc_id * 11 + 1) % 256)::VARCHAR || '.'
       |     || (doc_id % 254 + 1)::VARCHAR ELSE '' END
       |  || CASE WHEN doc_id % 5 <> 4 THEN ' call +1 555-'
       |     || (doc_id % 900 + 100)::VARCHAR || '-'
       |     || lpad((doc_id % 10000)::VARCHAR, 4, '0') ELSE '' END AS dirty
       |  FROM documents),
       |red AS (SELECT doc_id, source, dirty,
       |  len(regexp_extract_all(dirty, '$EmailRe')) AS n_email,
       |  len(regexp_extract_all(dirty, '$PhoneRe')) AS n_phone,
       |  len(regexp_extract_all(dirty, '$IpRe')) AS n_ip,
       |  regexp_replace(regexp_replace(regexp_replace(dirty,
       |    '$EmailRe', '<EMAIL>', 'g'), '$PhoneRe', '<PHONE>', 'g'),
       |    '$IpRe', '<IP>', 'g') AS clean
       |  FROM dirty)
       |SELECT source, COUNT(*)::BIGINT AS docs,
       |  SUM(n_email)::BIGINT AS emails, SUM(n_phone)::BIGINT AS phones,
       |  SUM(n_ip)::BIGINT AS ips,
       |  SUM(len(dirty) - len(clean))::BIGINT AS chars_redacted,
       |  bit_xor(${hash60Sql("clean")}) AS content_sig
       |FROM red GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------
  // q170_dist_drift — corpus distribution-drift audit between two
  // snapshots: the data-quality monitor every continuously-ingesting
  // pretraining pipeline runs (the "is the new crawl the same corpus
  // we trained on?" gate; cf. the drift sections of ML monitoring
  // practice — PSI/chi-square/TVD over binned feature histograms).
  // Snapshots are deterministic doc_id // 20 block halves (one doc
  // per source per block, so both halves cover every source), and a
  // pipeline REGRESSION is injected into the "current" half for
  // even-index sources: documents of >= DriftTokMin tokens are
  // dropped, simulating an extractor that started truncating long
  // pages. The audit bins per-document token counts (width-8 bins,
  // capped at 15), Laplace-smooths per-source bin proportions over
  // the observed bins, and emits two log-free drift statistics per
  // source — chi-square (n_cur * sum (p_cur-p_ref)^2/p_ref) and
  // total-variation distance (0.5 * sum |p_cur-p_ref|) — plus the
  // drift flag at TVD > DriftTvdMax. At sf0.1 the flag isolates
  // exactly the injected sources; at tiny SFs sampling noise
  // dominates (2-3 docs/source) and the flag just agrees with the
  // oracle, which computes the identical statistic.
  //
  // No logarithms by design: PSI's ln(p_cur/p_ref) is libm-dependent
  // and DuckDB/JVM last-ulp parity is not guaranteed; chi-square and
  // TVD carry the same drift signal on +,-,*,/ alone, where IEEE 754
  // results are bit-identical for identical expression trees. Per-bin
  // terms ride the 1e-6 fixed-point lattice and sum as exact longs
  // (commutative — safe under any partial-aggregation order).
  //
  // Scale shape: ONE corpus scan into a (source, bin) partial+final
  // aggregate (map-side combined, source x 16 groups); every later
  // step runs on that tiny frame through per-source windows. At
  // 100 TB this is a profiling pass — the same shape as q145's
  // ANALYZE — and the snapshot tag would be a partition column, so
  // each half reads partition-pruned.
  // ---------------------------------------------------------------
  final val DriftBinW = 8
  final val DriftTokMin = 48
  final val DriftTvdMax = 0.30

  def q170(spark: SparkSession, dir: String): DataFrame = {
    val wSrc = Window.partitionBy(col("source"))
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        substring(col("source"), 4, 10).cast("int").as("src_idx"),
        size(tokens(col("text"))).as("n_tok"))
      .withColumn("b", least(expr(s"n_tok DIV $DriftBinW"), lit(15)))
      .withColumn("is_ref", expr("(doc_id DIV 20) % 2 = 0"))
      .withColumn("is_cur",
        expr(s"(doc_id DIV 20) % 2 = 1 AND NOT (src_idx % 2 = 0 AND n_tok >= $DriftTokMin)"))
    val bins = base.groupBy(col("source"), col("b"))
      .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("ref_cnt"),
        sum(when(col("is_cur"), 1L).otherwise(0L)).as("cur_cnt"))
    val terms = bins
      .withColumn("n_ref", sum(col("ref_cnt")).over(wSrc))
      .withColumn("n_cur", sum(col("cur_cnt")).over(wSrc))
      .withColumn("nb", count(lit(1)).over(wSrc))
      .withColumn("p_ref",
        (col("ref_cnt") + 1).cast("double") / (col("n_ref") + col("nb")).cast("double"))
      .withColumn("p_cur",
        (col("cur_cnt") + 1).cast("double") / (col("n_cur") + col("nb")).cast("double"))
      .withColumn("chi_fp",
        floor((col("p_cur") - col("p_ref")) * (col("p_cur") - col("p_ref"))
          / col("p_ref") * 1000000.0 + 0.5).cast("long"))
      .withColumn("tvd_fp",
        floor(abs(col("p_cur") - col("p_ref")) * 1000000.0 + 0.5).cast("long"))
    terms.groupBy(col("source"), col("n_ref"), col("n_cur"), col("nb"))
      .agg(sum(col("chi_fp")).as("schi"), sum(col("tvd_fp")).as("stvd"))
      .select(col("source"), col("n_ref"), col("n_cur"),
        col("nb").as("n_bins"),
        rnd(col("n_cur").cast("double") * (col("schi").cast("double") / 1000000.0), 4)
          .as("chi2"),
        rnd(lit(0.5) * (col("stvd").cast("double") / 1000000.0), 6).as("tvd"))
      .withColumn("drifted", col("tvd") > DriftTvdMax)
      .orderBy(col("source"))
  }

  val q170Sql: String =
    s"""WITH base AS (
       |  SELECT doc_id, source, CAST(substr(source, 4) AS INT) AS src_idx,
       |    len(string_split(text, ' ')) AS n_tok FROM documents),
       |tagged AS (
       |  SELECT *, LEAST(n_tok // $DriftBinW, 15) AS b,
       |    ((doc_id // 20) % 2 = 0) AS is_ref,
       |    ((doc_id // 20) % 2 = 1
       |      AND NOT (src_idx % 2 = 0 AND n_tok >= $DriftTokMin)) AS is_cur
       |  FROM base),
       |bins AS (
       |  SELECT source, b,
       |    SUM(CASE WHEN is_ref THEN 1 ELSE 0 END)::BIGINT AS ref_cnt,
       |    SUM(CASE WHEN is_cur THEN 1 ELSE 0 END)::BIGINT AS cur_cnt
       |  FROM tagged GROUP BY source, b),
       |tot AS (
       |  SELECT *, SUM(ref_cnt) OVER (PARTITION BY source)::BIGINT AS n_ref,
       |    SUM(cur_cnt) OVER (PARTITION BY source)::BIGINT AS n_cur,
       |    (COUNT(*) OVER (PARTITION BY source))::BIGINT AS nb
       |  FROM bins),
       |terms AS (
       |  SELECT source, n_ref, n_cur, nb,
       |    (ref_cnt + 1)::DOUBLE / (n_ref + nb)::DOUBLE AS p_ref,
       |    (cur_cnt + 1)::DOUBLE / (n_cur + nb)::DOUBLE AS p_cur
       |  FROM tot),
       |fp AS (
       |  SELECT source, n_ref, n_cur, nb,
       |    floor((p_cur - p_ref) * (p_cur - p_ref) / p_ref * 1000000.0 + 0.5)::BIGINT AS chi_fp,
       |    floor(abs(p_cur - p_ref) * 1000000.0 + 0.5)::BIGINT AS tvd_fp
       |  FROM terms),
       |agg AS (
       |  SELECT source, n_ref, n_cur, nb AS n_bins,
       |    ${rndSql("n_cur::DOUBLE * (SUM(chi_fp)::DOUBLE / 1000000.0)", 4)} AS chi2,
       |    ${rndSql("0.5 * (SUM(tvd_fp)::DOUBLE / 1000000.0)", 6)} AS tvd
       |  FROM fp GROUP BY source, n_ref, n_cur, nb)
       |SELECT source, n_ref, n_cur, n_bins, chi2, tvd,
       |  tvd > $DriftTvdMax AS drifted
       |FROM agg ORDER BY source""".stripMargin

  def declared: Seq[Query] = Seq(
    Query("q176_cdc_incremental", q176, q176Sql),
    Query("q170_dist_drift", q170, q170Sql),
    Query("q169_pii_redact", q169, q169Sql),
    Query("q164_cdc_chunks", q164, q164Sql),
    Query("q156_paragraph_dedup", q156, q156Sql),
    Query("q126_repetition_suite", q126, q126Sql),
    Query("q127_window_dedup", q127, q127Sql),
    Query("q128_priority_sample", q128, q128Sql),
    Query("q129_source_calibration", q129, q129Sql),
    Query("q130_span_trim", q130, q130Sql),
    Query("q131_source_overlap", q131, q131Sql))
}
