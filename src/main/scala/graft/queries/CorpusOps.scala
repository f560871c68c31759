package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFns.{hash60, hash60Sql, rnd, rndSql, shinglesSql, tokens}
import graft.functions.{TextKernels, TopKAgg}
import graft.sources.Tables

/** Corpus-curation operators rounding out the training-data pipeline
  * (see PipelineOps for decontamination / repetition / packing /
  * semantic dedup / mixture): a corpus-derived boilerplate index,
  * deterministic train/val/test splitting, per-domain caps, the
  * quality-filter funnel manifest, and the first BPE merge step of
  * tokenizer training. Each is one or two keyed shuffles; nothing
  * scans the corpus more than the production shape would.
  */
object CorpusOps {

  private val trigramSetSql: String =
    s"list_distinct(${shinglesSql("string_split(text, ' ')", 3)})"

  // native kernel, not array_distinct(shingles(tokens(text), 3)):
  // value-identical (KernelSpec parity incl. <3-token edge), but the
  // interpreted HOF chain re-splits the text per element reference —
  // measured 23.8 s for q105 at the 10× stress replica vs the
  // kernel's one JIT'd loop per doc
  private def trigramSet(text: Column): Column =
    TextKernels.trigramSetCol(text)

  /** q105's per-doc distinct-trigram frame, materialized ONCE per
    * (session, dir) — the build side (df index), the probe side, and
    * the per-doc totals all read it, and without the checkpoint each
    * reader re-runs the shingle kernel over the whole corpus
    * (measured 7.3 s → the kernel dominating 3× over). Same
    * discipline as Dedup.lshBase: at 100 TB this frame is the
    * persisted tokenization output the index build and the scorer
    * both consume.
    */
  private[graft] def triBase(spark: SparkSession, dir: String): DataFrame =
    graft.CacheRegistry.frame("corpus.triBase", spark, dir)(
      Tables.documents(spark, dir)
        .select(col("doc_id"), trigramSet(col("text")).as("sh"))
        .transform(d => Tables.fanOut(d, col("doc_id"))))

  // ---------------------------------------------------------------
  // q105_boilerplate_ngrams — corpus-derived boilerplate detection
  // (the C4-style "repeated span" hygiene step): a trigram whose
  // document frequency exceeds 2% of the corpus is boilerplate; each
  // document reports what fraction of its distinct trigrams are
  // boilerplate, worst offenders first.
  //
  // Scale shape: the df aggregate is the only corpus-sized shuffle
  // and it is map-side-combinable (distinct per-doc sets mean plain
  // count = doc frequency). The resulting index is high-df grams
  // only — small BY CONSTRUCTION (df > 2% caps it at 50/corpus-share
  // distinct grams) — so it BROADCASTS back, and the per-doc score is
  // a map-side hash probe + one doc-keyed aggregate. At 100 TB the
  // index is built once and persisted; this is the build+apply pair.
  // ---------------------------------------------------------------
  final val BoilerDfOver = 50L // boilerplate ⇔ df * 50 > n_docs (2%)
  final val BoilerTopK = 50

  def q105(spark: SparkSession, dir: String): DataFrame = {
    val docs = triBase(spark, dir)
    val grams = docs.select(col("doc_id"), explode(col("sh")).as("g"))
    // 1-row corpus count attached by broadcast loop (q73's pattern):
    // each df-frame partition loops over ONE broadcast row — map-side
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val boiler = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .where(col("df") * BoilerDfOver > col("n_docs"))
      .select(col("g"))
    val perDoc = grams.join(broadcast(boiler), "g")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_boiler"))
    docs.select(col("doc_id"), size(col("sh")).as("n_grams"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"))
      .withColumn("boiler_ratio",
        // < 3-token doc: 0 grams — null ratio like the oracle's
        // NULL-on-zero-divide, not an ANSI error
        when(col("n_grams") > 0,
          rnd(col("n_boiler").cast("double") / col("n_grams").cast("double"), 4)))
      .orderBy(desc("boiler_ratio"), col("doc_id")).limit(BoilerTopK)
  }

  val q105Sql: String =
    s"""WITH sh AS (SELECT doc_id, $trigramSetSql AS sh FROM documents),
       |grams AS (SELECT doc_id, unnest(sh) AS g FROM sh),
       |n AS (SELECT COUNT(*) AS n_docs FROM sh),
       |boiler AS (
       |  SELECT g FROM (SELECT g, COUNT(*) AS df FROM grams GROUP BY g), n
       |  WHERE df * $BoilerDfOver > n_docs),
       |per_doc AS (
       |  SELECT doc_id, COUNT(*) AS n_boiler
       |  FROM grams JOIN boiler USING (g) GROUP BY doc_id)
       |SELECT sh.doc_id, len(sh.sh) AS n_grams,
       |  COALESCE(per_doc.n_boiler, 0) AS n_boiler,
       |  -- nullif: a sub-trigram doc has 0 grams; bare 0.0/0.0 would be
       |  -- NaN under DuckDB's IEEE float ops (sorts FIRST in DESC) while
       |  -- Spark's guarded NULL sorts last — force NULL on both engines
       |  ${rndSql("COALESCE(per_doc.n_boiler, 0)::DOUBLE / nullif(len(sh.sh), 0)::DOUBLE", 4)} AS boiler_ratio
       |FROM sh LEFT JOIN per_doc ON sh.doc_id = per_doc.doc_id
       |ORDER BY boiler_ratio DESC, sh.doc_id LIMIT $BoilerTopK""".stripMargin

  // ---------------------------------------------------------------
  // q106_hash_split — deterministic train/val/test assignment
  // (96/2/2) by content-stable hash, reported as the per-(split,
  // lang) manifest a data loader consumes. hash60(doc_id) % 100
  // decides the split, so membership is reproducible under
  // repartitioning, re-runs, and incremental ingest — no RNG state,
  // no sort, no shuffle before the single manifest aggregate.
  // ---------------------------------------------------------------
  final val ValCut = 96L
  final val TestCut = 98L

  def q106(spark: SparkSession, dir: String): DataFrame = {
    val bucket = graft.functions.TextKernels.hash60LongCol(col("doc_id")) % 100
    Tables.documents(spark, dir)
      .select(col("lang"),
        when(bucket < ValCut, "train").when(bucket < TestCut, "val")
          .otherwise("test").as("split"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tokens"))
      .orderBy(col("split"), col("lang"))
  }

  val q106Sql: String =
    s"""WITH t AS (
       |  SELECT lang,
       |    CASE WHEN ${hash60Sql("CAST(doc_id AS VARCHAR)")} % 100 < $ValCut THEN 'train'
       |         WHEN ${hash60Sql("CAST(doc_id AS VARCHAR)")} % 100 < $TestCut THEN 'val'
       |         ELSE 'test' END AS split,
       |    len(string_split(text, ' '))::BIGINT AS n_tokens
       |  FROM documents)
       |SELECT split, lang, COUNT(*) AS n_docs, SUM(n_tokens)::BIGINT AS tokens
       |FROM t GROUP BY 1, 2 ORDER BY split, lang""".stripMargin

  // ---------------------------------------------------------------
  // q107_domain_cap — cap each source domain at K documents, chosen
  // by deterministic hash order (the anti-overrepresentation step
  // every web-scale corpus runs). Uses the bounded-heap TopKAgg
  // (q83's aggregate), NOT a window rank: a pathological domain with
  // a billion documents would make ROW_NUMBER sort a billion rows in
  // one reducer, while the heap carries exactly K candidates through
  // partial+final aggregation — per-domain state is O(K) no matter
  // how skewed the domain distribution is, and n_docs/kept_tokens
  // ride the same single aggregate.
  // ---------------------------------------------------------------
  final val DomainCap = 15

  def q107(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        (-(graft.functions.TextKernels.hash60LongCol(col("doc_id")) % 10000)).cast("double").as("pri"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        TopKAgg.topK(col("pri"), col("doc_id"), col("n_tokens"), DomainCap).as("top"))
      .select(col("source"), col("n_docs"),
        size(col("top")).cast("long").as("n_kept"),
        aggregate(col("top"), lit(0L), (acc, t) => acc + t.getField("id2"))
          .as("kept_tokens"))
      .orderBy(col("source"))

  val q107Sql: String =
    s"""WITH r AS (
       |  SELECT source, doc_id,
       |    len(string_split(text, ' '))::BIGINT AS n_tokens,
       |    ROW_NUMBER() OVER (PARTITION BY source
       |      ORDER BY ${hash60Sql("CAST(doc_id AS VARCHAR)")} % 10000 ASC, doc_id ASC) AS rk
       |  FROM documents)
       |SELECT source, COUNT(*) AS n_docs,
       |  COUNT(*) FILTER (rk <= $DomainCap) AS n_kept,
       |  COALESCE(SUM(n_tokens) FILTER (rk <= $DomainCap), 0)::BIGINT AS kept_tokens
       |FROM r GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------
  // q108_quality_funnel — the filter-funnel manifest: how many
  // documents of each language survive the length gate, then the
  // repetition gate (Gopher-style duplicate-bigram ratio), then the
  // language allowlist — with per-stage survivor counts so a pipeline
  // owner sees WHERE the corpus is lost. ONE scan: the stages are
  // nested conditional aggregates, not three passes over the corpus.
  // ---------------------------------------------------------------
  final val MinTokens = 30
  final val MaxRepRatio = 0.06

  def q108(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("lang"),
        size(split(col("text"), " ")).as("n_tok"),
        (size(split(col("text"), " ")) - 1).as("tb"),
        size(TextKernels.bigramSetCol(col("text"))).as("db"))
      .select(col("lang"), col("n_tok"),
        // tb = 0 (single-token doc): null rep, matching DuckDB's
        // NULL-on-zero-divide; ANSI Spark would throw instead.
        when(col("tb") > 0,
          lit(1.0) - col("db").cast("double") / col("tb").cast("double"))
          .as("rep"))
    val s1 = col("n_tok") >= MinTokens
    val s2 = s1 && col("rep") <= MaxRepRatio
    val s3 = s2 && col("lang") =!= "zh"
    d.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_total"),
        count(when(s1, 1)).as("pass_length"),
        count(when(s2, 1)).as("pass_repetition"),
        count(when(s3, 1)).as("pass_lang"))
      .withColumn("keep_rate",
        rnd(col("pass_lang").cast("double") / col("n_total").cast("double"), 4))
      .orderBy(col("lang"))
  }

  val q108Sql: String =
    s"""WITH d AS (
       |  SELECT lang, len(string_split(text, ' ')) AS n_tok,
       |    -- nullif: single-token doc divides by 0 — NULL (like Spark's
       |    -- when() guard), not IEEE NaN
       |    1.0 - len(list_distinct(${shinglesSql("string_split(text, ' ')", 2)}))::DOUBLE
       |      / nullif(len(string_split(text, ' ')) - 1, 0)::DOUBLE AS rep
       |  FROM documents)
       |SELECT lang, COUNT(*) AS n_total,
       |  COUNT(*) FILTER (n_tok >= $MinTokens) AS pass_length,
       |  COUNT(*) FILTER (n_tok >= $MinTokens AND rep <= $MaxRepRatio) AS pass_repetition,
       |  COUNT(*) FILTER (n_tok >= $MinTokens AND rep <= $MaxRepRatio
       |    AND lang <> 'zh') AS pass_lang,
       |  ${rndSql(s"(COUNT(*) FILTER (n_tok >= $MinTokens AND rep <= $MaxRepRatio AND lang <> 'zh'))::DOUBLE / COUNT(*)::DOUBLE", 4)} AS keep_rate
       |FROM d GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------
  // q109_bpe_pairs — the first merge step of BPE tokenizer training:
  // count adjacent character pairs across the corpus, weighted by
  // word occurrences. The load-bearing scale move is aggregating to
  // the DISTINCT-WORD frame first (vocabulary ≪ corpus): the
  // char-pair explode runs over the vocabulary weighted by counts,
  // not over every corpus token — exactly how production BPE trainers
  // pre-aggregate. Two map-side-combinable shuffles, both on frames
  // that shrink as they aggregate.
  // ---------------------------------------------------------------
  final val BpeTopK = 20

  def q109(spark: SparkSession, dir: String): DataFrame = {
    val vocab = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .where(length(col("w")) >= 2)
    vocab
      .select(col("cnt"),
        explode(transform(sequence(lit(1), length(col("w")) - 1),
          i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair")).agg(sum(col("cnt")).as("pair_count"))
      .orderBy(desc("pair_count"), col("pair")).limit(BpeTopK)
  }

  val q109Sql: String =
    s"""WITH v AS (
       |  SELECT w, COUNT(*) AS cnt
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  GROUP BY w HAVING length(w) >= 2),
       |p AS (
       |  SELECT cnt, unnest(list_transform(generate_series(1, length(w) - 1),
       |    i -> substr(w, i, 2))) AS pair
       |  FROM v)
       |SELECT pair, SUM(cnt)::BIGINT AS pair_count FROM p GROUP BY pair
       |ORDER BY pair_count DESC, pair LIMIT $BpeTopK""".stripMargin

  // ---------------------------------------------------------------
  // q110_epoch_weighting — UPSAMPLING by per-source epoch weights
  // (the "N epochs over the high-quality slice" mixing move; q104 is
  // the downsampling dual). A weight of 2.75 epochs means every doc
  // is emitted twice and a deterministic hash-selected 75% get a
  // third copy — so the emitted stream hits the target epoch count
  // exactly in expectation with zero RNG state. Emits the exploded
  // copy stream (what a trainer would shuffle-shard), then folds it
  // into the per-source achieved-epochs manifest.
  //
  // Scale shape: pure map-side fan-out (explode of a <=3-element
  // sequence — bounded by the epoch weight), one manifest aggregate.
  // At 100 TB the copy stream goes straight to the sink with copy_idx
  // as the shard salt so replicas land in different output shards.
  // ---------------------------------------------------------------
  final val HqEpochBp = 27500L // sources src0/src1: 2.75 epochs
  final val BaseEpochBp = 10000L

  def q110(spark: SparkSession, dir: String): DataFrame = {
    val wBp = when(col("source").isin("src0", "src1"), lit(HqEpochBp))
      .otherwise(lit(BaseEpochBp))
    val copies = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), wBp.as("w_bp"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("n_copies",
        expr("w_bp DIV 10000") +
          when(graft.functions.TextKernels.hash60LongCol(col("doc_id")) % 10000 < col("w_bp") % 10000,
            1L).otherwise(0L))
      .select(col("source"), col("doc_id"), col("w_bp"), col("n_tokens"),
        explode(sequence(lit(1L), col("n_copies"))).as("copy_idx"))
    copies.groupBy(col("source"), col("w_bp"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_emitted"),
        sum(col("n_tokens")).as("emitted_tokens"))
      .select(col("source"), col("w_bp"), col("n_docs"), col("n_emitted"),
        col("emitted_tokens"),
        rnd(col("n_emitted").cast("double") / col("n_docs").cast("double"), 4)
          .as("achieved_epochs"))
      .orderBy(col("source"))
  }

  val q110Sql: String =
    s"""WITH d AS (
       |  SELECT source, doc_id,
       |    -- bare CASE literals type INT32 in DuckDB; Spark's lit(Long)
       |    -- is int64 — cast so the gate's dtypes agree
       |    CAST(CASE WHEN source IN ('src0', 'src1') THEN $HqEpochBp
       |         ELSE $BaseEpochBp END AS BIGINT) AS w_bp,
       |    len(string_split(text, ' '))::BIGINT AS n_tokens
       |  FROM documents),
       |c AS (
       |  SELECT *, w_bp // 10000
       |    + CASE WHEN ${hash60Sql("CAST(doc_id AS VARCHAR)")} % 10000
       |        < w_bp % 10000 THEN 1 ELSE 0 END AS n_copies
       |  FROM d),
       |e AS (
       |  SELECT source, doc_id, w_bp, n_tokens,
       |    unnest(generate_series(1, n_copies)) AS copy_idx
       |  FROM c)
       |SELECT source, w_bp, COUNT(DISTINCT doc_id) AS n_docs,
       |  COUNT(*) AS n_emitted, SUM(n_tokens)::BIGINT AS emitted_tokens,
       |  ${rndSql("COUNT(*)::DOUBLE / COUNT(DISTINCT doc_id)::DOUBLE", 4)} AS achieved_epochs
       |FROM e GROUP BY source, w_bp ORDER BY source""".stripMargin

  // ---------------------------------------------------------------
  // q114_boilerplate_scrub — the APPLY side of boilerplate removal:
  // where q105 builds the repeated-span index and scores documents,
  // this rewrites them (the C4-style hygiene transform). The K
  // highest-document-frequency trigrams are boilerplate (top-K, not a
  // df threshold, so the op never degenerates on a low-repetition
  // corpus); every token covered by an occurrence of a boilerplate
  // trigram is dropped and the cleaned text re-assembled. Reports the
  // most-scrubbed documents with an md5 of the cleaned text so the
  // full rewrite is value-checked without hashing megabytes per row.
  //
  // Scale shape: the index is one map-side-combinable df aggregate +
  // a global top-K (TakeOrdered — K rows cross the wire per
  // partition); the scrub is a pure map over the corpus probing a
  // BROADCAST K-element array. Token positions are matched with
  // bound-once arrays (hits, keep) so the per-token work is
  // O(|hits|) against a tiny list — no shuffle touches document
  // text beyond the original scan. At 100 TB the cleaned corpus
  // streams straight to a sink; the manifest here is the audit view.
  // ---------------------------------------------------------------
  final val ScrubTopK = 25
  final val ScrubOutK = 30

  def q114(spark: SparkSession, dir: String): DataFrame = {
    val grams = triBase(spark, dir)
      .select(col("doc_id"), explode(col("sh")).as("g"))
    val bgRow = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .orderBy(desc("df"), col("g")).limit(ScrubTopK)
      .agg(sort_array(collect_list(col("g"))).as("bg"))
    // scrubStats kernel (r17), not the nested bind1/filter/exists HOF
    // build: that form re-evaluated interpreted lambdas O(n·|hits|)
    // per document plus one trigram re-concat per position; the
    // kernel is one JIT'd token pass probing a hash set of the
    // broadcast boilerplate list. Value-identical by construction
    // (hit windows cover i..i+2 ⇔ keep j has no hit in [j−2, j]) —
    // KernelSpec pins the struct equal to the declarative build on
    // the corpus plus edge docs.
    // fanOut: the scrub is a pure map that ran as ONE task over the
    // single-file scan (profiled 0.57 s serial); partitioning-
    // invariant map work.
    Tables.fanOut(
        Tables.documents(spark, dir).select(col("doc_id"), col("text")),
        col("doc_id"))
      .crossJoin(broadcast(bgRow))
      .select(col("doc_id"),
        graft.functions.TextKernels.scrubStatsCol(col("text"), col("bg")).as("c"))
      .select(col("doc_id"), col("c.n_tok").as("n_tok"),
        col("c.n_removed").as("n_removed"), col("c.clean_sig").as("clean_sig"))
      .orderBy(desc("n_removed"), col("doc_id")).limit(ScrubOutK)
  }

  val q114Sql: String =
    s"""WITH sh AS (SELECT doc_id, $trigramSetSql AS sh FROM documents),
       |grams AS (SELECT doc_id, unnest(sh) AS g FROM sh),
       |boiler AS (SELECT g FROM (
       |  SELECT g, COUNT(*) AS df FROM grams GROUP BY g
       |  ORDER BY df DESC, g LIMIT $ScrubTopK)),
       |bg AS (SELECT COALESCE(list(g ORDER BY g), []) AS bg FROM boiler),
       |d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |h AS (SELECT doc_id, t,
       |  CASE WHEN len(t) >= 3 THEN list_filter(generate_series(1, len(t)-2),
       |    i -> list_contains(bg.bg, t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
       |  ELSE [] END AS hits FROM d, bg),
       |k AS (SELECT doc_id, t, list_filter(generate_series(1, len(t)),
       |  j -> len(list_filter(hits, x -> x >= j-2 AND x <= j)) = 0) AS keep
       |  FROM h)
       |SELECT doc_id, len(t) AS n_tok, len(t) - len(keep) AS n_removed,
       |  md5(array_to_string(list_transform(keep, j -> t[j]), ' ')) AS clean_sig
       |FROM k ORDER BY n_removed DESC, doc_id LIMIT $ScrubOutK""".stripMargin

  // ---------------------------------------------------------------
  // q150_bpe_train — the FULL BPE training loop (q109 computes the
  // first merge only): iterate merge -> re-segment -> recount for a
  // fixed number of merges and emit the merge table, i.e. the
  // trained tokenizer vocabulary in merge order. Per iteration:
  //   1. count adjacent symbol pairs over the DISTINCT-WORD frame
  //      weighted by word counts (vocabulary << corpus — the same
  //      pre-aggregation q109 established; the corpus is scanned
  //      exactly once, at step 0);
  //   2. the argmax pair (ties broken lexicographically) comes to
  //      the driver — ONE row per iteration, bounded by construction
  //      like q112's fixed-point iteration and the k-means codebook;
  //   3. re-segment every word with a codegen'd string fold
  //      (functions.aggregate over the symbol array — leftmost
  //      non-overlapping merge, the standard BPE semantics), then
  //      localCheckpoint so iteration k+1 recounts from the k-step
  //      segmentation instead of replaying all k folds.
  //
  // Scale shape: each iteration is one map-side-combinable shuffle
  // over the vocabulary frame plus a 1-row collect; the corpus-sized
  // word count happens once. The oracle replays the identical N
  // unrolled iterations in SQL (list_reduce with the same fold).
  //
  // Segmentations travel as '·'-joined strings (symbols are [a-z]+
  // by the vocab filter, so the delimiter can never collide); the
  // fold merges symbols L,R when the accumulator ENDS WITH the full
  // symbol L (delimiter-anchored) and the next symbol equals R —
  // exactly leftmost non-overlapping, and the merged symbol L||R can
  // never falsely re-match L because the delimiter anchors it.
  // ---------------------------------------------------------------
  final val BpeTrainMerges = 8
  private final val SegSep = graft.functions.TextKernels.BpeSep

  /** One merge step applied to the '·'-joined `seg` column. */
  private def mergeFold(lf: String, rt: String): Column = {
    val arr = split(col("seg"), SegSep)
    aggregate(
      slice(arr, lit(2), size(arr) - 1),
      element_at(arr, 1),
      (acc, x) =>
        when((acc === lit(lf) || acc.endsWith(lit(SegSep + lf))) &&
          x === lit(rt),
          concat(acc.substr(lit(1), length(acc) - lit(lf.length)),
            lit(lf + rt)))
          .otherwise(concat(acc, lit(SegSep), x)))
  }

  /** Test hook: [[mergeFold]] without widening its visibility. */
  private[graft] def testMergeFold(lf: String, rt: String): Column =
    mergeFold(lf, rt)

  /** Weighted adjacent-pair counts over a (seg, cnt) frame. Words
    * whose segmentation has collapsed to ONE symbol contribute no
    * pairs and are filtered first — Spark's sequence(1, 0) would
    * DESCEND rather than return empty (DuckDB's generate_series
    * returns empty, so the oracle needs no twin filter).
    */
  private def segPairs(seg: DataFrame): DataFrame = {
    val arr = split(col("seg"), SegSep)
    seg.where(size(arr) >= 2)
      .select(col("cnt"), explode(transform(
        sequence(lit(1), size(arr) - 1),
        i => struct(element_at(arr, i).as("lft"),
          element_at(arr, i + 1).as("rgt")))).as("p"))
      .groupBy(col("p.lft").as("lft"), col("p.rgt").as("rgt"))
      .agg(sum(col("cnt")).as("pair_count"))
  }

  /** The training loop over a (seg, cnt) vocabulary frame. Returns
    * (step, lft, rgt, merged, pair_count) per merge; stops early if
    * the vocabulary runs out of pairs.
    */
  private[graft] def bpeTrain(vocabSeg: DataFrame, nMerges: Int,
                              onStep: (Int, Double) => Unit = (_, _) => ())
      : Seq[(Int, String, String, String, Long)] = {
    import org.apache.spark.sql.graftbridge.PlanBridge
    var seg = vocabSeg.localCheckpoint()
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    var exhausted = false
    for (step <- 1 to nMerges if !exhausted) {
      val t0 = System.nanoTime()
      val top = segPairs(seg)
        .orderBy(desc("pair_count"), col("lft"), col("rgt"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val lf = top(0).getAs[String]("lft")
        val rt = top(0).getAs[String]("rgt")
        merges += ((step, lf, rt, lf + rt, top(0).getAs[Long]("pair_count")))
        // localCheckpoint is eager: once the next frame is
        // materialized the previous checkpoint's pinned RDD is dead
        // weight — at 8 merges that's noise, at a realistic 256+ it
        // is merges × vocab-frame of pinned storage. Dataset
        // .unpersist is a NO-OP on a checkpoint (CacheManager never
        // registered the internal RDD; cleanup would be GC-timing
        // driven) — free the exact pinned RDD via the LogicalRDD
        // handle instead, deterministically.
        val prev = seg
        seg = seg.withColumn("seg", mergeFold(lf, rt)).localCheckpoint()
        PlanBridge.checkpointRdd(prev).foreach(_.unpersist(blocking = false))
      }
      onStep(step, (System.nanoTime() - t0) / 1e9)
    }
    // the final checkpoint is dead too once the merge list is out
    PlanBridge.checkpointRdd(seg).foreach(_.unpersist(blocking = false))
    merges.result()
  }

  def q150(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mergesFor(spark, dir)
      .toDF("step", "lft", "rgt", "merged", "pair_count")
      .orderBy("step")
  }

  /** SQL twin: the same N iterations unrolled as CTE pairs
    * (p_k = pair counts over seg_{k-1}, m_k = argmax, seg_k = the
    * list_reduce fold with m_k joined in as plain columns).
    */
  val q150Sql: String = {
    val base =
      s"""v AS (
         |  SELECT w, COUNT(*) AS cnt
         |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         |  WHERE length(w) >= 2 AND regexp_full_match(w, '[a-z]+')
         |  GROUP BY w),
         |seg0 AS (
         |  SELECT w, array_to_string(list_transform(generate_series(1, length(w)),
         |    i -> substr(w, i, 1)), '$SegSep') AS seg, cnt FROM v)""".stripMargin
    val steps = (1 to BpeTrainMerges).map { k =>
      s"""p$k AS (
         |  SELECT p.lf AS lft, p.rt AS rgt, SUM(cnt)::BIGINT AS pair_count
         |  FROM (
         |    SELECT cnt, unnest(list_transform(generate_series(1, len(l) - 1),
         |      i -> {'lf': l[i], 'rt': l[i + 1]})) AS p
         |    FROM (SELECT string_split(seg, '$SegSep') AS l, cnt FROM seg${k - 1}))
         |  GROUP BY 1, 2),
         |m$k AS (SELECT lft, rgt, pair_count FROM p$k
         |  ORDER BY pair_count DESC, lft, rgt LIMIT 1),
         |seg$k AS (
         |  SELECT w, CASE WHEN m.lft IS NULL THEN seg
         |    ELSE list_reduce(string_split(seg, '$SegSep'),
         |    (acc, x) -> CASE
         |      WHEN (acc = m.lft OR ends_with(acc, '$SegSep' || m.lft)) AND x = m.rgt
         |      THEN left(acc, length(acc) - length(m.lft)) || m.lft || m.rgt
         |      ELSE acc || '$SegSep' || x END) END AS seg, cnt
         |  FROM seg${k - 1} LEFT JOIN m$k m ON TRUE)""".stripMargin
    }
    val sel = (1 to BpeTrainMerges).map { k =>
      s"SELECT $k AS step, lft, rgt, lft || rgt AS merged, pair_count FROM m$k"
    }.mkString("\nUNION ALL\n")
    s"WITH $base,\n${steps.mkString(",\n")}\n$sel\nORDER BY step"
  }

  // ---------------------------------------------------------------
  // q152_bpe_apply — apply the q150-trained merge table to the whole
  // corpus: segment every word with the N merges IN TRAINING ORDER,
  // then roll token counts up per document. This is the accounting a
  // training pipeline actually runs the tokenizer for (sequence
  // packing, token budgets, compression diagnostics).
  //
  // Scale shape: the N-fold segmentation runs over the DISTINCT-WORD
  // frame only (vocabulary << corpus); per-word BPE token counts then
  // join back to the per-(doc, word) counts (broadcast when the
  // vocabulary fits, shuffle on w when it doesn't — Catalyst's call),
  // so the corpus pays one explode + one keyed aggregate and never
  // re-segments a word twice. The merge table itself is the q150 training output —
  // N driver rows, memoized per (session, dir), compiled into the
  // plan as a chain of N codegen'd folds (a tokenizer's merge table
  // is plan-side constant data, exactly like a broadcast dim).
  // ---------------------------------------------------------------

  /** The (seg, cnt) character-segmented vocabulary frame q150 trains
    * on — also the entry point for the ScaleStress 256-merge run.
    */
  private[graft] def vocabSegFrame(spark: SparkSession, dir: String): DataFrame = {
    val vocab = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) >= 2 && col("w").rlike("^[a-z]+$"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val chars = transform(sequence(lit(1), length(col("w"))),
      i => col("w").substr(i, lit(1)))
    vocab.select(array_join(chars, SegSep).as("seg"), col("cnt"))
  }

  private[graft] def mergesFor(spark: SparkSession, dir: String)
      : Seq[(Int, String, String, String, Long)] =
    graft.CacheRegistry.memo(spark, ("corpus.bpeMerges", dir))(
      bpeTrain(vocabSegFrame(spark, dir), BpeTrainMerges))

  /** The per-(doc, source, word) count frame both appliers start
    * from.
    */
  private def docWordCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) >= 2 && col("w").rlike("^[a-z]+$"))
      .groupBy(col("doc_id"), col("source"), col("w"))
      .agg(count(lit(1)).as("cnt"))

  /** Shared rollup: join a (w, n_bpe, n_chars) segmentation frame
    * back to the per-(doc, word) counts and account tokens per doc.
    */
  private def bpeRollup(docWords: DataFrame, segmented: DataFrame): DataFrame =
    docWords
      // no broadcast HINT on purpose: a tested-SF vocabulary
      // broadcasts on Catalyst's own estimate, but a 10^8-word
      // web-scale vocabulary exceeds any broadcast budget and must
      // shuffle-join on w — forcing the hint would OOM exactly at
      // the scale this operator exists for
      .join(segmented, "w")
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("cnt")).as("n_words"),
        sum(col("cnt") * col("n_chars")).as("n_chars"),
        sum(col("cnt") * col("n_bpe")).as("n_bpe_tokens"))
      .select(col("doc_id"), col("source"), col("n_words"), col("n_chars"),
        col("n_bpe_tokens"),
        rnd(col("n_chars").cast("double") /
          col("n_bpe_tokens").cast("double"), 4).as("chars_per_token"))
      .orderBy(col("doc_id"))

  def q152(spark: SparkSession, dir: String): DataFrame = {
    val merges = mergesFor(spark, dir)
    val docWords = docWordCounts(spark, dir)
    val chars = transform(sequence(lit(1), length(col("w"))),
      i => col("w").substr(i, lit(1)))
    val segmented = merges.foldLeft(
        docWords.select(col("w")).distinct()
          .select(col("w"), array_join(chars, SegSep).as("seg"))) {
        case (df, (_, lf, rt, _, _)) => df.withColumn("seg", mergeFold(lf, rt))
      }
      .select(col("w"), size(split(col("seg"), SegSep)).as("n_bpe"),
        length(col("w")).as("n_chars"))
    bpeRollup(docWords, segmented)
  }

  // ---------------------------------------------------------------
  // q162_bpe_encode_kernel — the SAME tokenizer application through
  // the one-pass greedy encoder (TextKernels.bpeEncode): find the
  // lowest-rank adjacent pair, merge all leftmost-non-overlapping
  // occurrences, repeat. Segmentations are provably (and KernelSpec-
  // pinned) bit-identical to q152's rank-order fold chain, so the
  // two share one DuckDB oracle — but the PLAN is one StaticInvoke
  // projection regardless of merge count, where the fold compiles
  // ONE COLUMN TRANSFORM PER MERGE: at a production 50k-entry table
  // the fold's 50k-node plan is unbuildable while the kernel's cost
  // per word is O(len²) map lookups, independent of table size
  // (ScaleStress `bpeapply` measures the gap at 256 merges).
  // ---------------------------------------------------------------
  def q162(spark: SparkSession, dir: String): DataFrame = {
    val merges = mergesFor(spark, dir)
    val docWords = docWordCounts(spark, dir)
    val segmented = docWords.select(col("w")).distinct()
      .select(col("w"),
        graft.functions.TextKernels.bpeEncodeCol(col("w"),
          mergesLit(merges)).as("seg"))
      .select(col("w"), size(split(col("seg"), SegSep)).as("n_bpe"),
        length(col("w")).as("n_chars"))
    bpeRollup(docWords, segmented)
  }

  /** The merge table as an array<string> literal of "lft rgt" rows in
    * rank order — plan-side constant data, like a broadcast dim.
    */
  private[graft] def mergesLit(
      merges: Seq[(Int, String, String, String, Long)]): Column =
    if (merges.isEmpty) array().cast("array<string>")
    else array(merges.map { case (_, lf, rt, _, _) => lit(s"$lf $rt") }: _*)

  /** SQL twin: reuses [[q150Sql]]'s unrolled CTE chain up to segN,
    * whose (word → segmentation) frame IS the applied tokenizer.
    */
  val q152Sql: String = {
    val upToSegN = q150Sql
      .substring(0, q150Sql.indexOf("\nSELECT 1 AS step"))
      .stripSuffix(",")
    s"""$upToSegN,
       |tok AS (
       |  SELECT w, length(w) AS n_chars,
       |    len(string_split(seg, '$SegSep')) AS n_bpe
       |  FROM seg$BpeTrainMerges),
       |dw AS (
       |  SELECT doc_id, source, w, COUNT(*) AS cnt
       |  FROM (SELECT doc_id, source,
       |          unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE length(w) >= 2 AND regexp_full_match(w, '[a-z]+')
       |  GROUP BY 1, 2, 3)
       |SELECT dw.doc_id, dw.source,
       |  SUM(cnt)::BIGINT AS n_words,
       |  SUM(cnt * n_chars)::BIGINT AS n_chars,
       |  SUM(cnt * n_bpe)::BIGINT AS n_bpe_tokens,
       |  ${rndSql("SUM(cnt * n_chars)::DOUBLE / SUM(cnt * n_bpe)::DOUBLE", 4)}
       |    AS chars_per_token
       |FROM dw JOIN tok ON dw.w = tok.w
       |GROUP BY 1, 2 ORDER BY doc_id""".stripMargin
  }

  def declared: Seq[Query] = Seq(
    Query("q105_boilerplate_ngrams", q105, q105Sql),
    Query("q106_hash_split", q106, q106Sql),
    Query("q107_domain_cap", q107, q107Sql),
    Query("q108_quality_funnel", q108, q108Sql),
    Query("q109_bpe_pairs", q109, q109Sql),
    Query("q110_epoch_weighting", q110, q110Sql),
    Query("q114_boilerplate_scrub", q114, q114Sql),
    Query("q150_bpe_train", q150, q150Sql),
    Query("q152_bpe_apply", q152, q152Sql),
    Query("q162_bpe_encode_kernel", q162, q152Sql))
}
