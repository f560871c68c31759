package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Dumps `explain("formatted")` plans. Two modes:
  *   sbt "runMain graft.Plans"
  *     regenerates the committed PLANS.md (headline queries at sf0.01);
  *   sbt "runMain graft.Plans <sfDir> plans/r17 _before q52_ngram_jaccard,q175_hll_growth"
  *     runs each named query to the noop sink and writes its executed
  *     plan, whose AQE part is the final adaptive plan
  *     (`isFinalPlan=true`: runtime re-plans such as a dropped exchange
  *     show), to `<outDir>/<query><suffix>.txt` — the before/after plan
  *     evidence under plans/.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val run: SparkSession => Unit = args match {
      case Array() => writeDoc
      case Array(sfDir, outDir, suffix, list) =>
        dump(_, sfDir, outDir, suffix, list.split(',').toSeq)
      case _ =>
        System.err.println(
          "usage: Plans                                  (regenerate PLANS.md)\n" +
            "       Plans <sfDir> <outDir> <suffix> <q1,q2,...>")
        sys.exit(2)
    }
    val spark = GraftSession.local("graft-plans")
    run(spark)
    spark.stop()
  }

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  /** The query execution of `df` written to the noop sink, once it ran. */
  private def executedToNoop(spark: SparkSession, df: DataFrame): QueryExecution = {
    val done = new LinkedBlockingQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        done.put(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      df.write.format("noop").mode("overwrite").save()
      Option(done.poll(60, TimeUnit.SECONDS))
        .getOrElse(sys.error("the noop write reported no query execution"))
    } finally spark.listenerManager.unregister(listener)
  }

  private def dump(spark: SparkSession, sfDir: String, outDir: String,
      suffix: String, names: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val plan = executedToNoop(spark, SparkEntry.queries(name)(spark, sfDir))
        .explainString(FormattedMode)
      Files.writeString(Paths.get(outDir, s"$name$suffix.txt"), plan)
      println(s"[plans] wrote $outDir/$name$suffix.txt")
    }
  }

  private def writeDoc(spark: SparkSession): Unit = {
    val dir = "/root/testdata/sf0.01"
    val headline = Seq(
      "q01_pricing_summary" -> "partial+final agg, decimal sums, scan-pushed filter",
      "q05_filter_project" -> "pushdown + column pruning (PushedFilters / ReadSchema)",
      "q11_join_revenue" -> "broadcast dim + shuffle fact join + TakeOrderedAndProject",
      "q34_lsh_neardup" -> "native minhash kernel, band-key hash self-join, bounded jaccard verify",
      "q36_ann_bruteforce" -> "broadcast probe set, native dot kernel, ranked window",
      "q39_sessionize" -> "lag + running sum + agg on ONE shared hash exchange",
      "q48_corpus_sketch" -> "custom TypedImperativeAggregate, partial+final merge",
      "q49_skew_salted" -> "two-phase salted aggregation for hot keys",
      "q50_asof_join" -> "composed as-of join: one exchange + sort, no range probing",
      "q53_correlated_subquery" -> "Catalyst decorrelation: aggregate+join, no per-row subquery",
      "q57_bucketed_join" -> "bucketed co-located fact-fact join: zero-exchange sort-merge",
      "q58_simhash_neardup" -> "native simhash kernel, 15-bit band hash self-join, bit_count verify",
      "q59_ann_ivf" -> "broadcast codebook, skinny argmin windows, nprobe cell search",
      "q61_dedup_clusters" -> "thresholded LSH pairs into iterative CC (loop plans not shown: LogicalRDD per round)",
      "q62_kmv_distinct" -> "KMV TypedImperativeAggregate beside exact distinct (expand), partial+final",
      "q64_stratified_sample" -> "hash-threshold stratified sample: single partial+final aggregate",
      "q65_countmin_freq" -> "Count-Min TypedImperativeAggregate, broadcast 1-row sketch to probes",
      "q66_asof_native" -> "custom AsOfJoinExec: one exchange+sort per side, streaming merge",
      "q67_session_window" -> "built-in session_window aggregate, one exchange on user_id",
      "q68_binaryfile_stats" -> "binaryFile scan, byte-stats kernel in the projection",
      "q69_binaryfile_meta" -> "metadata-only binaryFile rollup: content pruned from ReadSchema",
      "q70_ann_ivf_kmeans" -> "k-means-trained codebook broadcast, skinny argmin, nprobe search",
      "q71_dedup_clusters_star" -> "large-star/small-star CC (loop plans not shown: LogicalRDD per round)",
      "q73_histogram_quantiles" -> "histogram sketch aggregate: O(bins) partial+final state, no per-group sort",
      "q75_pq_encode" -> "PQ encode: broadcast sub-codebooks, skinny per-block argmin, pinned-order error fold",
      "q78_pivot" -> "explicit-values pivot: (group,value) pre-agg + pivotfirst, O(groups x values) exchanges; the small ORDER BY sorts in one task after AQE drops its range exchange (SingleTaskSort)",
      "q80_grouping_sets" -> "Expand x 3 sets into ONE shuffle, grouping_id disambiguates levels",
      "q82_range_join_binned" -> "interval side exploded to <=2 bins, equi-join on bin + residual containment",
      "q83_topk_heap" -> "bounded-heap TypedImperativeAggregate: top-k with no Window, no per-group sort",
      "q85_ivfpq_search" -> "coarse-cell pruning + broadcast ADC tables: candidates scored by 4 lookups",
      "q86_zorder_layout" -> "codegen'd Morton interleave (graft_zorder) + one hash aggregate",
      "q88_range_join_auto" -> "RangeJoinRewrite: naive containment predicate planned as binned equi-join",
      "q89_doc_chunking" -> "map-side generate: chunking costs one scan, no shuffle",
      "q90_resize_grid" -> "2-D nearest-neighbor index map as pure expressions, no UDF",
      "q92_spatial_join" -> "2-D containment via grid cells: rect side explodes <=2x2 cells, point side never replicated",
      "q93_forecast_seasonal" -> "trend + weekly seasonality: one groupByKey shuffle, closed-form fit in flatMapGroups",
      "q94_job_mortality_topk" -> "cases-time job core: window latest-snapshot, auto-named multi-sum, top-k-then-resort",
      "q99_spatial_join_auto" -> "multi-dim RangeJoinRewrite: naive 2-D containment planned as grid-cell equi-join; the final ORDER BY runs as one task with no range exchange (SingleTaskSort)",
      "q100_decontamination" -> "broadcast n-gram index vs map-side corpus explode: one aggregate, no self-join",
      "q102_sequence_packing" -> "per-shard token cumsum into context windows: one hash exchange + one window",
      "q103_semantic_dedup" -> "k-means cell blocking + within-cell cosine pairs: per-cell bounded quadratic work",
      "q104_mixture_rebalance" -> "derived per-stratum thresholds (window-min in-frame), map-side hash filter",
      "q105_boilerplate_ngrams" -> "df index built by one combinable aggregate, applied as broadcast probe",
      "q107_domain_cap" -> "bounded-heap top-k per source: O(cap) state, no per-domain sort",
      "q109_bpe_pairs" -> "char-pair explode over the VOCAB frame, not the corpus",
      "q110_epoch_weighting" -> "map-side bounded fan-out explode + one manifest aggregate",
      "q111_ann_recall" -> "recall join over probe x k frames; cost lives in the composed indexes",
      "q112_trade_pagerank" -> "star-join edge build; per-iteration broadcast score join + combinable dst aggregate",
      "q113_temperature_mixture" -> "per-language targets derived in one stratum aggregate, applied as a broadcast threshold filter",
      "q114_boilerplate_scrub" -> "top-K df index via TakeOrdered, broadcast to a single pure-map rewrite pass over the corpus",
      "q121_ssjoin_exact" -> "exact ssjoin: df-ascending prefix explode, equi-join on rare tokens, positional-filter aggregate, verify only candidates",
      "q122_bm25_topk" -> "inverted-index tf/df/dl aggregates, probe terms broadcast, scaled-long contributions into heap top-k",
      "q123_lm_quality" -> "bigram LM trained+applied as keyed joins, fixed-point per-doc mean, self-calibrating cull",
      "q124_semantic_decontamination" -> "eval-suite broadcast vs streaming corpus: map-side cosine + order-free max, embeddings never shuffle",
      "q125_decontamination_ann" -> "IVF-pruned decontamination: candidate pairs via nprobe cells, cosine only on candidates",
      "q126_repetition_suite" -> "Gopher repetition metrics as pure per-row array expressions: zero shuffles before top-k",
      "q127_window_dedup" -> "native window-hash kernel at scan parallelism, one combinable dup aggregate, equi-join back",
      "q128_priority_sample" -> "priority sampling: map-side hash-uniform keys, TakeOrdered top-(K+1), broadcast tau",
      "q129_source_calibration" -> "per-source rank window (domain-count partitions), integer quintiles, fixed-point means",
      "q130_span_trim" -> "batch probes the history window-hash index: one uniform-key equi-join, history text never read",
      "q131_source_overlap" -> "per-gram source pairs from bounded collect_set, broadcast size re-attach",
      "q133_funnel" -> "three MIN-CASE windows on ONE user exchange (no sort), single manifest aggregate",
      "q134_cohort_retention" -> "cohort via unordered MIN window, distinct-count matrix, broadcast base re-attach",
      "q135_event_transitions" -> "one sorted user window (lag), combinable pair count, broadcast row totals",
      "q136_hourly_anomaly" -> "combinable hourly rollup, broadcast per-type stats from exact integer sums",
      "q137_salted_agg" -> "two-level salted aggregation: (type, salt) exchange spreads hot keys, level-2 carries 80 rows",
      "q138_salted_join" -> "salted shuffle-hash join: dim replicated per salt, exchange on (type, salt)",
      "q139_triangle_count" -> "support-pruned co-purchase edges, degree-ordered orientation, wedge-close equi-joins",
      "q140_scd2_intervals" -> "gaps-and-islands SCD2: lag flag + running sum + lead valid_to on ONE custkey exchange",
      "q141_cumulative_uniques" -> "first-seen rewrite of running COUNT DISTINCT: two combinable aggs + O(days) window",
      "q142_last_touch_attribution" -> "ignoreNulls carry-forward on the user exchange, 1-PRECEDING frame, O(channels) rollup",
      "q144_trailing_window" -> "RANGE frame over integer day numbers on the daily rollup — O(days x types) window rows",
      "q145_column_profile" -> "two KEYED aggregation levels spread exact-NDV over the exchange; no global distinct merge",
      "q146_partition_pruned" -> "day-partitioned warehouse table: week BETWEEN lands in PartitionFilters, 7/30 dirs opened",
      "q147_neardup_prune" -> "CC cluster members minus representatives, broadcast anti-join over the document scan",
      "q150_bpe_train" -> "BPE loop: vocab-frame pair counts, 1-row argmax per step, codegen'd fold re-segmentation",
      "q151_image_decode" -> "binaryFile scan -> ImageIO decode -> fused byte stats in ONE shuffle-free projection",
      "q152_bpe_apply" -> "trained merges fold over DISTINCT words, token counts joined back to the corpus (broadcast when the vocab fits)",
      "q153_kcore" -> "k-core peel: per-round keyed degree count + endpoint anti-joins on a shrinking edge frame",
      "q154_full_outer_reconcile" -> "aggregates-before-outer-join: both sides rolled up, ONE full-outer on the key, null-coalesced deltas",
      "q155_dsir_weights" -> "DSIR importance weights: three distribution branches reuse ONE doc-bucket exchange, 1024-row weight table broadcast",
      "q156_paragraph_dedup" -> "CCNet paragraph dedup: winHash block hashes, min(struct) first-occurrence winner, join-back on the uniform 60-bit key",
      "q157_phrase_match" -> "positional-index phrase retrieval: w=term filters prune the bucketed index, posting-list (doc,pos+k) equi-joins",
      "q161_heavy_hitters" -> "Misra-Gries heavy hitters: one m-bounded partial+final summary aggregate, broadcast candidate recount, exact top-k",
      "q162_bpe_encode_kernel" -> "one-pass greedy BPE apply: single StaticInvoke projection, cost independent of merge-table depth (vs q152's per-merge fold)",
      "q163_hybrid_rrf" -> "hybrid RRF: broadcast probe terms onto the persisted tf index + broadcast probe vectors, both lists via bounded-heap TopKAgg, fusion touches <=2N rows/probe",
      "q164_cdc_chunks" -> "content-defined chunking: winHash kernel + per-row cut/span array exprs, shuffle carries only (doc, hash, len), uniform 60-bit group key",
      "q165_exact_quantiles" -> "exact quantiles in two passes: O(bins) histogram aggregate locates candidate bins, broadcast-pruned rescan sorts only ~n/bins rows per (group, q)",
      "q166_editdist_join" -> "PassJoin fuzzy match: segment-signature equi-join over the DISTINCT name vocabulary, threshold-levenshtein verify on candidates only; probe side explodes ONE literal offsets array so every stage stays inside whole-stage codegen (r10's 45-struct explode blew Janino's 64KB method limit)",
      "q167_token_waterfill" -> "token-budget water-filling: ONE corpus aggregate to per-source totals, closed-form max-min waterline solved on the sources-sized frame, applied as a broadcast threshold",
      "q176_cdc_incremental" -> "incremental CDC dedup: batch chunk stream probes the PERSISTED hash-bucketed chunk index via one uniform-key equi-join, per-doc novelty rollup on the batch side only",
      "q169_pii_redact" -> "PII masking: codegen'd regexp projection (zero shuffle), ONE partial+final source rollup, commutative bit_xor content checksum",
      "q170_dist_drift" -> "snapshot drift audit: ONE corpus scan into a (source, bin) partial+final aggregate, per-source windows on the tiny bin frame, log-free chi2/TVD",
      "q171_sq8_quantize" -> "SQ8 encode: 64-group max-abs aggregate broadcast back, shuffle-free encode projection, O(labels) error rollup",
      "q172_hll_distinct" -> "HLL distinct: 256-byte mergeable register state per (partition, source) on the exchange; exact-integer harmonic sum",
      "q175_hll_growth" -> "HLL snapshot algebra: ref and union sketches fill in ONE pass (null-gated child); growth = estimate difference of exact-integer sums",
      "q178_hll_rollup" -> "persisted-sketch rollup: hourly 256-byte register arrays merged hour->day by register max; second pass runs on the hours-sized summary frame only",
      "q179_profile_hll" -> "ANALYZE profile with HLL NDV: one scan -> map-side generate -> single (col)-keyed aggregate, 256-byte state; NO Expand, NO distinct shuffle (vs q145's exact path)",
      "q180_hll_overlap" -> "pairwise source overlap by inclusion-exclusion over register ROWS: one corpus aggregate, then the whole O(sources^2) matrix is a projection on a tiny self-join (scalar union/S kernels)",
      "q181_profile_quantiles" -> "per-column p50/p90/p99 from ONE global aggregate of four histogram sketches (~16 KB state); quantile solve on the <=4x514-row counter frame — the quantile half of the one-pass ANALYZE",
      "q173_rand_proj" -> "random projection: 16x64 sign matrix baked as a plan literal, exact-integer folds, ONE shuffle-free encode pass + O(labels) rollup",
      "q182_ann_partition_pruned" -> "IVF cell id as the storage partition key: probed cells land in PartitionFilters (+DPP from the cell join), scan opens only nprobe-union directories",
      "q183_stream_hll_warehouse" -> "stream->warehouse seam: day rollup reads ONLY the maintained hourly register table (hllMergeRegs merge-on-write absorbed the stream); raw events touched once, by the stream",
      "q184_analyze_decisions" -> "ANALYZE consumer: decisions computed on the O(columns) persisted stats table — rank window + pure projections, fact table never scanned",
      "q185_hll_incremental" -> "incremental sketch maintenance: two sources-sized register frames full-outer joined, scalar register-max union — merge == rebuild certified by the direct oracle",
      "q186_analyze_incremental" -> "incremental ANALYZE: per-slice stats vectors (n/min/max/decimal-sum/HLL regs/histogram counters) merged in pure algebra — appended-partition scan only, merged == direct certified by the oracle",
      "q187_pq_store_search" -> "PQ code store: probed cells in PartitionFilters over a PAYLOAD-FREE (vec_id, packed-code, nrm) layout; nibble unpack + broadcast ADC lookup scoring — q85's per-probe I/O claim executed",
      "q188_stats_banded_join" -> "executed CBO: bin width read from the PERSISTED stats table, published to the planner conf; RangeJoinRewrite turns the bands containment join into a bin equi-join whose width literal IS the stored number",
      "q189_stats_dict_join" -> "executed CBO, pure plan flip: stored est_ndv decides broadcast-vs-shuffle for the dictionary join; identical rows either way (StatsPlanSpec pins both directions)",
      "q190_ann_store_incremental" -> "maintained ANN cell store: frozen codebook, append wave assigned alone, upsertMergeByKey rewrites only the wave's cells; probe = q182's pruned shape over the maintained layout",
      "q191_pq_store_incremental" -> "maintained PQ code store: wave encoded under frozen quantizers, only its cell dirs rewritten; probe = q187's pruned payload-free shape",
      "q192_bm25_incremental" -> "maintained tf index: wave postings bucket-appended (doc-disjoint rows, bucket spec re-applied); df/N/avgdl re-derive from the index — q122's scoring verbatim",
      "q193_week_sketch_rollup" -> "week rollup over the MAINTAINED day-partitioned register table: week bounds as literal PartitionFilters, 7 of ~30 day dirs listed, register-max over <=168 stored 256-byte rows",
      "q194_zonemap_pruned" -> "file-level data skipping: per-file min/max stats table consulted before the scan, only envelope-intersecting files read (~2 of 32) with the layout's schema (no footer-inference job), exact predicate re-applied — lake-format skipping on plain parquet; the ORDER BY sorts in one task with no range exchange (SingleTaskSort)",
      "q195_zonemap_zorder" -> "multi-column skipping over ONE z-ordered layout: 2-D box prunes on both keys' envelopes simultaneously; box bounds derived from the stats table (metadata-only), never the data",
      "q196_lsh_index_incremental" -> "maintained near-dup index: wave hashed alone, stored band index probed for candidates (base never re-hashed), partners re-read ∝ candidates, gen=wave partition overwritten idempotently — q34's answer from a maintained table",
      "q197_stream_vector_ingest" -> "streaming vector ingestion: micro-batches assigned under the FROZEN codebook and appended per-cell (zero rewrite), exactly-once via per-batch pruned data probes; the probe is q182's pruned shape over the streamed store",
      "q198_stats_skew_agg" -> "executed CBO: stored top-key share picks salted two-phase vs plain aggregation — strategy from a persisted statistic AQE cannot know; identical rows either way (StatsPlanSpec pins both directions)",
      "q199_zonemap_incremental" -> "maintained skipping layer: append wave lands as NEW files (no base rewrite), stats absorb scans only the fresh file list, pruned read unchanged — q194's answer over base+wave",
      "q200_store_optimize" -> "compaction as an oracled op: the hot cell's per-batch files collapse to one (one-partition dynamic overwrite), siblings untouched, probe answers unchanged — ingest/compact/probe all hash-certified",
      "q201_bloom_skipping" -> "point-lookup file skipping on the UNCLUSTERED key: per-file 8192-bit Blooms keep ~3 of 32 files where every min/max envelope spans the domain; probe hash a literal, membership test pure codegen over the stats rows",
      "q202_compound_skipping" -> "BOTH pruning dimensions in ONE stats pass: shipdate envelopes AND orderkey Blooms intersect (6 of 32 files where each alone keeps 15) — compound skipping for a compound predicate",
      "q203_snapshot_read" -> "generation-log snapshot: the AS-OF file list pins days 1-9 from g1's files + the restated day 10 from g2's, blind to g3 — the oracle is the corpus at g2's cutoff, certifying snapshot isolation by hash",
      "q204_travel_overwritten" -> "time travel ACROSS a logical overwrite: g1 reads the file g2's restatement removed from live (bytes retained until vacuum) — read-repeatability the eager-delete overwrite cannot give",
      "q205_change_feed" -> "COMMIT-TIME change feed: the range's _changes files union + one netting aggregate — no snapshot resolve, no table diff; the oracle still diffs the raw corpus at both cutoffs",
      "q206_schema_evolution" -> "merged read across TWO schemas: n_users NULL exactly where history predates the g4 widening; earlier AS-OF reads keep their own schema — evolution as a generation boundary, no migration",
      "q207_stream_generations" -> "the log's STREAMING writer: one generation per micro-batch, boundary day restated by ADDITIVE merge with the prior gen's stored counts; exactly-once by log visibility alone (no probes, no overwrites)",
      "q208_stats_access_path" -> "executed CBO: ACCESS-PATH selection from a metadata cost estimate (candidate rows + per-file open charge vs the catalog scan) — the wide window DECLINES the index, the narrow one prunes; scale-aware where a fraction threshold is not",
      "q209_partition_evolution" -> "re-clustering through the log: 30 day files become 5 week files in one generation (6:1 compaction), rows identical, AS-OF reads keep the fine layout — partition evolution with no reader migration",
      "q210_delete_through_log" -> "copy-on-write DELETE as a generation: only the ten affected day files rewrite (surviving rows re-land, removed bytes stay for AS-OF history); the oracle is the flat rollup with the predicate applied",
      "q212_cost_access_path" -> "the selector's FULL choice set (flat / envelope / bloom / compound) priced from ONE stats aggregate; the intersection wins for the point-set-in-window predicate and q202's oracle certifies answer-neutrality",
      "q214_adaptive_relayout" -> "quality-triggered re-layout: wave files degrade the row-weighted envelope-width metric past the bound, GenLog.recluster rewrites one month-clustered generation, skipping recovers — q194's answer throughout",
      "q216_codebook_evolved" -> "codebook evolution through the log: the store re-assigned under the retrained quantizer as a NEW generation; manifest (file-list) pruning by probed cell; AS-OF the old generation still serves the old codebook (q215)",
      "q217_merge_through_log" -> "MERGE INTO as a generation: files holding matched keys rewrite (unmatched siblings survive the rewrite), late days insert, AS-OF-before-merge intact — the log's DML verbs complete",
      "q218_insert_compact" -> "append-only inserts (no restatement, conflict-free by construction: an insert's delta removes nothing) accumulate 3 files/day; OPTIMIZE collapses the hot day in a new generation, history keeps the small files",
      "q219_incremental_consume" -> "the append feed: rows after a cursor generation = later data-changing commits' ADDED files (never a table diff); the OPTIMIZE's adds are skipped (dataChange=false) and its displaced files still serve — Delta's streaming-source read",
      "q220_shallow_clone" -> "zero-copy snapshot clone: the clone's first generation's live set IS the source file list; writable branch diverges by restating source paths out of its own live set, source untouched",
      "q221_feed_apply" -> "the CDC loop closed: q211's change feed drives a DERIVED store's maintenance — delete rows become key tombstones, update/insert rows keyed merges, only affected partitions rewrite; result == the post-delete snapshot (q210's oracle)",
      "q222_stream_insert_log" -> "BRONZE streaming ingest: raw micro-batches as insert generations, gen id = window id — exactly-once from the gen-id guard alone (fresh-checkpoint replay appends nothing), conflict-free by construction",
      "q223_partial_relayout" -> "liquid-clustering economics: only the DECAYED files rewrite when the metric fires (GenLog.replaceFiles, dataChange=false) — the month-clustered base survives byte-identically; rewrite cost ∝ decayed data, never the table",
      "q224_restore_generation" -> "ROLLBACK as a generation: restore re-lists the pre-delete generation's files (zero bytes written — the manifest is the rollback), the delete stays AS-OF auditable, a vacuumed target fails loudly",
      "q225_delete_mor" -> "MERGE-ON-READ delete: matched (file, row-position) pairs land in a _dv sidecar the reader anti-joins via _metadata.row_index — not one data file touched, q210's CoW oracle verbatim; O(matched positions) now vs read amplification later",
      "q226_dv_materialize" -> "the DV debt settled: exactly the vector-referenced files rewrite without their deleted rows, vectors drop, dataChange=false — read amplification moves, answers do not (same oracle again)",
      "q227_dv_debt_settlement" -> "DV economics closed: debt metric (vector rows / data rows, commit metadata only) priced per wave, sidecar compaction between waves, bound-triggered materialization — q210's oracle at every stage",
      "q228_zoned2d_relayout" -> "2-D maintained skipping: aligned Morton blocks, worst-dimension width metric, z-order recluster on bound crossing, box pruned on BOTH envelopes — q195's oracle verbatim",
      "q229_zoned2d_partial" -> "2-D liquid clustering: only the decayed files rewrite into Morton blocks (GenLog.replaceFiles, dataChange=false) — the z-blocked base survives byte-identically; same oracle",
      "q230_restore_feed" -> "the rollback feeds CDC: restore's change files from the file-list diff, netted to the delete's exact inverse (pure inserts) — derived stores absorb a rollback through the same feed path",
      "q231_stream_cdc" -> "streaming CDC source: each micro-batch commit persists its change rows; the windowed feed nets to the cutoff diff — bronze/silver/gold each hop O(new data)",
      "q232_stream_source" -> "the log as a STREAMING SOURCE (Delta-as-a-source): per-commit micro-batches of commit-time change files past a checkpointed version cursor, drained and netted — stream == batch feed (q205's oracle verbatim)",
      "q233_stream_source_adds" -> "the adds-mode stream over the insert table: one micro-batch per insert commit, the dataChange=false OPTIMIZE advances the cursor WITHOUT emitting — the union is the bronze feed, no row re-delivered",
      "q234_asof_timestamp" -> "TIMESTAMP AS OF: monotonically adjusted commit stamps resolve latest-<=-T from O(surviving log objects) metadata; the snapshot read is q204's pinned-file-list plan",
      "q235_multipart_restate" -> "multi-column partitioning through the log: (day, type) tuple directories, STRUCTURAL tuple conflict tokens, a one-tuple restatement replaces exactly its file — siblings byte-identical",
      "q236_bloom_logged" -> "commit-time per-file Blooms on a logged table: driver-side bit probes keep a strict minority of files, pruned scan + exact equality re-applied — q201's oracle with no stats table to lag",
      "q237_column_rename" -> "column mapping: rename as a metadata-only commit; reads project physical->logical at scan, post-rename writes map back — pre/post-rename files merge in ONE scan, flat-rollup oracle under the new name")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of headline queries\n\n")
    sb.append("Generated by `graft.Plans` at sf0.01; asserted properties in ")
    sb.append("`PlanSpec`. Regenerate: `sbt \"runMain graft.Plans\"`.\n")
    sb.append("Each plan is followed by its measured wall time and the\n")
    sb.append("executed plan's accumulated per-node SQL metrics (output rows\n")
    sb.append("and time-type metrics), so the doc shows where each query's\n")
    sb.append("time actually went, not just the shape we hoped for.\n")
    headline.foreach { case (name, note) =>
      val df = SparkEntry.queries(name)(spark, dir)
      val plan = formatted(df)
      // collect(), not count(): count() wraps the frame in a NEW
      // aggregate plan, so the metrics of THIS queryExecution would
      // never accumulate. Second run after warmup so the measured
      // time is the plan's, not codegen's.
      df.collect()
      val df2 = SparkEntry.queries(name)(spark, dir)
      val t0 = System.nanoTime()
      df2.collect()
      val wall = (System.nanoTime() - t0) / 1e9
      val metrics = org.apache.spark.sql.graftbridge.PlanBridge.executedMetrics(df2)
      // the POST-EXECUTION final plan: AQE has finalized every stage
      // and WholeStageCodegen regions carry their *(N) markers — the
      // evidence the formatted (pre-execution) dump cannot show. A
      // codegen FALLBACK (e.g. a Janino method-limit failure, r10's
      // q166) is visible here as a hot node with no *(N) prefix.
      val finalPlan = df2.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)
      val codegenRegions = "\\*\\((\\d+)\\)".r
        .findAllMatchIn(finalPlan).map(_.group(1)).toSet.size
      sb.append(s"\n## $name — $note\n\n```\n$plan```\n")
      sb.append(s"\nFinal executed plan (codegen boundaries: " +
        s"$codegenRegions whole-stage regions):\n\n```\n$finalPlan\n```\n")
      sb.append(f"\nMeasured (warm, sf0.01): $wall%.2f s\n\n```\n")
      sb.append(metrics.mkString("\n"))
      sb.append("\n```\n")
    }
    // Streaming stateful operators (q43/q143 gmws, q158/q159/q160
    // state-v2): these run inside the streaming engine, so there is
    // no batch executedPlan to meter — per-batch evidence
    // (StateOperatorProgress rows added/removed/total, TTL removals)
    // is pinned in StreamingSpec. What the document can show is the
    // ANALYZED plan shape: ONE keyed stateful pass per operator
    // (transformWithState / flatMapGroupsWithState) fed by a pure
    // projection, watermark ahead of the stateful node in the
    // TTL/continuous variants — no joins, no extra exchanges.
    val events = streaming.EventStreams.readEvents(spark, dir)
    val streamingPlans = Seq(
      "q43/q158 sessionize (state-v2, continuous + 6h idle TTL)" ->
        streaming.StateV2.sessionize(events, boundedBacklog = false,
          idleTtlUs = Some(6L * 3600L * 1000000L)).toDF(),
      "q159 multi-touch attribution (MapState, continuous + 6h idle TTL)" ->
        streaming.StateV2.multiTouch(events,
          idleTtlUs = Some(6L * 3600L * 1000000L)).toDF(),
      "q143/q160 last-touch attribution (state-v2, continuous + 6h idle TTL)" ->
        streaming.StateV2.lastTouch(events,
          idleTtlUs = Some(6L * 3600L * 1000000L)).toDF(),
      "q168 trending heavy hitters (MG summary as window state, continuous)" ->
        streaming.StateV2.trendingUsers(events,
          boundedBacklog = false).toDF(),
      "q174 drift histogram maintenance (Complete-mode agg; state = types x <=16 bins by construction)" ->
        queries.StreamingQueries.driftBinned(spark, dir),
      "q177 per-window HLL distinct (256-byte register array as window state, continuous)" ->
        streaming.StateV2.windowDistinct(events, boundedBacklog = false).toDF())
    sb.append("\n# Streaming stateful plans (analyzed shape; metrics in StreamingSpec)\n")
    streamingPlans.foreach { case (name, df) =>
      val plan = df.queryExecution.analyzed.treeString
      sb.append(s"\n## $name\n\n```\n$plan```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
  }
}
