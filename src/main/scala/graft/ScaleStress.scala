package graft

import org.apache.spark.sql.functions._

/** One-off scale audit (next SF up): runs the layout / range-join
  * family (q82/q86/q88/q92) against a 10× replica of sf0.1 and
  * re-measures the z-order row-group skipping ratio at that volume —
  * confirming the bin widths and z-bucket envelopes self-configure
  * off-profile rather than being tuned to the bench SF. Results are
  * recorded in SCALE_NOTES.md.
  *
  * Usage: `runMain graft.ScaleStress [dir]` where dir holds
  * orders.parquet/lineitem.parquet at the larger SF. With no
  * argument the 10× fact replica is built in a temp workspace first
  * (10 order-key-shifted copies of sf0.1; dimension keys untouched so
  * the star stays join-consistent) — the whole audit reproduces from
  * one command against the read-only testdata.
  */
object ScaleStress {

  /** Source corpus for the replicas, shared by every section below.
    * Resolution order: second CLI arg > SPARK_GRAFT_STRESS_SRC env >
    * the container's default testdata location — previously this path
    * was a literal in two places and the no-arg run broke anywhere the
    * testdata lives elsewhere.
    */
  private var srcSf: String = "/root/testdata/sf0.1"

  /** 10 order-key-shifted copies of the source fact tables → temp dir. */
  /** 10 doc_id/vec_id-shifted copies of the source corpus (documents
    * + embeddings), written to a fresh temp dir. Text payloads repeat,
    * which only makes dedup/similarity paths WORK HARDER (every doc
    * gains 9 exact duplicates), so replica timings upper-bound
    * organic 10x growth.
    */
  private def buildCorpusReplica(
      spark: org.apache.spark.sql.SparkSession): String = {
    val srcDocs = spark.read.parquet(s"$srcSf/documents.parquet")
    val nDocs = srcDocs.count()
    val cdir = java.nio.file.Files.createTempDirectory("corpus10x").toString
    srcDocs
      .select(explode(sequence(lit(0L), lit(9L))).as("k"),
        col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      .select((col("doc_id") + col("k") * nDocs).as("doc_id"),
        col("text"), col("lang"), col("source"), col("n_chars"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$cdir/documents.parquet")
    spark.read.parquet(s"$srcSf/embeddings.parquet")
      .select(explode(sequence(lit(0L), lit(9L))).as("k"),
        col("vec_id"), col("embedding"), col("label"))
      .select((col("vec_id") + col("k") * nDocs).as("vec_id"),
        col("embedding"), col("label"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$cdir/embeddings.parquet")
    cdir
  }

  /** Vocabulary-adversarial PassJoin audit (q166). The test corpus's
    * part vocabulary is 64 short names with rare near-matches; the
    * 100 TB fuzzy-join risk profile is the opposite — a large
    * vocabulary of LONG names with DENSE near-match families. This
    * axis builds a 100× synthetic vocabulary (6,400 names of 54
    * chars: 640 md5-derived bases × 10 single-character-substitution
    * variants, so every intra-family pair is a true match at k=2 —
    * ~45 true pairs per family, ~28.8k corpus-wide vs ~20.5M brute
    * pairs) and drives it through the SAME passJoinCandidates /
    * passJoinVerified plan as q166, recording the candidate count,
    * candidate-to-brute-pair ratio (blocking selectivity), verified
    * pairs, and walls. What must hold at scale: candidates track the
    * TRUE pair density (the signature equi-join is complete but
    * selective), never the quadratic brute count.
    */
  private def passJoin100xStress(spark: org.apache.spark.sql.SparkSession): Unit = {
    val bases = 640
    val variants = 10
    // 54-char deterministic base names; variant j substitutes char
    // 'a'+j at 1-based position 1+5j, so any two variants of one base
    // differ at <= 2 positions (a true pair at k=2) while cross-base
    // pairs are md5-random (true-negative)
    val base = spark.range(bases).select(
      concat(lit("part-"), md5(concat(lit("pj"), col("id").cast("string"))),
        lit("-"), substring(md5(concat(lit("pjx"), col("id").cast("string"))), 1, 16))
        .as("base"))
    val names = base
      .select(col("base"), explode(sequence(lit(0), lit(variants - 1))).as("v"))
      .select(concat(
        expr("substring(base, 1, v * 5)"),
        expr("chr(97 + v)"),
        expr("substring(base, v * 5 + 2, 54)")).as("p_name"))
      .groupBy("p_name").agg(count(lit(1)).as("cnt"))
    val v = names.count()
    val brutePairs = v * (v - 1) / 2
    val t0 = System.nanoTime()
    val nCand = queries.Dedup.passJoinCandidates(names).count()
    val candWall = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val nPairs = queries.Dedup.passJoinVerified(names).count()
    val verifyWall = (System.nanoTime() - t1) / 1e9
    println(f"[stress] q166_passjoin@100x vocab=$v brute_pairs=$brutePairs " +
      f"candidates=$nCand (${nCand.toDouble / brutePairs * 100}%.3f%% of brute, " +
      f"${nCand.toDouble / math.max(nPairs, 1)}%.1fx verified) " +
      f"verified_pairs=$nPairs cand_wall=$candWall%.2f s " +
      f"full_wall=$verifyWall%.2f s")
  }

  /** Focused 10x audit of the hybrid-RRF pair: brute-force dense leg
    * vs the IVF-pruned swap on the same replica corpus.
    */
  private def rrf10xStress(spark: org.apache.spark.sql.SparkSession): Unit = {
    val cdir = buildCorpusReplica(spark)
    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[stress] $name rows=$n wall=${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    time("q163_hybrid_rrf@10x")(queries.Retrieval.q163(spark, cdir).count())
    time("q163_hybrid_rrf_ivf@10x")(
      queries.Retrieval.q163Ivf(spark, cdir, cells = 64, nprobe = 4).count())
    // leg decomposition: on THIS adversarial replica (tiny shared
    // vocabulary, posting lists ~corpus-sized) the sparse leg's
    // contribution volume dominates both hybrids equally; the IVF
    // gain is only visible leg-by-leg
    time("q163_sparse_leg@10x")(
      queries.Retrieval.sparseRanks(spark, cdir).count())
    time("q163_dense_brute_leg@10x")(
      queries.Retrieval.denseRanksBrute(spark, cdir).count())
    time("q163_dense_ivf_leg@10x")(
      queries.Retrieval.denseRanksIvf(spark, cdir, 64, 4).count())
  }

  private def buildFactReplica(spark: org.apache.spark.sql.SparkSession): String = {
    val src = srcSf
    val d = java.nio.file.Files.createTempDirectory("sf1-replica").toString
    val od = spark.read.parquet(s"$src/orders.parquet")
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    val keySpan = od.agg(max("o_orderkey")).head().getLong(0) + 1
    def shifted(df: org.apache.spark.sql.DataFrame, key: String) = {
      val rest = df.columns.filterNot(_ == key).map(col)
      df.select((explode(sequence(lit(0L), lit(9L)))).as("k") +: df.columns.map(col): _*)
        .select(((col(key) + col("k") * keySpan)).as(key) +: rest: _*)
    }
    shifted(od, "o_orderkey").repartition(16)
      .write.mode("overwrite").parquet(s"$d/orders.parquet")
    shifted(li, "l_orderkey").repartition(32)
      .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    println(s"[stress] built 10x fact replica at $d")
    d
  }

  /** Length-shifted q126 stress (`runMain graft.ScaleStress len126`):
    * same document COUNT, each text repeated 10× — the axis the
    * count-shifted replica cannot exercise, because per-document cost
    * is what separates the fused O(d) repMetrics kernel from the
    * declarative O(d²) HOF build. Times the kernel at 1× and 10×
    * length (expect ~linear), and the declarative build at 10× length
    * on a 1-in-25 sample (quadratic: 10× length ≈ 100× per-doc work —
    * sampled so the contrast run finishes). Numbers → SCALE_NOTES.md.
    */
  private def len126Stress(spark: org.apache.spark.sql.SparkSession): Unit = {
    val srcDocs = spark.read.parquet(s"$srcSf/documents.parquet")
    val ldir = java.nio.file.Files.createTempDirectory("len10x").toString
    srcDocs.select(col("doc_id"),
        concat_ws(" ", array_repeat(col("text"), 10)).as("text"),
        col("lang"), col("source"), (col("n_chars") * 10).as("n_chars"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$ldir/documents.parquet")
    def timeNoop(name: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      println(f"[stress] $name wall=${(System.nanoTime() - t0) / 1e9}%.2f s (noop sink)")
    }
    timeNoop("q126_kernel@len1x")(queries.CurationOps.q126(spark, srcSf))
    timeNoop("q126_kernel@len10x")(queries.CurationOps.q126(spark, ldir))
    timeNoop("q126_declarative@len10x/25") {
      spark.read.parquet(s"$ldir/documents.parquet")
        .where(col("doc_id") % 25 === 0)
        .select(col("doc_id"), queries.CurationOps.repMetricsDeclarative.as("m"))
        .select(col("doc_id"), col("m.*"))
    }
  }

  /** BPE at a realistic merge count (`runMain graft.ScaleStress
    * bpe256`): q150 trains 8 merges for the oracle; real tokenizers
    * train thousands, and the scaling risk is the per-iteration
    * driver round-trip (one argmax collect + plan rebuild + eager
    * localCheckpoint per merge). This trains 256 merges on the sf0.1
    * vocabulary and prints the per-iteration wall profile — flat
    * timing in iteration count is the pass criterion (each iteration
    * re-plans from a lineage-truncated checkpoint, so cost must not
    * grow with step index; stale checkpoints are unpersisted inside
    * bpeTrain). Numbers → SCALE_NOTES.md.
    */
  private def bpe256Stress(spark: org.apache.spark.sql.SparkSession): Unit = {
    def avg(xs: collection.Seq[Double]) = xs.sum / math.max(xs.size, 1)
    def train(label: String, seg: org.apache.spark.sql.DataFrame, n: Int): Unit = {
      val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
      val t0 = System.nanoTime()
      val merges = queries.CorpusOps.bpeTrain(seg, n,
        (step, w) => {
          walls += w
          if (step % 32 == 0) println(f"[stress] $label merge $step wall=$w%.3f s")
        })
      val total = (System.nanoTime() - t0) / 1e9
      val mid = walls.slice(walls.size / 2 - 8, walls.size / 2 + 8)
      println(f"[stress] $label: trained ${merges.size}/$n merges in $total%.1f s; " +
        f"per-iter first16=${avg(walls.take(16))}%.3f s " +
        f"mid16=${avg(mid)}%.3f s last16=${avg(walls.takeRight(16))}%.3f s " +
        f"(flat-or-falling = plan-rebuild cost does NOT accumulate)")
      println(s"[stress] $label last merges: ${merges.takeRight(3).mkString(", ")}")
    }
    // natural sf0.1 vocabulary first: small enough that training runs
    // to COMPLETE vocabulary collapse (segPairs empty) — the early-stop
    // path at realistic depth
    train("bpe-natural", queries.CorpusOps.vocabSegFrame(spark, srcSf), 256)
    // the 256-merge demonstration needs a vocabulary that survives 256
    // merges: augment with adjacent-word bigrams joined as single
    // words — same corpus, same Zipfian shape, ~30× the distinct
    // surface forms and much longer character sequences
    val docs = spark.read.parquet(s"$srcSf/documents.parquet")
    val toks = split(col("text"), " ")
    val big = docs
      .select(explode(transform(sequence(lit(1), size(toks) - 1),
        i => concat(element_at(toks, i), element_at(toks, i + 1)))).as("w"))
      .where(length(col("w")) >= 2 && col("w").rlike("^[a-z]+$"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val chars = transform(sequence(lit(1), length(col("w"))),
      i => col("w").substr(i, lit(1)))
    val segBig = big.select(array_join(chars, "·").as("seg"), col("cnt"))
    println(s"[stress] bpe-bigram vocabulary: ${big.count()} surface forms")
    train("bpe-bigram256", segBig, 256)
  }

  /** BPE APPLY at realistic merge depth (`runMain graft.ScaleStress
    * bpeapply`): trains 256 merges on the bigram-augmented sf0.1
    * vocabulary (the bpe256 corpus), then segments that vocabulary
    * (a) through the one-pass greedy kernel (q162's path: ONE
    * StaticInvoke projection) and (b) through the rank-order fold
    * (q152's path: one Catalyst column transform PER MERGE — plan
    * depth grows with the table). The fold is additionally timed at
    * 32/64/128 merges to expose the growth curve; the kernel at the
    * same depths to show flatness. Numbers → SCALE_NOTES.md.
    */
  private def bpeApplyStress(spark: org.apache.spark.sql.SparkSession): Unit = {
    import org.apache.spark.sql.DataFrame
    val docs = spark.read.parquet(s"$srcSf/documents.parquet")
    val toks = split(col("text"), " ")
    val big = docs
      .select(explode(transform(sequence(lit(1), size(toks) - 1),
        i => concat(element_at(toks, i), element_at(toks, i + 1)))).as("w"))
      .where(length(col("w")) >= 2 && col("w").rlike("^[a-z]+$"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val chars = transform(sequence(lit(1), length(col("w"))),
      i => col("w").substr(i, lit(1)))
    val segBig = big.select(col("w"), array_join(chars, "·").as("seg"), col("cnt"))
    println(s"[stress] bpeapply vocabulary: ${big.count()} surface forms")
    val merges = queries.CorpusOps.bpeTrain(
      segBig.select(col("seg"), col("cnt")), 256)
    println(s"[stress] trained ${merges.size} merges")
    def timeNoop(name: String)(df: => DataFrame): Unit = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      println(f"[stress] $name wall=${(System.nanoTime() - t0) / 1e9}%.2f s (noop sink)")
    }
    Seq(32, 64, 128, 256).foreach { depth =>
      val sub = merges.take(depth)
      timeNoop(s"bpe_apply_kernel@$depth") {
        segBig.select(col("w"),
          graft.functions.TextKernels.bpeEncodeCol(col("w"),
            queries.CorpusOps.mergesLit(sub)).as("seg"))
      }
      timeNoop(s"bpe_apply_fold@$depth") {
        sub.foldLeft(segBig.select(col("w"), col("seg"))) {
          case (d, (_, lf, rt, _, _)) =>
            d.withColumn("seg", queries.CorpusOps.testMergeFold(lf, rt))
        }
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local("graft-scale-stress")
    srcSf = args.lift(1)
      .orElse(sys.env.get("SPARK_GRAFT_STRESS_SRC"))
      .getOrElse(srcSf)
    if (args.headOption.contains("len126")) {
      len126Stress(spark); spark.stop(); return
    }
    if (args.headOption.contains("bpeapply")) {
      bpeApplyStress(spark); spark.stop(); return
    }
    if (args.headOption.contains("bpe256")) {
      bpe256Stress(spark); spark.stop(); return
    }
    if (args.headOption.contains("rrf10x")) {
      rrf10xStress(spark); spark.stop(); return
    }
    if (args.headOption.contains("passjoin100x")) {
      passJoin100xStress(spark); spark.stop(); return
    }
    val dir = args.headOption.getOrElse(buildFactReplica(spark))

    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[stress] $name rows=$n wall=${(System.nanoTime() - t0) / 1e9}%.2f s")
    }

    time("q82_range_join_binned")(queries.RangeJoin.q82(spark, dir).count())
    // two-pass exact quantiles on the 6M-row replica: the rescan's
    // candidate-bin filter keeps the window sort at ~n/512 rows/group
    time("q165_exact_quantiles@10x")(
      queries.SketchQueries.q165(spark, dir).count())
    time("q86_zorder_layout")(queries.Layout.q86(spark, dir).count())
    time("q88_range_join_auto")(queries.RangeJoin.q88(spark, dir).count())
    time("q92_spatial_join")(queries.RangeJoin.q92(spark, dir).count())

    // q86 envelope audit at 10x: the aligned-z-block rectangle bound
    // (< 512 per key) is volume-independent — verify, don't assume
    val envs = queries.Layout.q86(spark, dir)
      .select(max(col("p_max") - col("p_min")).as("p_span"),
        max(col("s_max") - col("s_min")).as("s_span"))
      .head()
    println(s"[stress] q86 max envelope spans at 10x: part=${envs.getLong(0)} supp=${envs.getLong(1)}")

    // round-13 extension: the zone-map FILE-skipping layer at 6M
    // rows — layout + stats builds are setup-class (reported
    // separately); the timed queries then read only envelope-
    // intersecting files, so their walls must track the 3-month
    // window / 2-D box, never the corpus. q199 additionally absorbs
    // the append wave (wave-sized write + wave-only stats scan) and
    // its re-ensure must be a log hit. All six scratch tables dropped.
    locally {
      val t0 = System.nanoTime()
      val (z1, z1s) = queries.Layout.ensureShipdateZoned(spark, dir)
      val (z2, z2s) = queries.Layout.ensureZorderZoned(spark, dir)
      println(f"[stress] q194_zoned_layouts_build@10x wall=${(System.nanoTime() - t0) / 1e9}%.2f s")
      time("q194_zonemap_pruned@10x")(queries.Layout.q194(spark, dir).count())
      time("q195_zonemap_zorder@10x")(queries.Layout.q195(spark, dir).count())
      val t1 = System.nanoTime()
      val (z3, z3s) = queries.Layout.ensureShipdateZonedInc(spark, dir)
      println(f"[stress] q199_base_plus_wave_build@10x wall=${(System.nanoTime() - t1) / 1e9}%.2f s")
      val t2 = System.nanoTime()
      queries.Layout.ensureShipdateZonedInc(spark, dir)
      println(f"[stress] q199_reensure_log_hit@10x wall=${(System.nanoTime() - t2) / 1e9}%.2f s")
      time("q199_zonemap_incremental@10x")(queries.Layout.q199(spark, dir).count())
      // bloom point lookup at 6M rows: ~400 files of ~1500 rows each,
      // the probe reads the true files + the bounded FP tail — wall
      // must track files-read, never the corpus
      val t4 = System.nanoTime()
      val (z4, z4s) = queries.Layout.ensureBloomZoned(spark, dir)
      println(f"[stress] q201_bloom_layout_build@10x wall=${(System.nanoTime() - t4) / 1e9}%.2f s")
      time("q201_bloom_skipping@10x")(queries.Layout.q201(spark, dir).count())
      // round-16: the same point lookup with the Blooms carried IN
      // the log's commit objects — build wall includes the one
      // stats+bloom aggregate over the written files (∝ the batch);
      // the probe reads the bloom-matched minority
      val t5 = System.nanoTime()
      val bloc = queries.Layout.ensureBloomLogged(spark, dir)
      println(f"[stress] q236_bloom_logged_build@10x wall=${(System.nanoTime() - t5) / 1e9}%.2f s")
      time("q236_bloom_logged@10x")(queries.Layout.q236(spark, dir).count())
      org.apache.spark.network.util.JavaUtils.deleteRecursively(
        new java.io.File(bloc))
      for (tbl <- Seq(z1, z1s, z2, z2s, z3, z3s, z4, z4s)) {
        val loc = new java.io.File(graft.io.Warehouse.tableLocation(spark, tbl))
        spark.sql(s"DROP TABLE IF EXISTS $tbl")
        org.apache.spark.network.util.JavaUtils.deleteRecursively(loc)
      }
    }

    // measured skipping at 6M rows: z-ordered vs unsorted layout of
    // the same rows, same selective predicate on EACH key, scan
    // numOutputRows = rows surviving row-group pruning
    val base = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_partkey").as("x"), col("l_suppkey").as("y"),
        col("l_quantity"))
    val out = java.nio.file.Files.createTempDirectory("zstress").toString
    graft.io.Writers.zOrderedParquet(base, s"$out/zsorted", col("x"), col("y"),
      numFiles = Some(64))
    base.repartition(8).write.mode("overwrite").parquet(s"$out/unsorted")
    val xMax = base.agg(max("x")).head().getLong(0)
    def scanned(path: String, cond: org.apache.spark.sql.Column): Long = {
      val df = spark.read.parquet(path).where(cond)
      df.collect()
      df.queryExecution.executedPlan.collectLeaves().head
        .metrics("numOutputRows").value
    }
    for ((label, cond) <- Seq(
      ("x<=2%dom", col("x") <= xMax / 50),
      ("y<=2", col("y") <= 2))) {
      val z = scanned(s"$out/zsorted", cond)
      val u = scanned(s"$out/unsorted", cond)
      println(f"[stress] skipping $label: zsorted scans $z rows, unsorted $u (${u.toDouble / z}%.1fx)")
    }

    // ---- corpus family at 10x (self-generated replica) ----
    // 10 doc_id-shifted copies of the sf0.1 corpus (50k docs). Text
    // payloads repeat, which only makes the dedup paths WORK HARDER
    // (every doc gains 9 exact near-duplicates), so these timings are
    // an upper bound on organic 10x growth.
    val cdir = buildCorpusReplica(spark)
    time("q105_boilerplate_ngrams@10x")(queries.CorpusOps.q105(spark, cdir).count())
    // water-filling at 10x: one per-source token aggregate, then
    // sources-sized window math — the corpus-scale cost IS the scan
    time("q167_token_waterfill@10x")(
      queries.PipelineOps.q167(spark, cdir).count())
    time("q100_decontamination@10x")(queries.PipelineOps.q100(spark, cdir).count())
    time("q109_bpe_pairs@10x")(queries.CorpusOps.q109(spark, cdir).count())
    time("q102_sequence_packing@10x")(queries.PipelineOps.q102(spark, cdir).count())
    time("q32_dedup_exact_docs@10x")(queries.Dedup.q32(spark, cdir).count())
    // round-6 family at 10x. NOTE the replica is ADVERSARIAL for the
    // similarity joins: text payloads repeat verbatim, so every
    // original near-pair becomes 10x10 replica pairs and every doc
    // gains 45 identical-copy pairs — candidate volume grows
    // QUADRATICALLY in the duplication factor, an upper bound organic
    // 10x growth never reaches. The candidate FRACTION (candidates /
    // all-pairs) is the scale-invariant to watch: the prefix+length+
    // positional filters admit a fraction set by the corpus's
    // similarity structure, not its row count.
    time("q122_bm25_topk@10x")(queries.Retrieval.q122(spark, cdir).count())
    // round-13: the maintained tf index at 10x — base (7/8 of 50k
    // docs) builds once, the wave's postings bucket-append; scoring
    // over the maintained layout must track q122's wall. Scratch —
    // drop after timing.
    time("q192_bm25_incremental@10x")(queries.Retrieval.q192(spark, cdir).count())
    locally {
      val ti = queries.Retrieval.tfIndexIncTable(spark, cdir)
      val loc = new java.io.File(graft.io.Warehouse.tableLocation(spark, ti))
      spark.sql(s"DROP TABLE IF EXISTS $ti")
      org.apache.spark.network.util.JavaUtils.deleteRecursively(loc)
    }
    time("q123_lm_quality@10x")(queries.Retrieval.q123(spark, cdir).count())
    time("q121_ssjoin_exact@10x")(queries.Dedup.q121(spark, cdir).count())
    val nd = queries.Dedup.ssDocs(spark, cdir).count()
    val nCand = queries.Dedup.ssCandidates(spark, cdir).count()
    val candFrac = nCand.toDouble / (nd * (nd - 1) / 2)
    println(f"[stress] q121 candidates@10x: $nCand (${candFrac * 100}%.3f%% of ${nd * (nd - 1) / 2} pairs)")
    // round-7 family: q127's window-hash aggregate is corpus-sized and
    // the replica is again adversarial (every window occurs 10x, so
    // the ENTIRE corpus becomes duplicated spans — maximal hit lists)
    time("q127_window_dedup@10x")(queries.CurationOps.q127(spark, cdir).count())
    // CDC chunking at 10x: same winHash scan as q127 but the shuffle
    // carries one row per CHUNK (~n/D windows), not per window; the
    // replica is adversarial as above (every chunk duplicated 10x)
    time("q164_cdc_chunks@10x")(queries.CurationOps.q164(spark, cdir).count())
    time("q131_source_overlap@10x")(queries.CurationOps.q131(spark, cdir).count())
    // hybrid RRF at 10x: probes grow 10x with the corpus, so the
    // dense brute-force leg scales (probes x corpus); the sparse leg
    // rebuilds the replica's own term-bucketed tf index
    time("q163_hybrid_rrf@10x")(queries.Retrieval.q163(spark, cdir).count())
    // the documented dense-leg swap, measured: IVF cell pruning
    // (64 cells, nprobe 4 → ~1/16 of the corpus per probe) replaces
    // the probes x corpus brute-force cosine; the sparse leg and the
    // fusion are byte-identical code paths
    time("q163_hybrid_rrf_ivf@10x")(
      queries.Retrieval.q163Ivf(spark, cdir, cells = 64, nprobe = 4).count())
    // streaming ingest trim at 10x: builds the replica's own warehouse
    // window index (fingerprinted to the temp corpus), then the
    // stream-static probe — state is the alert set, never the stream
    time("q132_stream_span_trim@10x")(
      queries.StreamingQueries.q132(spark, cdir).count())
    // map-heavy kernels through the noop sink (count() would prune the
    // very projections under audit): the fused fingerprint+simhash
    // pass and the per-pixel resize over 500k docs
    def timeNoop(name: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      println(f"[stress] $name wall=${(System.nanoTime() - t0) / 1e9}%.2f s (noop sink)")
    }
    timeNoop("q30_fingerprint@10x")(queries.TextAnalysis.q30(spark, cdir))
    timeNoop("q126_repetition_suite@10x")(queries.CurationOps.q126(spark, cdir))
    timeNoop("q90_resize_grid@10x")(queries.MultimodalQueries.q90(spark, cdir))
    // round-10 family at 10x — collect(), not count(): these end in
    // tiny label/source rollups, and count() would let Catalyst prune
    // the very encode/audit expressions under measurement. Outputs
    // are <= 20 rows, driver-safe by construction.
    def timeCollect(name: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
      val t0 = System.nanoTime()
      val n = df.collect().length
      println(f"[stress] $name rows=$n wall=${(System.nanoTime() - t0) / 1e9}%.2f s (collect)")
    }
    // SQ8 + random projection over 500k embeddings: both are scan-
    // dominated map passes (broadcast scales / literal sign matrix)
    timeCollect("q171_sq8_quantize@10x")(queries.PqQueries.q171(spark, cdir))
    timeCollect("q173_rand_proj@10x")(queries.PqQueries.q173(spark, cdir))
    // HLL over the 10x token stream: the replica repeats text, so
    // exact_distinct is UNCHANGED while n_tokens grows 10x — register
    // state (and the estimate) must be replica-invariant
    timeCollect("q172_hll_distinct@10x")(queries.SketchQueries.q172(spark, cdir))
    // drift audit at 10x: one corpus scan into sources x 16 bins
    timeCollect("q170_dist_drift@10x")(queries.CurationOps.q170(spark, cdir))
    // incremental CDC dedup at 10x: the chunk-index BUILD over the
    // 5M-doc history (setup-class, reported separately) then the
    // batch probe. The replica repeats every doc 10x, so history
    // coverage of batch chunks approaches 100% — the join-heavy
    // direction. Scratch warehouse table dropped after timing.
    locally {
      val t0 = System.nanoTime()
      queries.CurationOps.persistedChunkIndex(spark, cdir)
      println(f"[stress] q176_chunk_index_build@10x wall=${(System.nanoTime() - t0) / 1e9}%.2f s")
      timeCollect("q176_cdc_incremental@10x")(queries.CurationOps.q176(spark, cdir))
      val t = s"graft_cdc_chunks_${java.lang.Integer.toHexString(cdir.hashCode)}"
      val loc = new java.io.File(graft.io.Warehouse.tableLocation(spark, t))
      spark.sql(s"DROP TABLE IF EXISTS $t")
      org.apache.spark.network.util.JavaUtils.deleteRecursively(loc)
    }
    // incremental source-sketch maintenance at 10x: two corpus-slice
    // register aggregates + an O(sources) full-outer merge — the wall
    // is two scans of the 50k-doc replica; the merge itself is
    // sources-sized and must not register on the clock at any volume
    timeCollect("q185_hll_incremental@10x")(
      queries.SketchQueries.q185(spark, cdir))
    // PQ code store at 10x embeddings (20k vectors): setup trains the
    // coarse codebook + writes the cell-partitioned code layout ONCE;
    // the timed probe then reads only the probed cells' code rows —
    // wall tracks probes × probed-cell contents, never the corpus.
    // Both warehouse artifacts are scratch — drop after timing.
    locally {
      val t0 = System.nanoTime()
      val t = queries.PqQueries.ensurePqCellStore(spark, cdir)
      println(f"[stress] q187_store_build@10x wall=${(System.nanoTime() - t0) / 1e9}%.2f s")
      timeCollect("q187_pq_store_search@10x")(queries.PqQueries.q187(spark, cdir))
      // round-13: the maintained ANN cell store at 10x — base build +
      // wave absorption (assigns ONLY the ~2.5k wave vectors and
      // rewrites only their cell dirs), then the exactly-once
      // re-ensure (an ingest-log hit that must not register on the
      // clock), then the pruned probe over the maintained layout
      val tInc = locally {
        val t1 = System.nanoTime()
        val ti = queries.AnnTrained.ensureIncrementalCellStore(spark, cdir)
        println(f"[stress] q190_base_plus_wave_build@10x wall=${(System.nanoTime() - t1) / 1e9}%.2f s")
        val t2 = System.nanoTime()
        queries.AnnTrained.ensureIncrementalCellStore(spark, cdir)
        println(f"[stress] q190_reensure_log_hit@10x wall=${(System.nanoTime() - t2) / 1e9}%.2f s")
        ti
      }
      timeCollect("q190_ann_store_incremental@10x")(
        queries.AnnTrained.q190(spark, cdir))
      // round-13 extension: streaming vector ingestion at 10x (20k
      // vectors through 4 micro-batches under the frozen codebook —
      // reusing the codebook the q190 axis just trained). The ingest
      // wall is stream lifecycle + 4 assign-and-append batches; the
      // probe then serves from the streamed store at q182's shape.
      locally {
        val t3 = System.nanoTime()
        val ts = graft.streaming.VectorIngest.ensureStreamedCellStore(spark, cdir)
        println(f"[stress] q197_stream_ingest@10x wall=${(System.nanoTime() - t3) / 1e9}%.2f s")
        timeCollect("q197_stream_vector_ingest@10x")(
          queries.AnnTrained.q197(spark, cdir))
        for (tbl <- Seq(ts, graft.streaming.VectorIngest.waveTable(cdir))) {
          val loc = new java.io.File(graft.io.Warehouse.tableLocation(spark, tbl))
          spark.sql(s"DROP TABLE IF EXISTS $tbl")
          org.apache.spark.network.util.JavaUtils.deleteRecursively(loc)
        }
      }
      for (tbl <- Seq(t, tInc,
        graft.operators.KMeansCodebook.tableName(cdir,
          queries.AnnTrained.Cells, queries.AnnTrained.Iters))) {
        val loc = new java.io.File(graft.io.Warehouse.tableLocation(spark, tbl))
        spark.sql(s"DROP TABLE IF EXISTS $tbl")
        org.apache.spark.network.util.JavaUtils.deleteRecursively(loc)
      }
    }
    // round-13 extension: the maintained near-dup index at 10x. The
    // replica repeats every doc 10x, so the wave (62.5k docs) finds
    // ~9 exact twins per doc through the stored band index — the
    // join-heavy upper bound on organic growth. Base build is
    // setup-class; the re-ensure must be a log hit; the probe is the
    // q34-shaped top-30.
    locally {
      val t1 = System.nanoTime()
      val prs = queries.Dedup.ensureIncrementalNearDup(spark, cdir)
      println(f"[stress] q196_base_plus_wave_build@10x wall=${(System.nanoTime() - t1) / 1e9}%.2f s")
      val t2 = System.nanoTime()
      queries.Dedup.ensureIncrementalNearDup(spark, cdir)
      println(f"[stress] q196_reensure_log_hit@10x wall=${(System.nanoTime() - t2) / 1e9}%.2f s")
      timeCollect("q196_lsh_index_incremental@10x")(queries.Dedup.q196(spark, cdir))
      val (idx, _) = queries.Dedup.nearDupTables(cdir)
      for (tbl <- Seq(idx, prs)) {
        val loc = new java.io.File(graft.io.Warehouse.tableLocation(spark, tbl))
        spark.sql(s"DROP TABLE IF EXISTS $tbl")
        org.apache.spark.network.util.JavaUtils.deleteRecursively(loc)
      }
    }
    // graph: the 10x fact replicas in `dir` feed the edge build;
    // dimensions are volume-invariant, so the sf0.1 dims complete the
    // star (replica fact keys verified in-range). Assembled in a TEMP
    // workspace via symlinks — the tool must not mutate an input
    // directory it does not own.
    val gdir = java.nio.file.Files.createTempDirectory("graph10x")
    for ((t, src) <- Seq(
      "orders" -> dir, "lineitem" -> dir,
      "customer" -> srcSf, "supplier" -> srcSf, "nation" -> srcSf))
      java.nio.file.Files.createSymbolicLink(
        gdir.resolve(s"$t.parquet"),
        java.nio.file.Paths.get(src, s"$t.parquet").toAbsolutePath)
    time("q112_trade_pagerank@10x")(
      queries.GraphOps.q112(spark, gdir.toString).count())
    // triangle census at 10x: the replica repeats each order's part
    // set 10 times (shifted orderkeys, SAME parts), so every pair's
    // support is x10 and far more pairs clear MinSupport — edge count
    // grows toward pair-population saturation, a denser graph than
    // organic 10x growth would make. Degree orientation is what must
    // hold: wall tracks the oriented wedge count, never deg_max^2.
    time("q139_triangle_count@10x")(
      queries.GraphOps.q139(spark, gdir.toString).count())
    // SCD2 at 10x: the replica shifts only orderkeys, so this is 10x
    // the change-log rows on the SAME custkeys — per-key run lengths
    // grow 10x, the direction that stresses the sorted window pass
    time("q140_scd2_intervals@10x")(
      queries.TemporalOps.q140(spark, gdir.toString).count())
    // one-pass profile at 10x: 6M rows x 4 columns through the
    // single Expand aggregate — the exact-NDV cost scales with the
    // high-cardinality column's distinct count (l_extendedprice),
    // the quantity q179 (measured next) replaces with HLL partials.
    // Noop sink: count() of the 4-row unpivot would let Catalyst
    // prune every profiled aggregate and measure nothing.
    timeNoop("q145_column_profile@10x")(
      queries.SketchQueries.q145(spark, gdir.toString))
    // the HLL-NDV profile twin at 10x: same 6M x 4 columns through
    // ONE keyed aggregate with 256-byte state — the wall must track
    // the scan, never the per-column NDV (q145's exact path pays the
    // (col, value) exchange; this one has no distinct work at all)
    timeCollect("q179_profile_hll@10x")(
      queries.SketchQueries.q179(spark, gdir.toString))
    // incremental ANALYZE at 10x: base+batch slices each pay the q179
    // moments pass and the q181 histogram aggregate over the 6M-row
    // replica (four scans total here — production scans ONLY the
    // appended slice); the merge itself is O(columns) algebra, so the
    // wall must read as two q179-scale passes, never as distinct work
    timeCollect("q186_analyze_incremental@10x")(
      queries.AnalyzeOps.q186(spark, gdir.toString))

    // ---- streaming family at 10x (watermark-bounded state audit) ----
    // 10 user-shifted copies of the event stream (1M rows, 10x the
    // key population, SAME 30-day span — more keys per window is the
    // scale direction that grows state). The audit prints peak state
    // rows beside wall: bounded state means peak tracks (active keys x
    // watermark horizon), never stream length.
    // Tables.events normalizes whichever ts encoding this corpus
    // generation carries (nanos-as-long or TIMESTAMP_NTZ) — the
    // replica is then written with a plain zone-adjusted timestamp
    // that every downstream reader handles uniformly
    val srcEv = graft.sources.Tables.events(spark, srcSf)
    val evSpan = srcEv.agg(max("event_id")).head().getLong(0) + 1
    val maxUser = srcEv.agg(max("user_id")).head().getLong(0)
    val sdir = java.nio.file.Files.createTempDirectory("events10x").toString
    val scratch = s"$sdir/_scratch"
    srcEv
      .select(explode(sequence(lit(0L), lit(9L))).as("k"),
        col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("props"))
      .select((col("event_id") + col("k") * evSpan).as("event_id"), col("ts"),
        (col("user_id") + col("k") * (maxUser + 1)).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .coalesce(1).write.mode("overwrite").parquet(scratch)
    // the streaming source globs the flat leaf name events.parquet
    val part = new java.io.File(scratch).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no part file under $scratch"))
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(sdir, "events.parquet"))

    // batch event-analytics family at 10x (1M events, 10x users):
    // the funnel/cohort windows partition by user, so 10x the key
    // population at the same span is the direction that grows the
    // exchange — wall should track rows, never users^2
    time("q133_funnel@10x")(queries.EventsOps.q133(spark, sdir).count())
    time("q134_cohort_retention@10x")(queries.EventsOps.q134(spark, sdir).count())
    time("q135_event_transitions@10x")(queries.EventsOps.q135(spark, sdir).count())
    time("q136_hourly_anomaly@10x")(queries.EventsOps.q136(spark, sdir).count())

    // skew/temporal family at 10x: the salted agg/join spread the
    // SAME 5 hot keys over 10x the rows — wall must track rows (the
    // salt keeps every reducer at 1/16th of a hot key); attribution
    // and cumulative-uniques ride the user exchange like q133-q136
    time("q137_salted_agg@10x")(queries.SkewQueries.q137(spark, sdir).count())
    time("q138_salted_join@10x")(queries.SkewQueries.q138(spark, sdir).count())
    time("q141_cumulative_uniques@10x")(queries.TemporalOps.q141(spark, sdir).count())
    time("q142_last_touch_attribution@10x")(queries.TemporalOps.q142(spark, sdir).count())
    time("q144_trailing_window@10x")(queries.TemporalOps.q144(spark, sdir).count())
    // partitioned layout at 10x: the (untimed, setup-class) build
    // writes 30 one-file day partitions from 1M rows; the timed week
    // query then opens 7 dirs. The replica's table is scratch — drop
    // it and its files after timing so stress runs don't accumulate
    // warehouse garbage.
    val evTable = queries.Bucketed.ensurePartitionedEvents(spark, sdir)
    time("q146_partition_pruned@10x")(queries.Bucketed.q146(spark, sdir).count())
    locally {
      val loc = new java.io.File(graft.io.Warehouse.tableLocation(spark, evTable))
      spark.sql(s"DROP TABLE IF EXISTS $evTable")
      org.apache.spark.network.util.JavaUtils.deleteRecursively(loc)
    }
    // generation log at 10x: four generations over 1M events (each
    // boundary day restated through the log); the snapshot and
    // change-feed reads then resolve pinned file lists — their walls
    // track the day-grained aggregate files, never the raw corpus
    locally {
      val t0 = System.nanoTime()
      val loc = queries.TimeTravel.ensureEventGenerations(spark, sdir)
      println(f"[stress] q203_generation_build@10x wall=${(System.nanoTime() - t0) / 1e9}%.2f s")
      time("q203_snapshot_read@10x")(queries.TimeTravel.q203(spark, sdir).count())
      time("q205_change_feed@10x")(queries.TimeTravel.q205(spark, sdir).count())
      // round-16: timestamp resolution is an O(surviving log objects)
      // metadata read plus the same pinned-list scan; the streaming
      // source's drain wall tracks the CHANGE FILES of the two
      // consumed commits, never the table
      time("q234_asof_timestamp@10x")(queries.TimeTravel.q234(spark, sdir).count())
      time("q232_stream_source@10x")(queries.TimeTravel.q232(spark, sdir).count())
      // GenLog dirs are not catalog tables — just drop the files
      org.apache.spark.network.util.JavaUtils.deleteRecursively(
        new java.io.File(loc))
    }
    // round-16: multi-column partitioning + column mapping at 10x —
    // the one-tuple restatement's BUILD wall tracks one (day, type)
    // tuple of the 1M-event rollup (150 tuple files live; one
    // replaced); the rename is a metadata commit, so the post-rename
    // read's wall is the ordinary merged scan
    locally {
      val t0 = System.nanoTime()
      val mploc = queries.TimeTravel.ensureMultipartGenerations(spark, sdir)
      println(f"[stress] q235_multipart_build@10x wall=${(System.nanoTime() - t0) / 1e9}%.2f s")
      time("q235_multipart_restate@10x")(queries.TimeTravel.q235(spark, sdir).count())
      org.apache.spark.network.util.JavaUtils.deleteRecursively(
        new java.io.File(mploc))
      val t1 = System.nanoTime()
      val rnloc = queries.TimeTravel.ensureRenamedGenerations(spark, sdir)
      println(f"[stress] q237_rename_build@10x wall=${(System.nanoTime() - t1) / 1e9}%.2f s")
      time("q237_column_rename@10x")(queries.TimeTravel.q237(spark, sdir).count())
      org.apache.spark.network.util.JavaUtils.deleteRecursively(
        new java.io.File(rnloc))
    }
    // round-14 DML through the log at 10x: the copy-on-write verbs'
    // BUILD walls are the evidence (delete rewrites only the ten
    // affected day files of the 1M-event rollup; the merge only the
    // matched-key days; the insert waves accumulate without
    // restatement and OPTIMIZE collapses one day) — reads then
    // resolve pinned lists over day-grained aggregates
    locally {
      val t0 = System.nanoTime()
      val dloc = queries.TimeTravel.ensureDeleteGenerations(spark, sdir)
      println(f"[stress] q210_delete_build@10x wall=${(System.nanoTime() - t0) / 1e9}%.2f s")
      time("q210_delete_through_log@10x")(queries.TimeTravel.q210(spark, sdir).count())
      time("q211_change_feed_delete@10x")(queries.TimeTravel.q211(spark, sdir).count())
      org.apache.spark.network.util.JavaUtils.deleteRecursively(
        new java.io.File(dloc))
    }
    locally {
      val t0 = System.nanoTime()
      val mloc = queries.TimeTravel.ensureMergeGenerations(spark, sdir)
      println(f"[stress] q217_merge_build@10x wall=${(System.nanoTime() - t0) / 1e9}%.2f s")
      time("q217_merge_through_log@10x")(queries.TimeTravel.q217(spark, sdir).count())
      org.apache.spark.network.util.JavaUtils.deleteRecursively(
        new java.io.File(mloc))
    }
    locally {
      val t0 = System.nanoTime()
      val iloc = queries.TimeTravel.ensureInsertGenerations(spark, sdir)
      println(f"[stress] q218_insert_compact_build@10x wall=${(System.nanoTime() - t0) / 1e9}%.2f s")
      time("q218_insert_compact@10x")(queries.TimeTravel.q218(spark, sdir).count())
      time("q219_incremental_consume@10x")(queries.TimeTravel.q219(spark, sdir).count())
      org.apache.spark.network.util.JavaUtils.deleteRecursively(
        new java.io.File(iloc))
    }
    // round-15 DML economics at 10x: the MoR debt lifecycle (three
    // delete waves priced by the commit-metadata debt metric, a
    // sidecar compaction, the bound-triggered settlement) and the
    // rollback's commit-time change feed. The BUILD walls are the
    // evidence — cost tracks the affected/differing day files of the
    // 1M-event rollup, never the raw corpus — and the feed read's
    // wall tracks the changed rows alone.
    locally {
      val t0 = System.nanoTime()
      val vloc = queries.TimeTravel.ensureDvDebtGenerations(spark, sdir)
      println(f"[stress] q227_dv_debt_build@10x wall=${(System.nanoTime() - t0) / 1e9}%.2f s")
      time("q227_dv_debt_settlement@10x")(queries.TimeTravel.q227(spark, sdir).count())
      org.apache.spark.network.util.JavaUtils.deleteRecursively(
        new java.io.File(vloc))
    }
    locally {
      val t0 = System.nanoTime()
      val rloc = queries.TimeTravel.ensureRestoredGenerations(spark, sdir)
      println(f"[stress] q230_restore_build@10x wall=${(System.nanoTime() - t0) / 1e9}%.2f s")
      time("q224_restore_generation@10x")(queries.TimeTravel.q224(spark, sdir).count())
      time("q230_restore_feed@10x")(queries.TimeTravel.q230(spark, sdir).count())
      org.apache.spark.network.util.JavaUtils.deleteRecursively(
        new java.io.File(rloc))
    }
    // stream→warehouse HLL seam at 10x: 1M events / 10x user keys
    // through foreachBatch merge-upsert into the maintained register
    // table. Wall = map-side hashing + the hourly aggregate + 30
    // one-file day rewrites; the TABLE stays 720 rows x 256 bytes at
    // any stream rate — print the row count as the state evidence.
    // NOTE: no state-store provider swap here — the seam is
    // foreachBatch over a stateless projection (no transformWithState,
    // no streaming aggregate), so no state store is ever created
    locally {
      val t0 = System.nanoTime()
      val t = graft.streaming.SketchWarehouse.streamHourlyRegs(spark, sdir)
      val hourRows = spark.table(t).count()
      println(f"[stress] q183_stream_hll_warehouse@10x tableRows=$hourRows " +
        f"wall=${(System.nanoTime() - t0) / 1e9}%.2f s")
      val loc = new java.io.File(graft.io.Warehouse.tableLocation(spark, t))
      spark.sql(s"DROP TABLE IF EXISTS $t")
      org.apache.spark.network.util.JavaUtils.deleteRecursively(loc)
    }

    import org.apache.spark.sql.streaming.OutputMode
    import graft.streaming.EventStreams
    def stressStream(name: String, df: org.apache.spark.sql.DataFrame,
      mode: OutputMode): Unit = {
      val t0 = System.nanoTime()
      // pinned: the audit loads 8 state stores whatever the fixture's split count
      val (out, prog) = EventStreams.runToMemoryTracked(df, name, mode, Some(8))
      val rows = out.count()
      val peak = prog.iterator
        .flatMap(p => Option(p.stateOperators).iterator.flatMap(_.iterator))
        .map(_.numRowsTotal).foldLeft(0L)(math.max)
      println(f"[stress] ${name}@10x rows=$rows peakStateRows=$peak " +
        f"wall=${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    stressStream("stream_tumbling",
      EventStreams.tumblingHourly(EventStreams.readEvents(spark, sdir)),
      OutputMode.Complete())
    stressStream("stream_sessions",
      EventStreams.sessionize(EventStreams.readEvents(spark, sdir)).toDF(),
      OutputMode.Append())
    stressStream("stream_interval_join",
      EventStreams.purchaseClickJoin(spark, sdir), OutputMode.Append())
    // per-window HLL at 10x: 1M events, 10x distinct users, SAME
    // window count — peak state must stay at O(windows) rows (one
    // 256-byte register row per window, user count invisible).
    // transformWithState requires the RocksDB provider (q177 sets it
    // the same way; the default HDFSBacked provider has no column
    // families and fails the run).
    locally {
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try stressStream("stream_hll_windows",
        graft.streaming.StateV2.windowDistinct(
          EventStreams.readEvents(spark, sdir)).toDF(),
        OutputMode.Append())
      finally prev match {
        case Some(p) => spark.conf.set(key, p)
        case None    => spark.conf.unset(key)
      }
    }
    // and the persisted-sketch rollup over the same 10x events: both
    // aggregation levels carry constant per-group state
    timeCollect("q178_hll_rollup@10x")(
      queries.SketchQueries.q178(spark, sdir))

    // ---- multi-batch replay: the continuous-operation state bound ----
    // The one-file replay above buffers the FULL filtered backlog in
    // the interval join (watermarks only advance between micro-
    // batches). Re-run the same join over the same 1M events split
    // into 12 time-sliced files delivered one per micro-batch
    // (maxFilesPerTrigger=1): the watermark now advances 11 times
    // mid-backlog, evicting each slice once the 2h horizon passes —
    // peak state must drop from O(backlog) toward O(slice + horizon).
    val mdir = s"$sdir/evmulti"
    val ev10 = spark.read.parquet(s"$sdir/events.parquet")
    val slices = 12
    val sliced = ev10.withColumn("slice",
      ntile(slices).over(org.apache.spark.sql.expressions.Window.orderBy(col("ts"))))
    // sequential one-file writes: FileStreamSource orders by mod time
    (1 to slices).foreach { s =>
      sliced.where(col("slice") === s).drop("slice")
        .coalesce(1).write.mode("append").parquet(mdir)
    }
    // the slices are written from the Tables.events-normalized frame,
    // so ts is already a plain zone-adjusted timestamp here
    def readMulti(): org.apache.spark.sql.DataFrame = {
      val sch = spark.read.parquet(mdir).schema
      spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1").parquet(mdir)
    }
    val clicksM = readMulti().filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "2 hours")
    val purchasesM = readMulti().filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "2 hours")
    stressStream("stream_interval_join_multibatch",
      purchasesM.join(clicksM,
        expr("user_id = c_user AND c_ts >= p_ts - INTERVAL 1 HOUR AND c_ts <= p_ts")),
      OutputMode.Append())

    // ---- round-8 families at 10x ----
    // BPE: the 10x replica multiplies word COUNTS, not the
    // vocabulary, so training cost is dominated by the one corpus
    // scan — the loop's per-iteration work is vocabulary-sized and
    // must stay flat. q152's apply side re-pays the corpus explode.
    time("q150_bpe_train@10x")(queries.CorpusOps.q150(spark, cdir).count())
    time("q152_bpe_apply@10x")(queries.CorpusOps.q152(spark, cdir).count())
    // k-core on the 10x fact replica: shifted order keys multiply
    // per-pair SUPPORT, so the pruned edge set grows and the peel
    // works against a denser graph.
    time("q153_kcore@10x")(queries.GraphOps.q153(spark, dir).count())
    spark.stop()
  }
}
