package graft

import org.apache.spark.sql.functions._
import graft.io.GenLog

/** Round-15 transaction-log safety surface (io/GenLog.scala): the
  * vacuum-vs-stager retention horizon, truncation-safe OCC, the
  * insert-vs-restatement conflict matrix, exact file attribution
  * under physically interleaved stagings, commit-time schema
  * enforcement, the commit-time change feed's economics, and the
  * deletion-vector debt lifecycle. Everything on throwaway locations;
  * the queries' warehouse artifacts are never touched.
  */
class GenLogSafetySpec extends SparkTestBase {

  private def tmpLoc(tag: String): String =
    tempDir(tag) + "/t"

  /** A tiny keyed frame: rows (k, v) under partition p. */
  private def frame(p: String, kvs: (Int, Long)*) = {
    import spark.implicits._
    kvs.toSeq.toDF("k", "v").withColumn("p", lit(p))
  }

  /** (k, v) rows of the latest snapshot — the partition column is a
    * directory key only (partitionBy strips it from the files), so
    * each fixture keeps its keys partition-distinct.
    */
  private def rows(loc: String) =
    GenLog.readLatest(spark, loc).select(col("k"), col("v"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet

  // ----------------------------------------------------------------
  // vacuum retention horizon (round-15 directive #1)
  // ----------------------------------------------------------------

  test("a staged-but-uncommitted generation survives a concurrent vacuum, then commits and reads green") {
    val loc = tmpLoc("gl15-vacstage")
    GenLog.appendBatch(spark, loc, "g1", frame("a", 1 -> 10L, 2 -> 20L), Seq("p"))
    GenLog.appendBatch(spark, loc, "g2", frame("b", 3 -> 30L), Seq("p"))
    // a second writer stages its batch: files are on disk, invisible,
    // indistinguishable from crash orphans by listing alone
    val staged = GenLog.stageAppend(spark, loc, "g3", frame("c", 4 -> 40L), Seq("p"))
    staged.adds.foreach(f => assert(new java.io.File(f).exists()))
    // vacuum with the DEFAULT retention horizon: the staged files are
    // young, so they survive even though no generation references them
    val deleted = GenLog.vacuum(spark, loc, keepLastN = 1)
    assert(deleted.isEmpty,
      s"young unreferenced files must survive the default horizon, got $deleted")
    staged.adds.foreach(f => assert(new java.io.File(f).exists(),
      s"vacuum collected a concurrently staged writer's file: $f"))
    // ...and the staged generation still commits and reads green
    // (its snapshot version IS the retention cut, so the chain holds)
    GenLog.commitStaged(spark, loc, staged)
    assert(rows(loc) == Set(1 -> 10L, 2 -> 20L, 3 -> 30L, 4 -> 40L))
    // the aggressive horizon (tests/emergencies) still collects true
    // orphans: an abandoned staging left behind
    val orphan = GenLog.stageAppend(spark, loc, "dead", frame("z", 9 -> 90L), Seq("p"))
    val swept = GenLog.vacuum(spark, loc, keepLastN = 1, minAgeMs = 0L)
    assert(orphan.adds.forall(swept.contains),
      "an abandoned staging must be collectable past the horizon")
  }

  test("a commit staged against a vacuumed-away snapshot aborts loudly, never corrupts the chain") {
    val loc = tmpLoc("gl15-vactrunc")
    GenLog.appendBatch(spark, loc, "g1", frame("a", 1 -> 10L), Seq("p"))
    GenLog.appendBatch(spark, loc, "g2", frame("b", 2 -> 20L), Seq("p"))
    // staged against v2; then more history lands and vacuum truncates
    val stale = GenLog.stageAppend(spark, loc, "late", frame("c", 3 -> 30L), Seq("p"))
    GenLog.appendBatch(spark, loc, "g3", frame("d", 4 -> 40L), Seq("p"))
    GenLog.vacuum(spark, loc, keepLastN = 1, minAgeMs = 0L)
    // the race window (v3) is gone — disjointness is unprovable, and
    // claiming v3 blind would write an ignored, data-losing commit
    intercept[java.util.ConcurrentModificationException] {
      GenLog.commitStaged(spark, loc, stale)
    }
    assert(GenLog.generations(spark, loc).map(_._1) == Seq("g3"),
      "the aborted stale commit must leave the log untouched")
  }

  // ----------------------------------------------------------------
  // insert-vs-restatement conflicts (ADVICE r14, medium)
  // ----------------------------------------------------------------

  test("a restater racing a blind insert on the same partition aborts; disjoint partitions commit") {
    val loc = tmpLoc("gl15-insclash")
    GenLog.appendBatch(spark, loc, "g1", frame("a", 1 -> 10L), Seq("p"))
    // writer R stages a restatement of partition a...
    val restater = GenLog.stageAppend(spark, loc, "r1", frame("a", 1 -> 11L), Seq("p"))
    // ...an insert into the SAME partition lands first. The insert's
    // file would survive R's removes and break "restates completely":
    // R must abort (Delta's ConcurrentAppendException case).
    GenLog.appendInsert(spark, loc, "i1", frame("a", 2 -> 20L), Seq("p"))
    intercept[java.util.ConcurrentModificationException] {
      GenLog.commitStaged(spark, loc, restater)
    }
    assert(rows(loc) == Set(1 -> 10L, 2 -> 20L))
    // a restater of a DISJOINT partition sails past the insert
    val disjoint = GenLog.stageAppend(spark, loc, "r2", frame("b", 5 -> 50L), Seq("p"))
    GenLog.appendInsert(spark, loc, "i2", frame("a", 3 -> 31L), Seq("p"))
    GenLog.commitStaged(spark, loc, disjoint)
    assert(rows(loc) == Set(1 -> 10L, 2 -> 20L, 3 -> 31L, 5 -> 50L))
  }

  test("an insert never aborts as the loser — not to a same-partition restater, not to a wildcard rewrite") {
    val loc = tmpLoc("gl15-insloser")
    GenLog.appendBatch(spark, loc, "g1", frame("a", 1 -> 10L), Seq("p"))
    // insert staged; a restatement of its target partition lands first
    val ins = GenLog.stageAppend(spark, loc, "i1", frame("a", 2 -> 20L), Seq("p"))
    GenLog.appendBatch(spark, loc, "g2", frame("a", 1 -> 11L), Seq("p"))
    // pure adds stay valid under ANY concurrent commit: retry, not abort
    GenLog.commitStagedInsert(spark, loc, ins)
    assert(rows(loc) == Set(1 -> 11L, 2 -> 20L))
    // same against a WILDCARD rewrite: the insert's rows were never
    // part of the recluster's input and add on top of the new layout
    val ins2 = GenLog.stageAppend(spark, loc, "i2", frame("a", 3 -> 30L), Seq("p"))
    GenLog.recluster(spark, loc, "rw",
      GenLog.readLatest(spark, loc).withColumn("p", lit("z")), Seq("p"))
    GenLog.commitStagedInsert(spark, loc, ins2)
    assert(rows(loc) == Set(1 -> 11L, 2 -> 20L, 3 -> 30L))
  }

  // ----------------------------------------------------------------
  // exact file attribution (round-15 directive #4)
  // ----------------------------------------------------------------

  test("physically interleaved stagings attribute their files exactly and both commit") {
    val loc = tmpLoc("gl15-interleave")
    GenLog.appendBatch(spark, loc, "g1",
      frame("a", 1 -> 10L).unionByName(frame("b", 2 -> 20L)), Seq("p"))
    // two writers' physical writes interleave: A stages, then B
    // stages, then A commits, then B commits. A before/after listing
    // diff would hand B's files to nobody and A's to B — exact
    // attribution (staged dir + rename) cannot confuse them.
    val a = GenLog.stageAppend(spark, loc, "wa", frame("a", 1 -> 11L), Seq("p"))
    val b = GenLog.stageAppend(spark, loc, "wb", frame("b", 2 -> 22L), Seq("p"))
    assert(a.adds.toSet.intersect(b.adds.toSet).isEmpty)
    assert(a.adds.nonEmpty && a.adds.forall(_.contains("/p=a/")),
      s"writer A's adds must be exactly its partition's files: ${a.adds}")
    assert(b.adds.nonEmpty && b.adds.forall(_.contains("/p=b/")),
      s"writer B's adds must be exactly its partition's files: ${b.adds}")
    GenLog.commitStaged(spark, loc, a)
    GenLog.commitStaged(spark, loc, b) // disjoint: retries past A
    assert(rows(loc) == Set(1 -> 11L, 2 -> 22L))
    // no staging residue is left behind by a completed writer
    val stagedDir = new java.io.File(loc, GenLog.StagedDir)
    assert(!stagedDir.exists() || stagedDir.listFiles().isEmpty,
      "completed stagings must clean their private directories")
  }

  // ----------------------------------------------------------------
  // commit-time schema enforcement (round-15 directive #5)
  // ----------------------------------------------------------------

  test("a renamed or retyped column aborts before anything lands; widening needs evolve=true") {
    val loc = tmpLoc("gl15-schema")
    GenLog.appendBatch(spark, loc, "g1", frame("a", 1 -> 10L), Seq("p"))
    def dataFiles(): Set[String] = {
      def walk(f: java.io.File): Seq[String] =
        if (f.isDirectory) {
          if (f.getName.startsWith("_")) Nil
          else f.listFiles().toSeq.flatMap(walk)
        } else if (f.getName.endsWith(".parquet")) Seq(f.getPath) else Nil
      walk(new java.io.File(loc)).toSet
    }
    val before = dataFiles()
    import spark.implicits._
    // renamed column (v -> value): missing on the batch side — abort
    val renamed = Seq((1, 10L)).toDF("k", "value").withColumn("p", lit("b"))
    val e1 = intercept[IllegalArgumentException] {
      GenLog.appendBatch(spark, loc, "bad1", renamed, Seq("p"))
    }
    assert(e1.getMessage.contains("missing: [v]"))
    // retyped column (v: long -> string) — abort
    val retyped = Seq((1, "x")).toDF("k", "v").withColumn("p", lit("b"))
    val e2 = intercept[IllegalArgumentException] {
      GenLog.appendBatch(spark, loc, "bad2", retyped, Seq("p"))
    }
    assert(e2.getMessage.contains("retyped"))
    // silent widening — abort; explicit evolve — lands
    val widened = frame("b", 2 -> 20L).withColumn("extra", lit(1))
    val e3 = intercept[IllegalArgumentException] {
      GenLog.appendBatch(spark, loc, "bad3", widened, Seq("p"))
    }
    assert(e3.getMessage.contains("evolve"))
    assert(dataFiles() == before,
      "schema enforcement must abort BEFORE any file lands")
    assert(GenLog.generations(spark, loc).map(_._1) == Seq("g1"))
    GenLog.appendBatch(spark, loc, "g2", widened, Seq("p"), evolve = true)
    assert(GenLog.readLatest(spark, loc).columns.contains("extra"))
    // the widened schema is now the contract: the ORIGINAL width is
    // the narrow frame, and it aborts
    val e4 = intercept[IllegalArgumentException] {
      GenLog.appendBatch(spark, loc, "bad4", frame("c", 3 -> 30L), Seq("p"))
    }
    assert(e4.getMessage.contains("missing: [extra]"))
  }

  // ----------------------------------------------------------------
  // commit-time change feed economics (round-15 directive #2)
  // ----------------------------------------------------------------

  test("the change feed reads ONLY _changes files — O(changes) against a 50-commit history where a snapshot diff reads ~100 files") {
    val loc = tmpLoc("gl15-cdf50")
    import spark.implicits._
    (1 to 50).foreach { i =>
      GenLog.appendInsert(spark, loc, s"g$i",
        Seq((i, i.toLong)).toDF("k", "v").withColumn("p", lit(s"p$i")),
        Seq("p"), cdf = true)
    }
    val feed = GenLog.readChangeFeed(spark, loc, "g49", "g50")
    val inputs = feed.inputFiles.toSeq
    assert(inputs.nonEmpty &&
      inputs.forall(_.contains(s"/${GenLog.ChangesDir}/")),
      s"the feed must read only change files, got $inputs")
    // the economics: one commit's change files vs the two snapshot
    // file lists a diff would have to read (49 + 50 data files here)
    val diffBytes = (GenLog.read(spark, loc, "g49").inputFiles ++
      GenLog.read(spark, loc, "g50").inputFiles)
      .map(f => new java.io.File(new java.net.URI(f)).length()).sum
    val feedBytes = inputs
      .map(f => new java.io.File(new java.net.URI(f)).length()).sum
    assert(feedBytes * 10 < diffBytes,
      s"feed bytes ($feedBytes) must be far under the diff's ($diffBytes)")
    // content: exactly the one inserted row, tagged insert@v50
    val got = feed.select(col("k"), col("v"), col(GenLog.ChangeTypeCol),
      col(GenLog.ChangeVersionCol)).collect()
    assert(got.map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .toSet == Set((50, 50L, "insert", 50L)))
    // a wider range unions its commits' files, still _changes-only
    val feed10 = GenLog.readChangeFeed(spark, loc, "g40", "g50")
    assert(feed10.count() == 10 &&
      feed10.inputFiles.forall(_.contains(s"/${GenLog.ChangesDir}/")))
  }

  test("layout-only commits are invisible to the feed; a cdf-less data commit in range fails loudly; vacuum keeps referenced change files") {
    val loc = tmpLoc("gl15-cdfmix")
    GenLog.appendBatch(spark, loc, "g1",
      frame("a", 1 -> 10L).unionByName(frame("b", 2 -> 20L)), Seq("p"), cdf = true)
    GenLog.appendBatch(spark, loc, "g2", frame("a", 1 -> 11L), Seq("p"), cdf = true)
    // an OPTIMIZE between feed endpoints: dataChange=false, no change
    // files, and the feed must not error or emit anything for it
    GenLog.compactPartitionThroughLog(spark, loc, "opt", "p", "a")
    GenLog.appendBatch(spark, loc, "g3", frame("b", 2 -> 22L), Seq("p"), cdf = true)
    val net = GenLog.netKeyedChanges(
      GenLog.readChangeFeed(spark, loc, "g1", "g3"), Seq("k"), "v")
      .collect().map(r => (r.getInt(0), Option(r.get(1)), Option(r.get(2)))).toSet
    assert(net == Set((1, Some(10L), Some(11L)), (2, Some(20L), Some(22L))),
      s"the netted feed must carry both updates and skip the OPTIMIZE, got $net")
    // vacuum: surviving commits keep their change files, dropped
    // commits lose theirs (past the horizon). keepLastN=2 keeps
    // [opt, g3]; g3 is the only surviving COMMIT and the only one
    // whose change directory may remain.
    GenLog.vacuum(spark, loc, keepLastN = 2, minAgeMs = 0L)
    val changes = new java.io.File(loc, GenLog.ChangesDir)
    assert(changes.isDirectory && changes.listFiles().length == 1,
      "only the surviving commit's change directory may remain")
    // a writer that commits data WITHOUT change files poisons the
    // range — the feed fails loudly instead of silently lying
    GenLog.appendBatch(spark, loc, "g4", frame("c", 3 -> 30L), Seq("p"))
    val e = intercept[IllegalArgumentException] {
      GenLog.readChangeFeed(spark, loc, "g3", "g4").collect()
    }
    assert(e.getMessage.contains("cdf = false"))
  }

  // ----------------------------------------------------------------
  // deletion-vector debt lifecycle (round-15 directive #3)
  // ----------------------------------------------------------------

  test("dvDebt grows with MoR deletes, DV compaction merges sidecars without moving it, and the bound triggers settlement") {
    val loc = tmpLoc("gl15-dvdebt")
    import spark.implicits._
    val base = (1 to 10).map(i => (i, i.toLong)).toDF("k", "v")
      .withColumn("p", when(col("k") <= 5, "a").otherwise("b"))
    GenLog.appendBatch(spark, loc, "g1", base, Seq("p"))
    assert(GenLog.dvDebt(spark, loc) == 0.0)
    def expect(deleted: Set[Int]) =
      assert(GenLog.readLatest(spark, loc).select(col("k"))
        .collect().map(_.getInt(0)).toSet == (1 to 10).toSet -- deleted)
    GenLog.deleteWhereMoR(spark, loc, "d1", col("k").isin(1, 2))
    val debt1 = GenLog.dvDebt(spark, loc)
    assert(math.abs(debt1 - 0.2) < 1e-9, s"debt after 2/10 must be 0.2, got $debt1")
    expect(Set(1, 2))
    GenLog.deleteWhereMoR(spark, loc, "d2", col("k").isin(3, 4))
    assert(math.abs(GenLog.dvDebt(spark, loc) - 0.4) < 1e-9)
    expect(Set(1, 2, 3, 4))
    // two sidecars → one; answers and debt unmoved; dataChange=false
    def dvFiles(): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      val d = new java.io.File(loc, GenLog.DvDir)
      if (d.isDirectory) walk(d).size else 0
    }
    assert(GenLog.compactDeletionVectors(spark, loc, "dvc"))
    assert(math.abs(GenLog.dvDebt(spark, loc) - 0.4) < 1e-9,
      "DV compaction moves sidecar counts, never the debt")
    expect(Set(1, 2, 3, 4))
    // under the bound: no settlement
    assert(!GenLog.maybeMaterialize(spark, loc, "mat_early", Seq("p"), bound = 0.5))
    // the debt crosses the bound → settlement fires and clears it
    GenLog.deleteWhereMoR(spark, loc, "d3", col("k").isin(5, 6))
    assert(math.abs(GenLog.dvDebt(spark, loc) - 0.6) < 1e-9)
    assert(GenLog.maybeMaterialize(spark, loc, "mat", Seq("p"), bound = 0.5))
    assert(GenLog.dvDebt(spark, loc) == 0.0)
    expect(Set(1, 2, 3, 4, 5, 6))
    // the MoR generations still answer AS-OF after settlement
    assert(GenLog.read(spark, loc, "d2").select(col("k"))
      .collect().map(_.getInt(0)).toSet == (5 to 10).toSet)
  }

  // ----------------------------------------------------------------
  // ADVICE r14 regressions: empty checked batch, narrowing merge
  // ----------------------------------------------------------------

  test("an empty batch passes every CHECK constraint and commits an empty delta (no NPE on the null aggregate)") {
    val loc = tmpLoc("gl15-emptycheck")
    GenLog.appendBatch(spark, loc, "g1", frame("a", 1 -> 10L), Seq("p"))
    GenLog.appendBatchChecked(spark, loc, "g2",
      frame("a", 1 -> 10L).where(lit(false)), Seq("p"),
      Seq("v_positive" -> (col("v") > 0)))
    assert(GenLog.generations(spark, loc).map(_._1) == Seq("g1", "g2"),
      "the empty batch must commit an empty delta, not crash")
    assert(rows(loc) == Set(1 -> 10L))
  }

  test("mergeByKey refuses an updates frame narrower than the live schema instead of silently dropping columns") {
    val loc = tmpLoc("gl15-narrowmerge")
    import spark.implicits._
    val wide = Seq((1, 10L, "x"), (2, 20L, "y")).toDF("k", "v", "tag")
      .withColumn("p", lit("a"))
    GenLog.appendBatch(spark, loc, "g1", wide, Seq("p"))
    val narrow = Seq((1, 11L)).toDF("k", "v").withColumn("p", lit("a"))
    val e = intercept[IllegalArgumentException] {
      GenLog.mergeByKey(spark, loc, "m1", narrow, Seq("k"), Seq("p"))
    }
    assert(e.getMessage.contains("tag"),
      s"the refusal must name the dropped column, got: ${e.getMessage}")
    // nothing moved: the wide rows are intact
    assert(GenLog.readLatest(spark, loc).columns.contains("tag"))
    assert(GenLog.readLatest(spark, loc).count() == 2)
    // a covering frame merges fine
    val full = Seq((1, 11L, "x2")).toDF("k", "v", "tag").withColumn("p", lit("a"))
    GenLog.mergeByKey(spark, loc, "m2", full, Seq("k"), Seq("p"))
    assert(GenLog.readLatest(spark, loc).where(col("k") === 1)
      .select(col("v"), col("tag")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == Set(11L -> "x2"))
  }

  // ----------------------------------------------------------------
  // REAL contention (the staged specs are deterministic; these race)
  // ----------------------------------------------------------------

  test("eight truly concurrent insert writers all commit under live claim contention; the table is complete") {
    val loc = tmpLoc("gl15-conc-ins")
    GenLog.appendBatch(spark, loc, "g0", frame("a", 0 -> 0L), Seq("p"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futs = (1 to 8).map { i =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit =
            GenLog.appendInsert(spark, loc, s"w$i", frame("a", i -> i * 10L), Seq("p"))
        })
      }
      futs.foreach(_.get(180, java.util.concurrent.TimeUnit.SECONDS))
    } finally { pool.shutdown(); () }
    // every writer landed exactly once (inserts never abort; hard-link
    // claim losers retried), and no row was lost or doubled
    assert(GenLog.generations(spark, loc).map(_._1).toSet ==
      (Set("g0") ++ (1 to 8).map("w" + _)))
    assert(rows(loc) == (0 to 8).map(i => i -> (i * 10L)).toSet)
  }

  test("eight truly concurrent restaters of DISJOINT partitions all commit; same-partition racers abort, not corrupt") {
    val loc = tmpLoc("gl15-conc-rst")
    GenLog.appendBatch(spark, loc, "g0",
      (1 to 8).map(i => frame(s"p$i", i -> 0L)).reduce(_ unionByName _), Seq("p"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futs = (1 to 8).map { i =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit =
            GenLog.appendBatch(spark, loc, s"r$i", frame(s"p$i", i -> i * 100L), Seq("p"))
        })
      }
      futs.foreach(_.get(180, java.util.concurrent.TimeUnit.SECONDS))
    } finally { pool.shutdown(); () }
    assert(rows(loc) == (1 to 8).map(i => i -> (i * 100L)).toSet,
      "each disjoint restater must land exactly its partition's restatement")
    // and a LATE restater of an already-raced partition against a
    // stale snapshot aborts instead of resurrecting old rows
    val stale = GenLog.stageAppend(spark, loc, "late", frame("p1", 1 -> 999L), Seq("p"))
    GenLog.appendBatch(spark, loc, "r1b", frame("p1", 1 -> 111L), Seq("p"))
    intercept[java.util.ConcurrentModificationException] {
      GenLog.commitStaged(spark, loc, stale)
    }
  }

  test("netKeyedChanges collapses multi-commit chains: insert-then-update nets to one insert, update-then-delete to one delete") {
    val loc = tmpLoc("gl15-netchain")
    GenLog.appendBatch(spark, loc, "g1", frame("a", 1 -> 10L), Seq("p"), cdf = true)
    GenLog.appendInsert(spark, loc, "g2", frame("a", 2 -> 20L), Seq("p"), cdf = true)
    GenLog.appendBatch(spark, loc, "g3",
      frame("a", 1 -> 11L, 2 -> 22L), Seq("p"), cdf = true)
    GenLog.deleteWhere(spark, loc, "g4", col("k") === 1, Seq("p"), cdf = true)
    val net = GenLog.netKeyedChanges(
      GenLog.readChangeFeed(spark, loc, "g1", "g4"), Seq("k"), "v")
      .collect().map(r => (r.getInt(0), Option(r.get(1)), Option(r.get(2)))).toSet
    // k=1: updated at v3, deleted at v4 → ONE delete with the
    //      pre-range value (10) as the preimage
    // k=2: born at v2, updated at v3 → ONE insert with the final value
    assert(net == Set((1, Some(10L), None), (2, None, Some(22L))),
      s"chain netting must collapse to net changes, got $net")
  }

  test("CoW verbs on a table with live deletion vectors never resurrect MoR-deleted rows (rewrites run on the MoR view)") {
    val loc = tmpLoc("gl15-morcow")
    import spark.implicits._
    val base = (1 to 10).map(i => (i, i.toLong)).toDF("k", "v")
      .withColumn("p", when(col("k") <= 5, "a").otherwise("b"))
    GenLog.appendBatch(spark, loc, "g1", base, Seq("p"))
    // MoR delete k=1,2 (vectors only; file untouched)
    GenLog.deleteWhereMoR(spark, loc, "d1", col("k").isin(1, 2))
    assert(rows(loc).map(_._1) == (3 to 10).toSet)
    // copy-on-write DELETE of k=3: rewrites the file holding k=1..5.
    // A raw-file rewrite would carry k=1,2 into the new file and the
    // removed file's vectors would go inert — silent resurrection.
    GenLog.deleteWhere(spark, loc, "d2", col("k") === 3, Seq("p"), cdf = true)
    assert(rows(loc).map(_._1) == Set(4, 5, 6, 7, 8, 9, 10),
      "the CoW delete must not resurrect the MoR-deleted rows")
    // and its change file records ONLY the logically-present row
    val feed = GenLog.readChangeFeed(spark, loc, "d1", "d2")
    assert(feed.select(col("k")).collect().map(_.getInt(0)).toSet == Set(3),
      "phantom deletes of already-MoR-deleted rows must not reach the feed")
    // MERGE on the same shape: update k=4, insert k=11
    GenLog.mergeByKey(spark, loc, "m1",
      Seq((4, 40L), (11, 110L)).toDF("k", "v").withColumn("p", lit("a")),
      Seq("k"), Seq("p"))
    assert(rows(loc) == Set(4 -> 40L, 5 -> 5L, 6 -> 6L, 7 -> 7L, 8 -> 8L,
      9 -> 9L, 10 -> 10L, 11 -> 110L),
      "the merge rewrite must not resurrect the MoR-deleted rows either")
    // the layout rewrites on the same shape: fresh MoR deletes in
    // both partitions, so OPTIMIZE (partition a) and the generic file
    // rewrite (partition b) each rewrite a file that live vectors reach
    GenLog.deleteWhereMoR(spark, loc, "d3", col("k").isin(5, 6))
    val afterD3 = Set(4 -> 40L, 7 -> 7L, 8 -> 8L, 9 -> 9L, 10 -> 10L,
      11 -> 110L)
    assert(rows(loc) == afterD3)
    GenLog.compactPartitionThroughLog(spark, loc, "o1", "p", "a")
    assert(rows(loc) == afterD3,
      "the compaction must not resurrect the MoR-deleted rows")
    val bFiles = GenLog.generations(spark, loc).last._2
      .filter(_.contains("/p=b/"))
    GenLog.replaceFiles(spark, loc, "x1", bFiles, Seq("p"))(identity)
    assert(rows(loc) == afterD3,
      "the file rewrite must not resurrect the MoR-deleted rows")
    // AS-OF the MoR generation still hides them too
    assert(GenLog.read(spark, loc, "d1").select(col("k"))
      .collect().map(_.getInt(0)).toSet == (3 to 10).toSet)
  }

  test("a key born and deleted inside the feed range nets to nothing; a compaction racing a settlement aborts instead of re-adding drained vectors") {
    val loc = tmpLoc("gl15-borndied")
    GenLog.appendBatch(spark, loc, "g1", frame("a", 1 -> 10L), Seq("p"), cdf = true)
    GenLog.appendInsert(spark, loc, "g2", frame("a", 9 -> 90L), Seq("p"), cdf = true)
    GenLog.deleteWhere(spark, loc, "g3", col("k") === 9, Seq("p"), cdf = true)
    val net = GenLog.netKeyedChanges(
      GenLog.readChangeFeed(spark, loc, "g1", "g3"), Seq("k"), "v").collect()
    assert(net.isEmpty,
      s"born-and-died keys must net to nothing, got ${net.mkString(",")}")
    // vector-remover vs vector-remover: a compaction whose sidecars a
    // concurrent settlement drained must ABORT (a retry would re-add
    // them and corrupt the debt metric on a settled table)
    import spark.implicits._
    val loc2 = tmpLoc("gl15-dvrace")
    GenLog.appendBatch(spark, loc2, "h1",
      (1 to 10).map(i => (i, i.toLong)).toDF("k", "v").withColumn("p", lit("a")),
      Seq("p"))
    GenLog.deleteWhereMoR(spark, loc2, "h2", col("k") === 1)
    GenLog.deleteWhereMoR(spark, loc2, "h3", col("k") === 2)
    // the settlement lands while the compaction is "in flight"
    // (deterministically: settle first, then attempt the compaction
    // prepared against the pre-settlement snapshot — same interleave)
    val (pre, stPre) = (3L, GenLog.dvDebt(spark, loc2))
    assert(stPre > 0.0 && pre == 3L)
    GenLog.materializeDeletes(spark, loc2, "h4", Seq("p"))
    assert(GenLog.dvDebt(spark, loc2) == 0.0)
    // a fresh compaction now finds nothing to merge — and the race
    // (prepared-before, committed-after) is closed by the DvParts
    // conflict token, pinned here through the public surface: no
    // compaction commit can land whose dvRemoves were already drained
    assert(!GenLog.compactDeletionVectors(spark, loc2, "h5"),
      "a settled table has nothing to compact")
    assert(GenLog.dvDebt(spark, loc2) == 0.0,
      "the debt metric must stay zero on a settled table")
  }

  test("history() is the audit surface: one row per verb with its operation, deltas, and flags; vacuumed history collapses to the cut checkpoint") {
    val loc = tmpLoc("gl15-history")
    import spark.implicits._
    GenLog.appendBatch(spark, loc, "g1", frame("a", 1 -> 10L, 3 -> 30L), Seq("p"),
      cdf = true)
    GenLog.appendInsert(spark, loc, "g2", frame("a", 2 -> 20L), Seq("p"))
    GenLog.appendBatch(spark, loc, "g3",
      frame("a", 1 -> 11L, 2 -> 22L, 3 -> 33L).withColumn("extra", lit(1)),
      Seq("p"), evolve = true)
    GenLog.deleteWhereMoR(spark, loc, "g4", col("k") === 2)
    GenLog.materializeDeletes(spark, loc, "g5", Seq("p"))
    GenLog.deleteWhere(spark, loc, "g6", col("k") === 1, Seq("p"))
    GenLog.recluster(spark, loc, "g7",
      GenLog.readLatest(spark, loc).withColumn("p", lit("z")), Seq("p"))
    val h = GenLog.history(spark, loc)
      .select(col("version"), col("gen"), col("operation"),
        col("data_change"), col("insert_kind"), col("wrote_change_files"),
        col("schema_changed"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getBoolean(3), r.getBoolean(4), r.getBoolean(5), r.getBoolean(6)))
    // schema_changed: g1 ESTABLISHES the schema, g3 widens it, and
    // the recluster re-records it for its new shape — all three are
    // schema events by design
    assert(h.toSeq == Seq(
      (7L, "g7", "recluster", false, false, false, true),
      (6L, "g6", "delete", true, false, false, false),
      (5L, "g5", "materializeDeletes", false, false, false, false),
      (4L, "g4", "deleteMoR", true, false, false, false),
      (3L, "g3", "append", true, false, false, true),
      (2L, "g2", "insert", true, true, false, false),
      (1L, "g1", "append", true, false, true, true)),
      s"history rows mismatch: ${h.toSeq}")
    // per-commit metrics: the MoR delete added a vector, not a file;
    // its settlement removed it
    assert(GenLog.history(spark, loc).where(col("version") === 4)
      .select(col("n_added_files"), col("n_dv_adds")).head() ==
      org.apache.spark.sql.Row(0, 1))
    assert(GenLog.history(spark, loc).where(col("version") === 5)
      .select(col("n_dv_removes")).head().getInt(0) == 1)
    // vacuum: dropped versions collapse into one checkpoint row
    GenLog.vacuum(spark, loc, keepLastN = 2, minAgeMs = 0L)
    val ops = GenLog.history(spark, loc)
      .select(col("version"), col("operation")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(ops == Seq((7L, "recluster"), (6L, "checkpoint")),
      s"vacuumed history must collapse to the cut checkpoint, got $ops")
  }

  test("concurrent MoR deletes on disjoint partitions commute: both vectors land, both deletions hold") {
    val loc = tmpLoc("gl15-conc-mor")
    import spark.implicits._
    GenLog.appendBatch(spark, loc, "g1",
      (1 to 10).map(i => (i, i.toLong)).toDF("k", "v")
        .withColumn("p", when(col("k") <= 5, "a").otherwise("b")), Seq("p"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val futs = Seq(
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit =
            GenLog.deleteWhereMoR(spark, loc, "da", col("k") === 1)
        }),
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit =
            GenLog.deleteWhereMoR(spark, loc, "db", col("k") === 6)
        }))
      futs.foreach(_.get(180, java.util.concurrent.TimeUnit.SECONDS))
    } finally { pool.shutdown(); () }
    assert(rows(loc).map(_._1) == ((2 to 5) ++ (7 to 10)).toSet,
      "both concurrent MoR deletes must hold")
    assert(math.abs(GenLog.dvDebt(spark, loc) - 0.2) < 1e-9)
  }
}
