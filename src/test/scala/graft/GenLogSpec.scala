package graft

import org.apache.spark.sql.functions._
import graft.io.GenLog
import graft.queries.TimeTravel

/** The generation log (io/GenLog.scala): the file-level facts the
  * q203/q204 oracles can't see — overwritten-file retention, commit
  * idempotence, orphan invisibility, and the vacuum contract. All on
  * a throwaway location; the queries' warehouse artifact is never
  * touched.
  */
class GenLogSpec extends SparkTestBase {

  private def freshGens(): String = {
    val loc = tempDir("genlog") + "/t"
    GenLog.appendBatch(spark, loc, "g1",
      TimeTravel.batch(spark, Sf, Some(TimeTravel.Cut1), None, Some(TimeTravel.Day1)), Seq("day_k"))
    GenLog.appendBatch(spark, loc, "g2",
      TimeTravel.batch(spark, Sf, Some(TimeTravel.Cut2), Some(TimeTravel.Day1), Some(TimeTravel.Day2)), Seq("day_k"))
    GenLog.appendBatch(spark, loc, "g3",
      TimeTravel.batch(spark, Sf, None, Some(TimeTravel.Day2), None), Seq("day_k"))
    loc
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(String, String, Long)] =
    df.select(col("day").cast("string"), col("event_type"), col("n_events"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet

  /** DV sidecars live under per-commit `_dv/<token>/` subdirectories
    * (exact attribution); list them recursively.
    */
  private def dvParquets(dir: java.io.File): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    if (dir.isDirectory) walk(dir) else Nil
  }

  test("a logical overwrite removes the old file from live but retains it for history") {
    val loc = freshGens()
    val gens = GenLog.generations(spark, loc).toMap
    val g1Only = gens("g1").toSet -- gens("g3").toSet
    assert(g1Only.nonEmpty,
      "g2's day-10 restatement must have removed a g1 file from the live set")
    assert(g1Only.forall(f => new java.io.File(f).exists()),
      "removed files must stay on disk for history")
    // the removed file is exactly the boundary day's partial commit
    assert(g1Only.forall(_.contains(s"/day_k=${TimeTravel.Day1}/")))
  }

  test("generation reads are snapshots: each equals its cutoff recompute") {
    val loc = freshGens()
    def expect(cut: Option[String]) = rows {
      val ev = graft.sources.Tables.events(spark, Sf)
        .withColumn("day", to_date(col("ts")))
      cut.map(c => ev.where(col("ts") <= lit(c).cast("timestamp"))).getOrElse(ev)
        .groupBy(col("day"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
    }
    assert(rows(GenLog.read(spark, loc, "g1")) == expect(Some(TimeTravel.Cut1)))
    assert(rows(GenLog.read(spark, loc, "g2")) == expect(Some(TimeTravel.Cut2)))
    assert(rows(GenLog.readLatest(spark, loc)) == expect(None))
  }

  test("re-committing an existing generation is a no-op; orphans are invisible until vacuum") {
    val loc = freshGens()
    val before = GenLog.generations(spark, loc)
    GenLog.appendBatch(spark, loc, "g2",
      TimeTravel.batch(spark, Sf, Some(TimeTravel.Cut2), Some(TimeTravel.Day1), Some(TimeTravel.Day2)), Seq("day_k"))
    assert(GenLog.generations(spark, loc) == before, "gen-id guard must skip")
    // a crashed writer's file: on disk, in no generation
    val orphanDir = new java.io.File(loc, "day_k=2024-01-05")
    val orphan = new java.io.File(orphanDir, "part-orphan.parquet")
    java.nio.file.Files.write(orphan.toPath, Array[Byte](1, 2, 3))
    val g3 = rows(GenLog.readLatest(spark, loc))
    assert(g3.nonEmpty, "readers resolve the log, so a garbage orphan cannot break them")
    val deleted = GenLog.vacuum(spark, loc, keepLastN = 3, minAgeMs = 0L)
    assert(deleted.exists(_.endsWith("part-orphan.parquet")))
    assert(!orphan.exists())
    assert(rows(GenLog.readLatest(spark, loc)) == g3)
  }

  test("vacuum(keep 2) deletes g1-only history, refuses g1 reads, leaves g2/g3 bit-identical") {
    val loc = freshGens()
    val gens = GenLog.generations(spark, loc).toMap
    val g1Only = gens("g1").toSet -- gens("g2").toSet -- gens("g3").toSet
    assert(g1Only.nonEmpty)
    val g2Rows = rows(GenLog.read(spark, loc, "g2"))
    val g3Rows = rows(GenLog.read(spark, loc, "g3"))
    val deleted = GenLog.vacuum(spark, loc, keepLastN = 2, minAgeMs = 0L)
    assert(g1Only.subsetOf(deleted.toSet), "g1-only files must be collected")
    intercept[IllegalArgumentException](GenLog.read(spark, loc, "g1"))
    assert(rows(GenLog.read(spark, loc, "g2")) == g2Rows)
    assert(rows(GenLog.read(spark, loc, "g3")) == g3Rows)
  }

  test("multi-column partitioning: one-tuple restatement replaces exactly its file; OCC conflicts on tuples, not days; depth mismatch aborts") {
    val loc = tempDir("genlogmp") + "/t"
    def tb(lo: String, hi: String) =
      TimeTravel.tupleBatch(spark, Sf, None, Some(lo), Some(hi))
    GenLog.appendBatch(spark, loc, "g1",
      TimeTravel.tupleBatch(spark, Sf, None, None, None),
      Seq("day_k", "etype_k"), evolve = false, cdf = false)
    val live1 = GenLog.generations(spark, loc).last._2.toSet
    assert(live1.forall(_.matches(".*/day_k=[^/]+/etype_k=[^/]+/[^/]+\\.parquet")),
      "every file must sit under a full tuple directory chain")
    val g1Rows = rows(GenLog.readLatest(spark, loc))
    // restate ONE tuple — recomputed from the same corpus, so the
    // VALUES are identical; the files must move for exactly one tuple
    GenLog.appendBatch(spark, loc, "g2",
      tb("2024-01-15", "2024-01-15").where(col("event_type") === "click"),
      Seq("day_k", "etype_k"), evolve = false, cdf = false)
    val live2 = GenLog.generations(spark, loc).last._2.toSet
    val tuple = "/day_k=2024-01-15/etype_k=click/"
    assert((live1 -- live2).nonEmpty && (live1 -- live2).forall(_.contains(tuple)),
      "only the restated tuple's file may leave the live set")
    assert((live2 -- live1).nonEmpty && (live2 -- live1).forall(_.contains(tuple)),
      "only the restated tuple's file may be added")
    assert(live1.filterNot(_.contains(tuple)) == live2.filterNot(_.contains(tuple)),
      "every other tuple's files survive byte-identically (same paths)")
    assert(rows(GenLog.readLatest(spark, loc)) == g1Rows)
    // OCC on TUPLES: three writers staged against one snapshot — a
    // same-day-DIFFERENT-TYPE writer is disjoint (a 1-D day token
    // would falsely conflict it); a same-tuple writer aborts
    val sSame = GenLog.stageAppend(spark, loc, "w_view",
      tb("2024-01-20", "2024-01-20").where(col("event_type") === "view"),
      Seq("day_k", "etype_k"), evolve = false, cdf = false)
    val sDisj = GenLog.stageAppend(spark, loc, "w_error",
      tb("2024-01-20", "2024-01-20").where(col("event_type") === "error"),
      Seq("day_k", "etype_k"), evolve = false, cdf = false)
    val sClash = GenLog.stageAppend(spark, loc, "w_view2",
      tb("2024-01-20", "2024-01-20").where(col("event_type") === "view"),
      Seq("day_k", "etype_k"), evolve = false, cdf = false)
    GenLog.commitStaged(spark, loc, sSame)
    GenLog.commitStaged(spark, loc, sDisj)
    intercept[java.util.ConcurrentModificationException](
      GenLog.commitStaged(spark, loc, sClash))
    // a batch at the WRONG DEPTH (day-only onto a (day,type) table)
    // aborts loudly with nothing visible — silently adding beside the
    // tuple files would duplicate the restated rows
    val before = GenLog.generations(spark, loc).map(_._1)
    val e = intercept[IllegalArgumentException](
      GenLog.appendBatch(spark, loc, "bad_depth",
        tb("2024-01-20", "2024-01-20"), Seq("day_k"),
        evolve = false, cdf = false))
    assert(e.getMessage.contains("recluster"))
    assert(GenLog.generations(spark, loc).map(_._1) == before,
      "the depth-mismatched batch must not become a generation")
  }

  test("column mapping: rename is a metadata commit with zero data files; reads project; AS-OF keeps old names; writes continue") {
    val loc = freshGens()
    def dataFiles() = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) {
          if (f.getName.startsWith("_")) Nil
          else f.listFiles().toSeq.flatMap(walk)
        } else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(new java.io.File(loc)).map(_.getPath).toSet
    }
    val filesBefore = dataFiles()
    val liveBefore = GenLog.generations(spark, loc).last._2
    GenLog.renameColumn(spark, loc, "ren", "n_events", "n_ev")
    // ZERO data files written; the live set re-lists nothing
    assert(dataFiles() == filesBefore,
      "a rename must write no data file")
    assert(GenLog.generations(spark, loc).last._2 == liveBefore)
    // the latest read serves the NEW logical name, same values
    val latest = GenLog.readLatest(spark, loc)
    assert(latest.columns.contains("n_ev") &&
      !latest.columns.contains("n_events"))
    val renamedRows = latest
      .select(col("day").cast("string"), col("event_type"), col("n_ev"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    // AS-OF before the rename keeps its OWN schema and name
    assert(GenLog.read(spark, loc, "g3").columns.contains("n_events"))
    assert(renamedRows == rows(GenLog.read(spark, loc, "g3")))
    // a writer still using the OLD name aborts, pointing at the path
    val e = intercept[IllegalArgumentException](
      GenLog.appendBatch(spark, loc, "bad_old_name",
        TimeTravel.batch(spark, Sf, None, Some("2024-01-05"),
          Some("2024-01-05")), Seq("day_k")))
    assert(e.getMessage.contains("renameColumn"))
    // a NEW-name batch restates a day; its file stores the PHYSICAL
    // name, so both eras merge in one scan
    GenLog.appendBatch(spark, loc, "g4",
      TimeTravel.batch(spark, Sf, None, Some("2024-01-05"),
        Some("2024-01-05")).withColumnRenamed("n_events", "n_ev"), Seq("day_k"))
    val g4Only = GenLog.generations(spark, loc).toMap
      .apply("g4").toSet -- liveBefore.toSet
    assert(g4Only.nonEmpty && g4Only.forall(f =>
      spark.read.parquet(f).columns.contains("n_events")),
      "post-rename files must store the physical name")
    assert(GenLog.readLatest(spark, loc)
      .select(col("day").cast("string"), col("event_type"), col("n_ev"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet == renamedRows,
      "the restated day recomputes the same values — no row moved")
    // rename validation: missing source, colliding target
    intercept[IllegalArgumentException](
      GenLog.renameColumn(spark, loc, "ren2", "no_such_col", "x"))
    intercept[IllegalArgumentException](
      GenLog.renameColumn(spark, loc, "ren3", "day", "event_type"))
  }

  test("timestamp time travel: exactly-at resolves the commit, between resolves backwards, pre-history and post-vacuum abort") {
    val loc = freshGens()
    val tss = GenLog.commitTimestamps(spark, loc)
    assert(tss.map(t => (t._1, t._2)) == Seq((1L, "g1"), (2L, "g2"), (3L, "g3")))
    // monotonic adjustment: strictly increasing even when consecutive
    // commits land in the same wall-clock millisecond (these three do
    // land close; the +1ms rule is what makes the assert stable)
    assert(tss.map(_._3) == tss.map(_._3).sorted &&
      tss.map(_._3).distinct.size == 3,
      s"adjusted stamps must be strictly monotone: ${tss.map(_._3)}")
    val Seq(t1, t2, t3) = tss.map(_._3)
    // exactly-at each commit's stamp addresses that commit's snapshot
    assert(rows(GenLog.readAsOfTimestamp(spark, loc, t1)) ==
      rows(GenLog.read(spark, loc, "g1")))
    assert(rows(GenLog.readAsOfTimestamp(spark, loc, t2)) ==
      rows(GenLog.read(spark, loc, "g2")))
    // between two commits resolves BACKWARDS (latest commit ≤ ts);
    // t2-1 >= t1 is guaranteed by the monotone adjustment
    assert(rows(GenLog.readAsOfTimestamp(spark, loc, t2 - 1)) ==
      rows(GenLog.read(spark, loc, "g1")))
    // later than every commit clamps to the latest snapshot
    assert(rows(GenLog.readAsOfTimestamp(spark, loc, t3 + 3600000L)) ==
      rows(GenLog.read(spark, loc, "g3")))
    // earlier than the first commit: the table did not exist — abort
    intercept[IllegalArgumentException](
      GenLog.readAsOfTimestamp(spark, loc, t1 - 1))
    // vacuum to the last two generations: the cut (g2) commit object
    // is gone, so its timestamp is no longer provable — g2-era
    // timestamps abort; the surviving commit still resolves
    GenLog.vacuum(spark, loc, keepLastN = 2, minAgeMs = 0L)
    intercept[IllegalArgumentException](
      GenLog.readAsOfTimestamp(spark, loc, t2))
    // t3 = max(raw3, adj2+1) >= raw3, so it still addresses v3 even
    // though the adjustment chain restarted at the surviving commit
    assert(rows(GenLog.readAsOfTimestamp(spark, loc, t3)) ==
      rows(GenLog.read(spark, loc, "g3")))
    // DESCRIBE HISTORY surfaces the surviving stamps (audit surface)
    val t3After = GenLog.commitTimestamps(spark, loc)
      .collectFirst { case (3L, _, t) => t }.get
    val h = GenLog.history(spark, loc)
      .select(col("version"), col("timestamp_ms")).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(h(3L).contains(t3After), "history must carry the adjusted stamp")
    assert(h(2L).isEmpty, "the retention cut's stamp went with its object")
  }

  test("schema evolution: earlier generations keep their own schema; the merged read nulls pre-column history") {
    val loc = freshGens()
    // widen at g4: day-20+ restated with n_users
    GenLog.appendBatch(spark, loc, "g4",
      TimeTravel.widenedBatch(spark, Sf, Some(TimeTravel.Day2)), Seq("day_k"),
      evolve = true)
    // AS OF g3: the column does not exist — time travel sees the
    // schema of its day
    assert(!GenLog.read(spark, loc, "g3").columns.contains("n_users"))
    val latest = GenLog.readLatest(spark, loc)
    assert(latest.columns.contains("n_users"))
    val d2 = lit(TimeTravel.Day2).cast("date")
    assert(latest.where(col("day") < d2 && col("n_users").isNotNull).isEmpty,
      "pre-column history must read as NULL")
    assert(latest.where(col("day") >= d2 && col("n_users").isNull).isEmpty,
      "widened rows must carry the column")
  }

  test("streamed generations: each micro-batch commit is the corpus at its window's cutoff") {
    val loc = graft.streaming.GenLogStream.ensureStreamedGenerations(spark, Sf)
    def expect(cut: Option[String]) = rows {
      val ev = graft.sources.Tables.events(spark, Sf)
        .withColumn("day", to_date(col("ts")))
      cut.map(c => ev.where(col("ts") <= lit(c).cast("timestamp"))).getOrElse(ev)
        .groupBy(col("day"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
    }
    assert(GenLog.generations(spark, loc).map(_._1) == Seq("w1", "w2", "w3"),
      "three windows must commit in order")
    // the additive boundary-day restatement lands on the exact
    // cutoff recompute — the invariant that makes streamed snapshots
    // trustworthy
    assert(rows(GenLog.read(spark, loc, "w1")) == expect(Some(TimeTravel.Cut1)))
    assert(rows(GenLog.read(spark, loc, "w2")) == expect(Some(TimeTravel.Cut2)))
    assert(rows(GenLog.readLatest(spark, loc)) == expect(None))
  }

  test("a pinned snapshot survives writers: reads planned before a commit return the old state") {
    val loc = freshGens()
    // pin g3's file list NOW (the frame resolves the log at
    // construction), then let a writer commit a restatement on top
    val pinned = GenLog.read(spark, loc, "g3")
    val before = rows(pinned)
    GenLog.appendBatch(spark, loc, "g4",
      TimeTravel.widenedBatch(spark, Sf, Some(TimeTravel.Day2)), Seq("day_k"),
      evolve = true)
    assert(rows(pinned) == before,
      "a snapshot pinned before the commit must be unaffected by it")
    assert(rows(GenLog.readLatest(spark, loc)) != before ||
      GenLog.generations(spark, loc).last._1 == "g4")
  }

  test("a crashed writer's pre-claim temp is ignored by readers and never mutated; vacuum sweeps it") {
    val loc = freshGens()
    val before = GenLog.generations(spark, loc)
    val logDir = new java.io.File(loc, GenLog.LogDir)
    // a writer that died after writing its temp but before claiming
    // its version: the temp must shadow nothing and readers must not
    // touch it (reader-side recovery raced the writer in the v2
    // single-file log — the delta log makes recovery writer-only)
    val tmp = new java.io.File(logDir, ".tmp-deadbeef")
    java.nio.file.Files.writeString(tmp.toPath, "gen:ghost\nadd:/nowhere.parquet\n#end:2\n")
    assert(GenLog.generations(spark, loc) == before,
      "a pre-claim temp must be invisible to readers")
    assert(tmp.exists(), "readers must never mutate the log directory")
    // the log stays writable past the dead temp
    GenLog.appendBatch(spark, loc, "g4",
      TimeTravel.widenedBatch(spark, Sf, Some(TimeTravel.Day2)), Seq("day_k"),
      evolve = true)
    assert(GenLog.generations(spark, loc).map(_._1).last == "g4")
    val deleted = GenLog.vacuum(spark, loc, keepLastN = 4, minAgeMs = 0L)
    assert(!tmp.exists(), "vacuum must sweep dead temps")
    assert(deleted.forall(_.endsWith(".parquet")),
      "vacuum's returned list is data files only")
  }

  test("commit cost is O(batch) and a snapshot resolve is checkpoint + tail, never a full-log replay") {
    val spark2 = spark
    import spark2.implicits._
    val loc = tempDir("genlog-long") + "/t"
    // 52 generations, each adding ONE new partition: the live set
    // grows 52×, the per-commit delta stays one file
    (1 to 52).foreach { k =>
      GenLog.appendBatch(spark, loc, s"g$k",
        Seq((k, k.toLong)).toDF("k", "v"), Seq("k"))
    }
    val logDir = new java.io.File(loc, GenLog.LogDir)
    def size(name: String) = new java.io.File(logDir, name).length()
    // O(batch) commit bytes: the 50th commit is as small as the 2nd,
    // while a full-live-set log entry would have grown ~25×
    assert(size(f"${50L}%020d.commit") <= 3 * size(f"${2L}%020d.commit"),
      "commit bytes must not grow with table history")
    // interval checkpoints exist
    (1 to 5).foreach { i =>
      assert(new java.io.File(logDir, f"${i * 10L}%020d.checkpoint").exists(),
        s"checkpoint expected at version ${i * 10}")
    }
    // a current-snapshot resolve starts at the nearest checkpoint and
    // replays only the tail after it
    val r50 = GenLog.resolveGen(spark, loc, "g50")
    assert(r50.checkpointUsed.contains(50L) && r50.commitsParsed == 0,
      s"g50 must resolve from its own checkpoint, got $r50")
    val r45 = GenLog.resolveGen(spark, loc, "g45")
    assert(r45.checkpointUsed.contains(40L) && r45.commitsParsed == 5,
      s"g45 must resolve as checkpoint(40) + 5 commits, got $r45")
    assert(r45.live.size == 45 && r50.live.size == 50,
      "one live file per committed partition")
    // and the resolved snapshots answer correctly
    assert(GenLog.read(spark, loc, "g45").count() == 45)
    assert(GenLog.readLatest(spark, loc).count() == 52)
    // the checkpoint carries the gen→version INDEX, so a gen-id probe
    // (contains — run on EVERY commit for idempotence) is the latest
    // checkpoint + tail, never a scan of all surviving commits
    val ck50 = java.nio.file.Files.readString(
      new java.io.File(logDir, f"${50L}%020d.checkpoint").toPath)
    val genvers = ck50.linesIterator.count(_.startsWith("genver:"))
    assert(genvers == 50, s"checkpoint 50 must index all 50 gens, got $genvers")
    assert(ck50.linesIterator.contains("genver:7:g7"),
      "mid-history gens must be index entries, not commit scans")
  }

  test("optimistic concurrency: disjoint writers both commit; overlapping writers abort; replayed gen skips") {
    val spark2 = spark
    import spark2.implicits._
    val loc = tempDir("genlog-occ") + "/t"
    def frame(rows: (Int, Long)*) =
      rows.toSeq.toDF("k", "v").withColumn("p", col("k"))
    GenLog.appendBatch(spark, loc, "g1", frame((1, 10L), (2, 20L)), Seq("p"))
    // two writers prepare against the SAME snapshot (v1), restating
    // DISJOINT partitions
    val a = GenLog.stageAppend(spark, loc, "wA", frame((1, 11L)), Seq("p"))
    val b = GenLog.stageAppend(spark, loc, "wB", frame((2, 21L)), Seq("p"))
    assert(a.snapshotVersion == 1L && b.snapshotVersion == 1L)
    assert(GenLog.commitStaged(spark, loc, a) == 2L)
    // B lost the race at v2 but its partitions are untouched: it must
    // retry and land at v3 without recomputing
    assert(GenLog.commitStaged(spark, loc, b) == 3L)
    val rows = GenLog.readLatest(spark, loc).select(col("k"), col("v"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(rows == Set((1, 11L), (2, 21L)),
      s"both disjoint restatements must be live, got $rows")
    // three writers staged against the SAME snapshot (v3): a winner,
    // an overlapping loser, and a replay of the winner's gen id
    val c = GenLog.stageAppend(spark, loc, "wC", frame((1, 12L)), Seq("p"))
    val d = GenLog.stageAppend(spark, loc, "wD", frame((1, 13L)), Seq("p"))
    val e = GenLog.stageAppend(spark, loc, "wC", frame((1, 99L)), Seq("p"))
    assert(GenLog.commitStaged(spark, loc, c) == 4L)
    // the overlapping loser must abort (its removes were computed
    // against a state that no longer holds)
    intercept[java.util.ConcurrentModificationException](
      GenLog.commitStaged(spark, loc, d))
    // the loser's files are invisible orphans; the winner's state serves
    val after = GenLog.readLatest(spark, loc).select(col("k"), col("v"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(after == Set((1, 12L), (2, 21L)))
    // a racing REPLAY of the winner's gen id skips — it resolves to
    // the existing version instead of conflicting or double-committing
    assert(GenLog.commitStaged(spark, loc, e) == 4L,
      "a racing replay of a committed gen id must resolve to the existing version")
    assert(GenLog.readLatest(spark, loc).select(col("k"), col("v"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet == after,
      "the replay must not change the table")
  }

  test("deleteWhere rewrites only the affected files; AS-OF-before-delete still serves the deleted rows") {
    val loc = TimeTravel.ensureDeleteGenerations(spark, Sf)
    val gens = GenLog.generations(spark, loc).toMap
    val (g1, g2) = (gens("g1").toSet, gens("g2_del").toSet)
    // the delete predicate spans days 1–10: exactly those day files
    // leave the live set, every later day's file is the SAME path
    val removed = g1 -- g2
    assert(removed.nonEmpty && removed.forall { f =>
      "/day_k=2024-01-(0[1-9]|10)/".r.findFirstIn(f).isDefined
    }, s"only first-ten-day files may be rewritten, got $removed")
    val untouched = g1.filter(f => !"/day_k=2024-01-(0[1-9]|10)/".r
      .findFirstIn(f).isDefined)
    assert(untouched.subsetOf(g2),
      "files without matching rows must stay live byte-identically")
    // removed bytes stay on disk for history until vacuum
    assert(removed.forall(f => new java.io.File(f).exists()))
    // AS-OF before the delete: the legal-hold read still serves the rows
    val before = GenLog.read(spark, loc, "g1")
      .where(col("event_type") === TimeTravel.DelType &&
        col("day") <= lit(TimeTravel.DelHi).cast("date")).count()
    assert(before > 0, "the pre-delete generation must still serve deleted rows")
    val after = GenLog.read(spark, loc, "g2_del")
      .where(col("event_type") === TimeTravel.DelType &&
        col("day") <= lit(TimeTravel.DelHi).cast("date")).count()
    assert(after == 0, "the post-delete generation must not")
  }

  test("partition evolution: same rows, coarser files; history keeps the fine layout until vacuum") {
    val loc = TimeTravel.ensureEvolvedGenerations(spark, Sf)
    val gens = GenLog.generations(spark, loc).toMap
    val (daily, weekly) = (gens("g1_daily"), gens("g2_weekly"))
    assert(daily.size > weekly.size * 4,
      s"re-clustering must collapse files: ${daily.size} day files vs ${weekly.size} week files")
    assert(weekly.forall(_.contains("/week_k=")) && daily.forall(_.contains("/day_k=")),
      "each generation must live under its own partition scheme")
    // the physical change is invisible logically
    assert(rows(GenLog.read(spark, loc, "g1_daily")) ==
      rows(GenLog.read(spark, loc, "g2_weekly")))
    // the fine-grained history is retained (time travel) until vacuum
    assert(daily.forall(f => new java.io.File(f).exists()))
  }

  test("every committed file carries exactly one partition value (the restatement contract)") {
    val loc = freshGens()
    val all = GenLog.generations(spark, loc).flatMap(_._2).distinct
    all.foreach { f =>
      val days = spark.read.parquet(f).select(col("day")).distinct().count()
      assert(days == 1, s"$f carries $days days; restatement-by-path needs exactly 1")
    }
  }

  test("mergeByKey rewrites only files holding matched keys; unmatched siblings survive; inserts land; AS-OF-before-merge unchanged") {
    val loc = TimeTravel.ensureMergeGenerations(spark, Sf)
    val gens = GenLog.generations(spark, loc).toMap
    val (g1, g2) = (gens("g1").toSet, gens("g2_merge").toSet)
    // only day files holding matched (click, day >= 21) keys rewrote
    val removed = g1 -- g2
    assert(removed.nonEmpty && removed.forall { f =>
      "/day_k=2024-01-2[1-5]/".r.findFirstIn(f).isDefined
    }, s"only day 21-25 files may rewrite, got $removed")
    assert((g1 -- removed).subsetOf(g2),
      "files without matched keys must stay live byte-identically")
    // the kept path: non-click groups of the rewritten days survived
    val latest = GenLog.read(spark, loc, "g2_merge")
    val d21 = lit(TimeTravel.MergeLo).cast("date")
    assert(latest.where(col("day") >= d21 &&
      col("event_type") =!= TimeTravel.MergeType).count() > 0,
      "non-click siblings of rewritten files must survive the merge")
    // inserts: late days exist only via the merge
    assert(latest.where(col("day") > lit("2024-01-25").cast("date")).count() > 0)
    assert(GenLog.read(spark, loc, "g1")
      .where(col("day") > lit("2024-01-25").cast("date")).isEmpty,
      "AS-OF before the merge must not see the inserted days")
    // update semantics: the merged click counts exceed the cutoff's
    val cutClicks = GenLog.read(spark, loc, "g1")
      .where(col("event_type") === TimeTravel.MergeType && col("day") >= d21)
      .agg(sum(col("n_events"))).head().getLong(0)
    val mergedClicks = latest
      .where(col("event_type") === TimeTravel.MergeType && col("day") >= d21)
      .agg(sum(col("n_events"))).head().getLong(0)
    assert(mergedClicks > cutClicks, "matched keys must carry the UPDATED counts")
  }

  test("insert generations accumulate files, never conflict semantics; OPTIMIZE collapses one partition; history keeps the small files") {
    val loc = TimeTravel.ensureInsertGenerations(spark, Sf)
    val gens = GenLog.generations(spark, loc).toMap
    def dayFiles(gen: String, day: String) =
      gens(gen).filter(_.contains(s"/day_k=$day/"))
    val hot = TimeTravel.HotDay
    // three insert waves -> three files per day, none removed
    assert(dayFiles("ins_v", hot).size == 3,
      s"three insert waves must accumulate three files, got ${dayFiles("ins_v", hot)}")
    assert(dayFiles("ins_ce", hot).toSet.subsetOf(dayFiles("ins_v", hot).toSet),
      "inserts must never remove earlier files")
    // OPTIMIZE: the hot day collapses to ONE file, siblings untouched
    assert(dayFiles("opt_hot", hot).size == 1,
      s"compaction must collapse the hot day, got ${dayFiles("opt_hot", hot)}")
    val otherDay = "2024-01-03"
    assert(dayFiles("opt_hot", otherDay) == dayFiles("ins_v", otherDay),
      "sibling partitions must keep their exact files")
    // rows identical across the compaction boundary
    assert(rows(GenLog.read(spark, loc, "ins_v")) ==
      rows(GenLog.read(spark, loc, "opt_hot")))
    // history: the pre-compaction generation still READS the small
    // files (they stay on disk until vacuum)
    assert(dayFiles("ins_v", hot).forall(f => new java.io.File(f).exists()))
  }

  test("readAppendedSince delivers later inserts, skips layout-only commits, and respects the cursor") {
    val loc = TimeTravel.ensureInsertGenerations(spark, Sf)
    // the feed after slice 1 = slices 2 + 3, recomputed independently
    val feed = rows(GenLog.readAppendedSince(spark, loc, "ins_ce"))
    val types = TimeTravel.InsertSlices.tail.flatMap(_._2)
    val expect = rows {
      graft.sources.Tables.events(spark, Sf)
        .where(col("event_type").isin(types: _*))
        .withColumn("day", to_date(col("ts")))
        .groupBy(col("day"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
    }
    assert(feed == expect, "the append feed must be exactly the later slices")
    // the OPTIMIZE's added file is NOT in the feed (dataChange=false)
    val gens = GenLog.generations(spark, loc).toMap
    val optOnly = gens("opt_hot").toSet -- gens("ins_v").toSet
    assert(optOnly.nonEmpty, "fixture: compaction must have added a file")
    val feedFiles = GenLog.readAppendedSince(spark, loc, "ins_ce")
      .inputFiles.map(f => new org.apache.hadoop.fs.Path(
        new java.net.URI(f)).toUri.getPath).toSet
    assert(optOnly.intersect(feedFiles).isEmpty,
      "layout-only adds must never enter the append feed")
    // cursor at the last insert: only the (skipped) OPTIMIZE remains
    assert(GenLog.readAppendedSince(spark, loc, "ins_v").isEmpty,
      "a cursor past every data change must read empty")
    intercept[IllegalArgumentException](
      GenLog.readAppendedSince(spark, loc, "no_such_gen"))
  }

  test("a shallow clone copies no data, serves the snapshot, and diverges without touching the source") {
    val srcLoc = TimeTravel.ensureEventGenerations(spark, Sf)
    val loc = tempDir("genclone") + "/t"
    GenLog.cloneSnapshot(spark, srcLoc, "g2", loc)
    // zero-copy: the clone directory holds a log and nothing else
    def ownData(dir: String) = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir)).filter(_.getName.endsWith(".parquet"))
    }
    assert(ownData(loc).isEmpty, "a shallow clone must copy no data files")
    assert(rows(GenLog.readLatest(spark, loc)) ==
      rows(GenLog.read(spark, srcLoc, "g2")),
      "the clone IS the snapshot")
    // diverge: restate day 5 on the CLONE
    val srcFilesBefore = GenLog.generations(spark, srcLoc)
    GenLog.appendBatch(spark, loc, "branch1",
      TimeTravel.batch(spark, Sf, None, Some("2024-01-05"), Some("2024-01-05"))
        .withColumn("n_events", col("n_events") + 1000), Seq("day_k"))
    assert(ownData(loc).nonEmpty, "the branch write lands under the clone")
    // the source never moved: same log, same files, same answers
    assert(GenLog.generations(spark, srcLoc) == srcFilesBefore)
    assert(rows(GenLog.read(spark, srcLoc, "g2")) !=
      rows(GenLog.readLatest(spark, loc)),
      "the branch must have diverged")
    // the clone's vacuum collects only its OWN stale bytes — the
    // source path it displaced stays on disk for the source's readers
    val displaced = GenLog.generations(spark, loc).toMap
      .apply("clone_g2").filter(_.contains("/day_k=2024-01-05/"))
    val deleted = GenLog.vacuum(spark, loc, keepLastN = 1, minAgeMs = 0L)
    assert(deleted.forall(_.startsWith(loc)),
      s"clone vacuum must only touch its own directory, deleted $deleted")
    assert(displaced.forall(f => new java.io.File(f).exists()),
      "displaced source files must survive the clone's vacuum")
    assert(rows(GenLog.read(spark, srcLoc, "g2")).nonEmpty)
  }

  test("commit-time constraints: a violating batch aborts before anything lands; NULL passes (SQL CHECK)") {
    val spark2 = spark
    import spark2.implicits._
    val loc = tempDir("genlog-check") + "/t"
    def frame(rows: (Int, java.lang.Long)*) =
      rows.toSeq.toDF("k", "v").withColumn("p", col("k"))
    val checks = Seq(
      "v_positive" -> (col("v") > 0),
      "k_not_null" -> col("k").isNotNull)
    GenLog.appendBatchChecked(spark, loc, "g1",
      frame((1, 10L), (2, null)), Seq("p"), checks) // NULL v passes CHECK
    assert(GenLog.readLatest(spark, loc).count() == 2)
    val logDir = new java.io.File(loc, GenLog.LogDir)
    val before = (logDir.list().toSet,
      GenLog.generations(spark, loc))
    val ex = intercept[IllegalArgumentException] {
      GenLog.appendBatchChecked(spark, loc, "g2",
        frame((1, -5L), (2, -6L), (3, 7L)), Seq("p"), checks)
    }
    assert(ex.getMessage.contains("v_positive (2 rows)"),
      s"the violation report must carry per-constraint counts: ${ex.getMessage}")
    // NOTHING landed: no log object, no generation, no data file
    assert((logDir.list().toSet, GenLog.generations(spark, loc)) == before,
      "a rejected batch must leave the log untouched")
    assert(GenLog.readLatest(spark, loc).count() == 2)
  }

  test("streamed inserts: a full backlog replay with a fresh checkpoint appends nothing (gen-id exactly-once)") {
    val loc = tempDir("genlog-ins") + "/t"
    graft.streaming.GenLogStream.streamInsertsInto(spark, Sf, loc)
    val first = GenLog.generations(spark, loc)
    assert(first.map(_._1) == Seq("w1", "w2", "w3"),
      "three windows must commit as insert generations")
    // windows never remove: the live set only grows
    assert(first.map(_._2.size) == first.map(_._2.size).sorted)
    val total = graft.sources.Tables.events(spark, Sf).count()
    assert(GenLog.readLatest(spark, loc).count() == total,
      "the bronze table must hold every raw event exactly once")
    // the crash/redeploy case: a second full replay, FRESH checkpoint
    graft.streaming.GenLogStream.streamInsertsInto(spark, Sf, loc)
    assert(GenLog.generations(spark, loc) == first,
      "a replayed backlog must append nothing — the gen-id guard is the only dedup")
    assert(GenLog.readLatest(spark, loc).count() == total)
  }

  test("restore re-lists the old generation's files with zero data written; the rolled-back state stays auditable") {
    val loc = TimeTravel.ensureRestoredGenerations(spark, Sf)
    val gens = GenLog.generations(spark, loc).toMap
    // zero-copy rollback: the restored live set IS g1's file list
    assert(gens("g3_restore") == gens("g1"),
      "restore must re-list the target generation's exact files")
    // nothing was written: every live file of the restore predates it
    // (no new paths beyond g1's and g2's)
    assert((gens("g3_restore").toSet -- gens("g1").toSet).isEmpty)
    // the mistake stays auditable: the delete generation still serves
    val delRows = GenLog.read(spark, loc, "g2_del")
      .where(col("event_type") === TimeTravel.DelType &&
        col("day") <= lit(TimeTravel.DelHi).cast("date")).count()
    assert(delRows == 0, "AS-OF the delete must still show the deleted state")
    val restored = GenLog.readLatest(spark, loc)
      .where(col("event_type") === TimeTravel.DelType &&
        col("day") <= lit(TimeTravel.DelHi).cast("date")).count()
    assert(restored > 0, "the restore must bring the rows back")
    // restoring to a vacuumed generation fails loudly, never silently
    // serves missing files — exercised on a throwaway copy
    val loc2 = tempDir("genlog-rst") + "/t"
    GenLog.appendBatch(spark, loc2, "g1",
      TimeTravel.batch(spark, Sf, Some(TimeTravel.Cut1), None, Some(TimeTravel.Day1)), Seq("day_k"))
    GenLog.appendBatch(spark, loc2, "g2",
      TimeTravel.batch(spark, Sf, Some(TimeTravel.Cut2), Some(TimeTravel.Day1), Some(TimeTravel.Day2)), Seq("day_k"))
    GenLog.vacuum(spark, loc2, keepLastN = 1, minAgeMs = 0L)
    intercept[IllegalArgumentException](GenLog.restore(spark, loc2, "rb", "g1"))
  }

  test("merge-on-read delete touches no data file; materialization settles exactly the vector debt; AS-OF holds at every step") {
    val loc = TimeTravel.ensureMorGenerations(spark, Sf)
    val gens = GenLog.generations(spark, loc).toMap
    // the MoR delete changed NOTHING in the data live set
    assert(gens("g2_dv") == gens("g1"),
      "a deletion-vector commit must leave the data live set untouched")
    // ...but the answers changed (the vectors apply at read time)
    val deletedPred = col("event_type") === TimeTravel.DelType &&
      col("day") <= lit(TimeTravel.DelHi).cast("date")
    assert(GenLog.read(spark, loc, "g1").where(deletedPred).count() > 0)
    assert(GenLog.read(spark, loc, "g2_dv").where(deletedPred).isEmpty,
      "the MoR read must hide the vectored rows")
    // a DV sidecar exists and is tiny (positions, not rows)
    val dvDir = new java.io.File(loc, GenLog.DvDir)
    assert(dvDir.isDirectory && dvParquets(dvDir).nonEmpty,
      "the deletion vector must live in the _dv sidecar namespace")
    // materialization rewrote ONLY the vector-referenced (first ten
    // day) files; later days are the same paths
    val mat = gens("g3_mat")
    val rewritten = gens("g2_dv").toSet -- mat.toSet
    assert(rewritten.nonEmpty && rewritten.forall { f =>
      "/day_k=2024-01-(0[1-9]|10)/".r.findFirstIn(f).isDefined
    }, s"only vector-referenced files may materialize, got $rewritten")
    assert((gens("g2_dv").toSet -- rewritten).subsetOf(mat.toSet))
    // post-materialization: vector-free and identical answers
    assert(GenLog.readLatest(spark, loc).where(deletedPred).isEmpty)
    assert(rows(GenLog.read(spark, loc, "g2_dv")) ==
      rows(GenLog.read(spark, loc, "g3_mat")),
      "materialization must not move a row of the visible table")
    // the MoR generation still merge-on-reads AFTER materialization
    // (its vectors and files are history until vacuum)
    assert(GenLog.read(spark, loc, "g2_dv").where(deletedPred).isEmpty)
  }

  test("vacuum collects deletion vectors no retained generation references") {
    // throwaway MoR table: g1 + a DV delete + materialization
    val loc = tempDir("genlog-dv") + "/t"
    GenLog.appendBatch(spark, loc, "g1",
      TimeTravel.batch(spark, Sf, None, None, None), Seq("day_k"))
    GenLog.deleteWhereMoR(spark, loc, "g2", TimeTravel.delPred)
    GenLog.materializeDeletes(spark, loc, "g3", Seq("day_k"))
    val dvDir = new java.io.File(loc, GenLog.DvDir)
    assert(dvParquets(dvDir).nonEmpty)
    val g3 = rows(GenLog.readLatest(spark, loc))
    val deleted = GenLog.vacuum(spark, loc, keepLastN = 1, minAgeMs = 0L)
    assert(deleted.exists(_.contains(s"/${GenLog.DvDir}/")),
      "vacuum must collect the orphaned deletion vectors")
    assert(dvParquets(dvDir).isEmpty)
    assert(rows(GenLog.readLatest(spark, loc)) == g3,
      "the retained vector-free generation reads identically")
  }
}
