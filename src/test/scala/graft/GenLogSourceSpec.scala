package graft

import org.apache.spark.sql.functions._
import graft.io.GenLog
import graft.queries.TimeTravel
import graft.streaming.GenLogStream

/** The streaming SOURCE over the generation log
  * (GenLogStream.readSource) — the offset/commit lifecycle facts the
  * q232/q233 oracles can't see: restart-replay emits nothing, a
  * crashed drain resumes after its last COMPLETED batch, batches read
  * only their commit's own files, layout-only commits advance the
  * cursor silently, and a vacuumed cursor fails loudly.
  */
class GenLogSourceSpec extends SparkTestBase {

  /** Three cdf-committing generations (the q205 fixture shape, on a
    * throwaway location).
    */
  private def freshCdcGens(): String = {
    val loc = tempDir("genlogsrc") + "/t"
    GenLog.appendBatch(spark, loc, "g1",
      TimeTravel.batch(spark, Sf, Some(TimeTravel.Cut1), None,
        Some(TimeTravel.Day1)), Seq("day_k"), cdf = true)
    GenLog.appendBatch(spark, loc, "g2",
      TimeTravel.batch(spark, Sf, Some(TimeTravel.Cut2),
        Some(TimeTravel.Day1), Some(TimeTravel.Day2)), Seq("day_k"), cdf = true)
    GenLog.appendBatch(spark, loc, "g3",
      TimeTravel.batch(spark, Sf, None, Some(TimeTravel.Day2), None),
      Seq("day_k"), cdf = true)
    loc
  }

  private def changeRows(df: org.apache.spark.sql.DataFrame)
      : Set[(String, String, Long, String, Long)] =
    df.select(col("day").cast("string"), col("event_type"),
        col("n_events"), col(GenLog.ChangeTypeCol),
        col(GenLog.ChangeVersionCol))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getString(3), r.getLong(4))).toSet

  test("the source drains the backlog once; a restart replays nothing; a new commit is one new batch") {
    val loc = freshCdcGens()
    val ckpt = tempDir("srcck")
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, org.apache.spark.sql.DataFrame)]
    val n = GenLogStream.readSource(spark, loc, ckpt) { (df, v) => got += ((v, df)); () }
    assert(n == 3 && got.map(_._1) == Seq(1L, 2L, 3L),
      "one micro-batch per data-changing commit, in version order")
    // stream == batch: the tail of the drained stream equals the
    // batch change feed over the same range
    val streamed = changeRows(got.map(_._2).reduce(_.unionByName(_)))
    val batchFeed = changeRows(GenLog.readChangeFeed(spark, loc, "g1", "g3"))
    assert(streamed.filter(_._5 > 1L) == batchFeed)
    // restart with the SAME checkpoint: the cursor committed, so a
    // fresh drain emits nothing
    assert(GenLogStream.readSource(spark, loc, ckpt) { (_, _) =>
      fail("a completed drain must replay nothing") } == 0)
    // one more commit → exactly one new batch, version 4
    GenLog.appendBatch(spark, loc, "g4",
      TimeTravel.widenedBatch(spark, Sf, Some(TimeTravel.Day2)), Seq("day_k"),
      evolve = true, cdf = true)
    val more = scala.collection.mutable.ArrayBuffer.empty[Long]
    assert(GenLogStream.readSource(spark, loc, ckpt) { (_, v) => more += v; () } == 1)
    assert(more == Seq(4L))
  }

  test("a crashed drain resumes exactly after its last completed batch (at-least-once, never skipped)") {
    val loc = freshCdcGens()
    val ckpt = tempDir("srcck")
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    intercept[RuntimeException] {
      GenLogStream.readSource(spark, loc, ckpt) { (_, v) =>
        if (v == 2L) sys.error("sink crashed mid-batch")
        seen += v; ()
      }
    }
    assert(seen == Seq(1L), "only the completed batch landed")
    assert(GenLogStream.cursorOf(spark, ckpt) == 1L,
      "the cursor must sit at the last COMPLETED version")
    val resumed = scala.collection.mutable.ArrayBuffer.empty[Long]
    assert(GenLogStream.readSource(spark, loc, ckpt) { (_, v) =>
      resumed += v; () } == 2)
    assert(resumed == Seq(2L, 3L),
      "the in-flight batch re-delivers; nothing is skipped")
  }

  test("cdf batches read only _changes files; adds batches read exactly their commit's added files") {
    val loc = freshCdcGens()
    val cdfCk = tempDir("srcck")
    GenLogStream.readSource(spark, loc, cdfCk) { (df, v) =>
      val ins = df.inputFiles
      assert(ins.nonEmpty && ins.forall(_.contains(s"/${GenLog.ChangesDir}/")),
        s"cdf batch v$v must read change files only, got ${ins.toSeq}")
      ()
    }
    val byVersion = GenLog.commitsAfter(spark, loc, 0L)
      .map(c => c.version -> c.adds.toSet).toMap
    val addsCk = tempDir("srcck")
    GenLogStream.readSource(spark, loc, addsCk, GenLogStream.SourceAdds) {
      (df, v) =>
        val ins = df.inputFiles.map(f => new org.apache.hadoop.fs.Path(
          new java.net.URI(f)).toUri.getPath).toSet
        assert(ins == byVersion(v),
          s"adds batch v$v must read exactly the commit's added files")
        ()
    }
  }

  test("layout-only commits advance the cursor without emitting; empty-delta commits too") {
    val loc = freshCdcGens()
    // an OPTIMIZE adds a file but restates delivered rows
    GenLog.compactPartitionThroughLog(spark, loc, "opt", "day_k", "2024-01-05")
    // a no-match delete commits an empty delta
    GenLog.deleteWhere(spark, loc, "noop_del",
      col("event_type") === lit("no_such_type"), Seq("day_k"), cdf = true)
    val ckpt = tempDir("srcck")
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    GenLogStream.readSource(spark, loc, ckpt, GenLogStream.SourceAdds) {
      (_, v) => got += v; ()
    }
    assert(got == Seq(1L, 2L, 3L),
      "neither the OPTIMIZE nor the empty delete may emit")
    assert(GenLogStream.cursorOf(spark, ckpt) == 5L,
      "the cursor must still advance past the silent commits")
  }

  test("a vacuumed cursor fails loudly instead of silently skipping; a cdf stream over a cdf-less commit fails loudly") {
    val loc = freshCdcGens()
    val ckpt = tempDir("srcck")
    GenLogStream.seedCursor(spark, ckpt, 1L)
    GenLog.vacuum(spark, loc, keepLastN = 1, minAgeMs = 0L)
    val e = intercept[IllegalArgumentException] {
      GenLogStream.readSource(spark, loc, ckpt) { (_, _) => () }
    }
    assert(e.getMessage.contains("re-seed"))
    // a table with a data-changing commit that wrote no change files
    // cannot serve a CDC stream past it
    val loc2 = tempDir("genlogsrc") + "/t"
    GenLog.appendBatch(spark, loc2, "g1",
      TimeTravel.batch(spark, Sf, Some(TimeTravel.Cut1), None,
        Some(TimeTravel.Day1)), Seq("day_k")) // cdf = false
    val e2 = intercept[IllegalArgumentException] {
      GenLogStream.readSource(spark, loc2, tempDir("srcck")) { (_, _) => () }
    }
    assert(e2.getMessage.contains("change files"))
    // ...but the ADDS stream serves it fine (append feed needs no cdf)
    assert(GenLogStream.readSource(spark, loc2, tempDir("srcck"),
      GenLogStream.SourceAdds) { (_, _) => () } == 1)
  }
}
