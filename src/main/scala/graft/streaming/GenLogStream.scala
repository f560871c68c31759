package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.io.GenLog

/** The generation log's STREAMING writer: each micro-batch commits
  * one generation. This closes the maintenance matrix — partition
  * upsert (q183), cell append (q197), and now log commit all have
  * batch AND streaming writers.
  *
  * The restatement problem a stream has that a batch build doesn't:
  * a batch restating its boundary day can recompute it from the full
  * source, but a micro-batch only HOLDS its own window — the morning
  * of the boundary day lives in an earlier batch. The commit
  * therefore merges ADDITIVELY: prior counts for the affected days
  * are read back from the latest generation (a pinned-file-list read,
  * ∝ the affected days' aggregate rows) and summed with the batch's —
  * counts over disjoint event sets add, so the merged rows are the
  * full restatement. Exactly-once needs no data probes at all here:
  * GenLog visibility IS the commit (a crashed attempt leaves orphan
  * files no reader resolves; the gen-id guard skips committed
  * batches on replay; an uncommitted batch recomputes against the
  * unchanged previous generation).
  *
  * Ordering: additive restatement requires batches to arrive in
  * window order (a later window's commit must see the earlier
  * partial). The staged window files carry ascending mtimes, which
  * FileStreamSource honors with maxFilesPerTrigger=1, and the
  * committer REQUIRES monotone windows — out-of-order delivery fails
  * loudly rather than committing a wrong restatement.
  */
object GenLogStream {

  final val Cut1 = graft.queries.TimeTravel.Cut1
  final val Cut2 = graft.queries.TimeTravel.Cut2

  private[graft] def stagingTable(dir: String): String =
    s"graft_ev_winstage_${java.lang.Integer.toHexString(dir.hashCode)}"

  /** v3: the streaming committer writes COMMIT-TIME change files
    * (cdf = true), making the silver table a streaming CDC source —
    * q231 nets its feed across windows.
    */
  private[graft] def streamGensTable(dir: String): String =
    s"graft_ev_sgens_v3_${java.lang.Integer.toHexString(dir.hashCode)}"

  /** Events staged as three ts-window files (the upstream producer's
    * landing sequence), mtimes ascending so the file stream replays
    * them in window order.
    */
  private def ensureStagedWindows(spark: SparkSession, dir: String): String = {
    val t = stagingTable(dir)
    graft.io.Warehouse.ensurePartitionedTable(spark, t,
      s"$dir/events.parquet", "win") {
      graft.sources.Tables.events(spark, dir)
        .withColumn("win",
          when(col("ts") <= lit(Cut1).cast("timestamp"), 1)
            .when(col("ts") <= lit(Cut2).cast("timestamp"), 2)
            .otherwise(3))
        .repartition(col("win"))
    }
    val loc = graft.io.Warehouse.tableLocation(spark, t)
    for (w <- 1 to 3) {
      val d = new java.io.File(loc, s"win=$w")
      if (d.isDirectory)
        d.listFiles().filter(_.getName.endsWith(".parquet"))
          .foreach(f => { f.setLastModified(1000000L * w); () })
    }
    t
  }

  /** Run the backlog through the streaming committer exactly once
    * per corpus state; the fingerprint (written after the stream
    * completes) is the whole-table commit marker.
    */
  def ensureStreamedGenerations(spark: SparkSession, dir: String): String =
    graft.io.Warehouse.ensureDir(spark, streamGensTable(dir),
        s"$dir/events.parquet") { loc =>
      val staged = ensureStagedWindows(spark, dir)
      val stagedLoc = graft.io.Warehouse.tableLocation(spark, staged)
      val srcStream = spark.readStream
        .schema("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
          "event_type STRING, value DOUBLE, props STRING, win INT")
        .option("maxFilesPerTrigger", "1") // one window per batch, mtime order
        .parquet(stagedLoc)
      val lastWin = new java.util.concurrent.atomic.AtomicInteger(0)
      EventStreams.withCheckpoint("genlog-stream") { ckpt =>
        srcStream.writeStream
          .foreachBatch { (batch: Dataset[Row], _: Long) =>
            commitBatch(batch, loc, lastWin)
          }
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
          .awaitTermination()
      }
    }

  // -----------------------------------------------------------------
  // the INSERT-mode streaming writer (q222): raw rows, not rollups
  // -----------------------------------------------------------------

  private[graft] def rawInsertsTable(dir: String): String =
    s"graft_ev_rawins_${java.lang.Integer.toHexString(dir.hashCode)}"

  /** Streaming RAW-INGEST writer — the bronze-table shape: each
    * micro-batch's rows commit UNAGGREGATED as an INSERT generation
    * whose gen id is the batch's window id. Exactly-once needs
    * nothing beyond log visibility: a replayed window (fresh
    * checkpoint, crash recovery) hits the gen-id guard and skips; a
    * crashed attempt leaves orphans no reader resolves. And because
    * [[GenLog.appendInsert]] removes nothing, concurrent writers —
    * other topics, other streams — can commit interleaved without
    * ever conflicting. q207's committer is the SILVER path (additive
    * restatement of an aggregate); this is the BRONZE path, and
    * downstream consumers tail it with [[GenLog.readAppendedSince]].
    */
  def ensureStreamedInserts(spark: SparkSession, dir: String): String =
    graft.io.Warehouse.ensureDir(spark, rawInsertsTable(dir),
        s"$dir/events.parquet")(streamInsertsInto(spark, dir, _))

  /** One full backlog replay through the insert committer, with a
    * FRESH checkpoint — exposed so the spec can replay it twice and
    * pin that the second pass appends nothing (exactly-once from the
    * gen-id guard alone, no checkpoint needed for correctness).
    */
  private[graft] def streamInsertsInto(spark: SparkSession, dir: String,
                                       loc: String): Unit = {
    val staged = ensureStagedWindows(spark, dir)
    val stagedLoc = graft.io.Warehouse.tableLocation(spark, staged)
    val srcStream = spark.readStream
      .schema("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
        "event_type STRING, value DOUBLE, props STRING, win INT")
      .option("maxFilesPerTrigger", "1") // one window per batch, mtime order
      .parquet(stagedLoc)
    EventStreams.withCheckpoint("genlog-ins") { ckpt =>
      srcStream.writeStream
        .foreachBatch { (batch: Dataset[Row], _: Long) =>
          val ss = batch.sparkSession
          val wins = batch.agg(min(col("win")), max(col("win"))).collect()
          if (!(wins.isEmpty || wins(0).isNullAt(0))) {
            val (wLo, wHi) = (wins(0).getInt(0), wins(0).getInt(1))
            require(wLo == wHi,
              s"one window per batch expected (maxFilesPerTrigger=1), got $wLo..$wHi")
            GenLog.appendInsert(ss, loc, s"w$wLo",
              batch.drop("win").withColumn("etype_k", col("event_type")),
              Seq("etype_k"))
          }
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }
  }

  // -----------------------------------------------------------------
  // the STREAMING SOURCE over the log (Delta-as-a-source): the last
  // hop of the medallion loop — downstream jobs stream the TABLE
  // itself instead of polling readChangeFeed by hand
  // -----------------------------------------------------------------

  /** Source mode: emit each data-changing commit's ADDED-FILE rows —
    * the bronze append feed (GenLog.readAppendedSince's contract,
    * delivered as micro-batches). Restating commits surface their
    * adds; row-accurate for append-only tables.
    */
  final val SourceAdds = "adds"

  /** Source mode: emit each commit's CHANGE ROWS (`_change_type` +
    * `_commit_version` — GenLog.readChangeFeed's contract, one
    * micro-batch per commit). A data-changing commit in range that
    * recorded no change files fails LOUDLY, exactly as the batch feed
    * does — a CDC stream must never silently lie.
    */
  final val SourceCdf = "cdf"

  private def ckptFs(spark: SparkSession, checkpointLoc: String)
      : (org.apache.hadoop.fs.Path, org.apache.hadoop.fs.FileSystem) = {
    val p = new org.apache.hadoop.fs.Path(checkpointLoc)
    (p, p.getFileSystem(spark.sparkContext.hadoopConfiguration))
  }

  private def doneMarker(ckpt: org.apache.hadoop.fs.Path, v: Long) =
    new org.apache.hadoop.fs.Path(ckpt, f"$v%020d.done")

  /** The checkpointed cursor: the highest commit version already
    * processed (0 = virgin checkpoint — consume from the log's
    * beginning). One marker file per processed version; the max is
    * the offset, so a torn multi-batch run resumes exactly after its
    * last COMPLETED batch.
    */
  private[graft] def cursorOf(spark: SparkSession, checkpointLoc: String): Long = {
    val (p, fs) = ckptFs(spark, checkpointLoc)
    if (!fs.exists(p)) return 0L
    fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.endsWith(".done"))
      .map(_.stripSuffix(".done").toLong)
      .maxOption.getOrElse(0L)
  }

  private def markDone(spark: SparkSession, checkpointLoc: String, v: Long): Unit = {
    val (p, fs) = ckptFs(spark, checkpointLoc)
    fs.mkdirs(p)
    val out = fs.create(doneMarker(p, v), true)
    out.close()
  }

  /** Seed a source checkpoint so consumption starts AFTER `version` —
    * the "stream from generation g onwards" idiom (a consumer that
    * bootstraps from a snapshot read, then tails changes).
    */
  def seedCursor(spark: SparkSession, checkpointLoc: String, version: Long): Unit =
    markDone(spark, checkpointLoc, version)

  /** A STREAMING SOURCE over a generation-logged table — the
    * micro-batch source lifecycle (DataSource V2's
    * latestOffset / planInputPartitions / commit), executed with the
    * log's own primitives and a Trigger.AvailableNow drain:
    *
    *   - DISCOVERY (`latestOffset`): list the log dir once and parse
    *     exactly the commits past the checkpointed cursor
    *     (GenLog.commitsAfter — O(new commits), never a snapshot
    *     resolve). A cursor the vacuum truncated past aborts loudly:
    *     the consumer must re-seed, never silently skip.
    *   - PLAN: each data-changing commit becomes ONE micro-batch —
    *     its added files ([[SourceAdds]]) or its commit-time change
    *     files tagged with the version ([[SourceCdf]]). Layout-only
    *     commits (dataChange=false: OPTIMIZE, re-clustering, DV
    *     settlement) advance the cursor WITHOUT emitting — their rows
    *     were already delivered (Delta's streaming-source contract).
    *   - COMMIT (`commit(offset)`): the version's done-marker installs
    *     AFTER `onBatch` returns, so a crash mid-batch re-delivers
    *     exactly the in-flight batch on restart (at-least-once;
    *     exactly-once lands at idempotent sinks — the GenLog-committed
    *     sink gets it from the gen-id guard alone, q222's pattern),
    *     and a COMPLETED drain replays nothing (the restart-replay
    *     spec pins it).
    *
    * Deliberately a driver-side pump rather than a registered
    * DataSource V2 MicroBatchStream: the batches here are real
    * DataFrames over Spark's native vectorized parquet scan (full
    * whole-stage codegen, pushdown, AQE), which a third-party
    * PartitionReader would have to reimplement row-by-row — the
    * offset/commit semantics are identical, the plan quality is
    * strictly better, and the contract is spec-pinned instead of
    * API-shaped. Returns the number of batches emitted.
    */
  def readSource(spark: SparkSession, loc: String, checkpointLoc: String,
                 mode: String = SourceCdf)
                (onBatch: (DataFrame, Long) => Unit): Int = {
    require(mode == SourceAdds || mode == SourceCdf,
      s"unknown source mode '$mode' — use '$SourceAdds' or '$SourceCdf'")
    val cursor = cursorOf(spark, checkpointLoc)
    var emitted = 0
    // adds-mode batches read data files (physical names) and must
    // serve the table's CURRENT logical names, as readAppendedSince
    // does (cdf batches already carry their epoch's logical names)
    lazy val cmap = GenLog.latestColMap(spark, loc)
    GenLog.commitsAfter(spark, loc, cursor).foreach { c =>
      val frame: Option[DataFrame] =
        if (!c.dataChange) None // layout-only: rows already delivered
        else if (mode == SourceAdds) {
          if (c.adds.isEmpty) None // e.g. a delete that rewrote to nothing
          else Some(GenLog.morScan(spark, c.adds, Nil, cmap))
        } else c.cdf match {
          case Some(tok) =>
            Some(spark.read.parquet(s"$loc/${GenLog.ChangesDir}/$tok")
              .withColumn(GenLog.ChangeVersionCol, lit(c.version)))
          case None =>
            require(c.adds.isEmpty && c.removes.isEmpty &&
              c.dvAdds.isEmpty && c.dvRemoves.isEmpty,
              s"commit '${c.gen}' (v${c.version}) changed data without " +
                "change files — the writer committed with cdf = false; " +
                "this table cannot serve a CDC stream past that commit")
            None // an empty delta (no-match delete): nothing changed
        }
      frame.foreach { df => onBatch(df, c.version); emitted += 1 }
      markDone(spark, checkpointLoc, c.version)
    }
    emitted
  }

  private def commitBatch(batch: Dataset[Row], loc: String,
                          lastWin: java.util.concurrent.atomic.AtomicInteger): Unit = {
    val ss = batch.sparkSession
    val wins = batch.agg(min(col("win")), max(col("win"))).collect()
    if (wins.isEmpty || wins(0).isNullAt(0)) return
    val (wLo, wHi) = (wins(0).getInt(0), wins(0).getInt(1))
    require(wLo == wHi,
      s"one window per batch expected (maxFilesPerTrigger=1), got $wLo..$wHi")
    require(wLo > lastWin.get(),
      s"windows must commit in order: got $wLo after ${lastWin.get()}")
    lastWin.set(wLo)
    // the batch lineage (a staged-file read + aggregate) would
    // otherwise run for the days collect, appendBatch's partition
    // collect, AND the parquet write — persist it so the staged file
    // is read once per commit (the upsertMergeByKey discipline)
    val counts = batch.withColumn("day", to_date(col("ts")))
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val gens = GenLog.generations(ss, loc)
      val restated =
        if (gens.isEmpty) counts
        else {
          // the affected days — bounded by the batch's span
          val days = counts.select(col("day")).distinct()
            .collect().map(_.getDate(0).toString)
          val prior = GenLog.read(ss, loc, gens.last._1)
            .where(col("day").isin(days.toIndexedSeq: _*))
            .select(col("day"), col("event_type"), col("n_events"))
          // counts over disjoint event sets ADD: prior + batch = the
          // boundary day's full restatement
          prior.unionByName(counts)
            .groupBy(col("day"), col("event_type"))
            .agg(sum(col("n_events")).as("n_events"))
        }
      // cdf = true: each micro-batch commit persists its change rows —
      // the restated boundary days' preimages plus the batch's rows —
      // so downstream CDC consumers read O(changes) per window (q231)
      GenLog.appendBatch(ss, loc, s"w$wLo",
        restated.withColumn("day_k", date_format(col("day"), "yyyy-MM-dd")),
        Seq("day_k"), cdf = true)
    } finally { counts.unpersist(blocking = false); () }
  }
}
