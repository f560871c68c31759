package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.{DataSource, FileFormat, FilePartition, HadoopFsRelation}
import org.apache.spark.sql.execution.streaming.runtime.StreamingRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._
import graft.queries.EventsOps

/** Structured Streaming over the `events` table: watermarked tumbling
  * windows and stateful sessionization — the streaming capability the
  * reference lacks (batch-only, SURVEY.md §0) re-expressed on the
  * driver corpus. Each streaming query has a batch twin in EventsOps
  * whose DuckDB oracle also pins the streaming result (the specs
  * assert stream == batch).
  *
  * Scale: the file source is replaced by Kafka/queue sources in
  * production; everything downstream (watermark, window aggregation
  * state store, per-key GroupState) shards by the grouping key across
  * executors. AvailableNow processes the backlog incrementally and
  * terminates — the same code runs continuous with a processing-time
  * trigger.
  */
object EventStreams {

  /** Streaming read of the events file with event-time `ts`.
    *
    * Streaming file sources cannot infer schemas, so the file's actual
    * schema is taken from a one-footer batch read (Tables caches the
    * scan node per (session, dir)). The corpus's `ts` encoding has
    * varied across generations — TIMESTAMP(NANOS), readable only as
    * Long via SPARK-40819, vs plain TIMESTAMP(MICROS) — so dispatch on
    * the scanned type exactly like Tables.events does for batch.
    */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val fileSchema = graft.sources.Tables.table(spark, dir, "events").schema
    val raw = spark.readStream
      .schema(fileSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    fileSchema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      // UTC session zone makes this a pure type change (see Tables.events)
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  /** Watermarked 1-hour tumbling counts per event type — the
    * streaming twin of EventsOps.q40. The 2h watermark bounds state:
    * windows older than (max event time − 2h) are finalized and their
    * state evicted.
    */
  def tumblingHourly(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Streaming dedup: first (user, event_type, hour) occurrence wins.
    * The dedup key includes the event-time window, so the watermark
    * EVICTS dedup state for hours it has passed — state is bounded by
    * (active keys × watermark horizon), never by stream length. This
    * is the streaming half of exact dedup (batch half: Dedup.q32).
    */
  def dedupFirstInHour(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .select(col("user_id"), col("event_type"),
        window(col("ts"), "1 hour").as("win"))
      .dropDuplicates("user_id", "event_type", "win")
      .select(col("user_id"), col("event_type"),
        col("win.start").as("hour_start"))

  /** Stream-stream interval join: each purchase joined to the same
    * user's clicks in the preceding hour. Both sides are watermarked
    * and the join condition bounds event-time distance, so each
    * side's buffered state is evicted once the other side's watermark
    * passes the interval — the canonical bounded-state stream join.
    */
  def purchaseClickJoin(spark: SparkSession, dir: String): DataFrame = {
    val clicks = readEvents(spark, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "2 hours")
    val purchases = readEvents(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "2 hours")
    purchases.join(clicks,
      expr("""user_id = c_user AND
             |c_ts >= p_ts - INTERVAL 1 HOUR AND c_ts <= p_ts""".stripMargin))
      .select(col("user_id"), col("purchase_id"), col("click_id"),
        floor((unix_micros(col("p_ts")) - unix_micros(col("c_ts"))) / 1000000L)
          .cast("long").as("gap_s"))
  }

  /** Stream-stream LEFT OUTER interval join: every purchase, with its
    * preceding-hour clicks when they exist and NULLs when they don't.
    * Outer emission is watermark-driven: a buffered left row can only
    * be declared match-less once the right watermark has passed its
    * whole match interval, so unmatched results trail by the
    * watermark delay — the price of correctness on an unbounded
    * stream. The left side is bounded away from the stream's tail
    * (purchases before Jan 28 in a Jan 1–30 corpus) so a bounded
    * replay flushes every pending outer row before the source dries
    * up; a continuous deployment needs no such bound — the watermark
    * keeps moving. State stays evicted on both sides exactly as in
    * the inner form.
    *
    * Watermark-before-filter matters: the global watermark is the MIN
    * over both sides, and a watermark computed on the filtered left
    * stream would stall 2 h short of the cutoff — the trailing
    * unmatched purchases would never be declared match-less. Tagging
    * `ts` before the filter keeps the left clock fed by the FULL
    * stream (the event-time tag survives the rename), so the left
    * watermark advances to the stream's end.
    */
  def purchaseClickLeftJoin(spark: SparkSession, dir: String): DataFrame = {
    val clicks = readEvents(spark, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "2 hours")
    val purchases = readEvents(spark, dir)
      .withWatermark("ts", "2 hours")
      .filter(col("event_type") === "purchase" && col("ts") < lit("2024-01-28"))
      .select(col("user_id").as("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
    purchases.join(clicks,
      expr("""user_id = c_user AND
             |c_ts >= p_ts - INTERVAL 1 HOUR AND c_ts <= p_ts""".stripMargin),
      "leftOuter")
      .select(col("user_id"), col("purchase_id"), col("click_id"),
        floor((unix_micros(col("p_ts")) - unix_micros(col("c_ts"))) / 1000000L)
          .cast("long").as("gap_s"))
  }

  /** Stream-static enrichment join: the event stream joined to the
    * (batch) customer dimension, then windowed per market segment —
    * the canonical "enrich the stream with reference data" shape.
    * Stream-static inner joins are STATELESS on the stream side: the
    * static side is re-planned per micro-batch (picking up dimension
    * updates) and broadcast, so no join state store exists at all;
    * the only state is the downstream windowed aggregate, bounded by
    * its watermark. At 100 TB/day of events the dimension stays a
    * broadcast as long as it fits an executor — beyond that Spark
    * falls back to a per-batch shuffled join.
    */
  def enrichBySegment(spark: SparkSession, dir: String): DataFrame = {
    val segments = graft.sources.Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    readEvents(spark, dir)
      .withWatermark("ts", "2 hours")
      .join(broadcast(segments), col("user_id") === col("c_custkey"))
      .groupBy(window(col("ts"), "1 hour"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .select(col("window.start").as("hour_start"), col("c_mktsegment"),
        col("n"), col("sum_value"))
  }

  /** Custom sketch inside streaming state: per-hour distinct-user
    * estimate via the KMV TypedImperativeAggregate. The window's
    * state is the serialized k-longs sketch — input-size-independent,
    * merged across micro-batches exactly like across partitions
    * (the same associativity that makes it partial+final in batch
    * makes it incrementally updatable in a state store), evicted by
    * the watermark. Contrast: exact COUNT(DISTINCT) is unsupported in
    * streaming precisely because its state is unbounded.
    */
  def hourlyDistinctUsers(events: DataFrame): DataFrame = {
    import graft.functions.{KmvSketch, TextFns}
    events
      .withWatermark("ts", "2 hours")
      .select(col("ts"),
        (graft.functions.TextKernels.hash60LongCol(col("user_id")) % TextFns.P).as("h"))
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_events"),
        TextFns.rnd(KmvSketch.kmvDistinct(col("h")), 4).as("est_users"))
      .select(col("window.start").as("hour_start"), col("n_events"),
        col("est_users"))
  }

  /** One user's event. `us` (micros since epoch) drives the gap
    * logic; `ts` is kept alongside because the WATERMARK is attached
    * to that attribute — projecting it away would silently discard
    * the event-time column the timeout machinery needs.
    */
  case class UserEvent(user_id: Long, event_id: Long, us: Long,
    ts: java.sql.Timestamp)

  /** One closed session — mirrors EventsOps.q39's output row. */
  case class Session(user_id: Long, session_idx: Long, n_events: Long,
    start_us: Long, end_us: Long, duration_s: Long)

  /** Per-user session state: the OPEN session's aggregate only — four
    * longs, O(1) regardless of how many events the user ever sent.
    * (Never a buffered event list: on a long-running stream that is
    * unbounded state.)
    *
    * `nEvents == 0` marks a CLOSED-SESSION marker: after a timeout
    * close the state keeps the session COUNTER (idx) instead of being
    * removed, so `session_idx` is stable across batch boundaries AND
    * checkpoint restarts and always equals the batch q39 numbering.
    * (Removing state on timeout restarts the counter at 1 whenever a
    * user's sessions happen to close by timeout rather than by an
    * in-batch gap — an artifact of micro-batch placement, observed
    * directly in the recovery test before this marker existed.) The
    * marker makes steady state one 4-long row per EVER-SEEN user; a
    * production deployment bounds that with a state TTL for idle
    * users, accepting an idx restart for users idle past the TTL.
    */
  case class OpenSession(idx: Long, nEvents: Long, startUs: Long, endUs: Long)

  /** Stateful sessionization with flatMapGroupsWithState and O(1)
    * per-user state (the open session's aggregate + its end
    * timestamp).
    *
    * Two modes:
    *  - `boundedBacklog = true` (the q43 batch-twin contract): the
    *    whole backlog arrives in one AvailableNow batch; trailing open
    *    sessions are closed and emitted at batch end and the state is
    *    dropped — output equals EventsOps.q39 exactly.
    *  - `boundedBacklog = false` (continuous operation): the open
    *    session stays in state with an EVENT-TIME timeout at
    *    end + gap; the session is emitted when the watermark passes
    *    the gap (the only correct close signal on an unbounded
    *    stream). The 2h watermark bounds late data; state size is
    *    (#users with an open session) × 4 longs.
    *
    * Per-batch work sorts only THAT batch's events for the user —
    * O(batch), never O(history).
    *
    * `idleTtlUs` (continuous mode only) bounds marker lifetime: a
    * closed-session marker re-arms its event-time timeout at
    * end + gap + TTL and is REMOVED when it fires, so steady state is
    * one row per user ACTIVE within the TTL horizon rather than per
    * user ever seen. The accepted trade (documented at
    * [[OpenSession]]): a user idle past the TTL restarts session_idx
    * at 1 on return. None (default) keeps markers indefinitely —
    * idx then always equals the batch numbering.
    */
  def sessionize(events: DataFrame, boundedBacklog: Boolean = true,
                 idleTtlUs: Option[Long] = None): Dataset[Session] = {
    import events.sparkSession.implicits._
    val timeout =
      if (boundedBacklog) GroupStateTimeout.NoTimeout()
      else GroupStateTimeout.EventTimeTimeout()
    val src = if (boundedBacklog) events else events.withWatermark("ts", "2 hours")
    src
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        col("ts"))
      .as[UserEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, Session](OutputMode.Append(), timeout) {
        (userId: Long, it: Iterator[UserEvent], state: GroupState[OpenSession]) =>
          def close(s: OpenSession): Session =
            Session(userId, s.idx, s.nEvents, s.startUs, s.endUs,
              math.floor((s.endUs - s.startUs).toDouble / 1000000).toLong)
          if (!boundedBacklog && state.hasTimedOut) {
            val s = state.get
            if (s.nEvents == 0L) {
              // a MARKER timed out: the user has been idle past the
              // TTL — drop the row (only reachable with idleTtlUs set)
              state.remove()
              Iterator.empty
            } else {
              // watermark passed end + gap: the open session is
              // closed; the state degrades to a closed marker (keeps
              // the idx counter). With a TTL the marker re-arms its
              // own expiry; without one it waits for the next event.
              state.update(OpenSession(s.idx, 0L, 0L, s.endUs))
              idleTtlUs.foreach { ttl =>
                // a big watermark jump can land PAST end+gap+TTL in
                // the same batch that closes the session; Spark
                // rejects a timeout behind the watermark, so clamp —
                // the marker then expires at the next advance, which
                // is exactly "already past the TTL"
                val want = s.endUs / 1000 + EventsOps.GapUs / 1000 + ttl / 1000
                state.setTimeoutTimestamp(
                  math.max(want, state.getCurrentWatermarkMs() + 1))
              }
              Iterator.single(close(s))
            }
          } else {
            val evs = it.toArray.sortBy(e => (e.us, e.event_id))
            val out = scala.collection.mutable.ArrayBuffer[Session]()
            var open = state.getOption
            evs.foreach { ev =>
              open = open match {
                case Some(s) if s.nEvents == 0L =>
                  // closed marker: the previous session was emitted at
                  // its timeout; any event after that timeout is past
                  // the gap by the watermark contract — a new session
                  Some(OpenSession(s.idx + 1, 1L, ev.us, ev.us))
                case Some(s) if ev.us - s.endUs > EventsOps.GapUs =>
                  out += close(s)
                  Some(OpenSession(s.idx + 1, 1L, ev.us, ev.us))
                case Some(s) =>
                  Some(s.copy(nEvents = s.nEvents + 1, endUs = ev.us))
                case None =>
                  Some(OpenSession(1L, 1L, ev.us, ev.us))
              }
            }
            if (boundedBacklog) {
              open.foreach(s => out += close(s))
              state.remove()
            } else {
              open.foreach { s =>
                state.update(s)
                // ms timeout: fire once watermark > session end + gap;
                // only OPEN sessions re-arm it (a marker never fires)
                if (s.nEvents > 0L)
                  state.setTimeoutTimestamp(s.endUs / 1000 + EventsOps.GapUs / 1000)
              }
            }
            out.iterator
          }
      }
  }

  /** Run a streaming frame to completion over the existing backlog
    * (Trigger.AvailableNow) into an in-memory table; returns the
    * final result as a batch DataFrame.
    */
  case class AttrEvent(user_id: Long, event_id: Long, us: Long,
    event_type: String, value: Double, chan: Option[String],
    ts: java.sql.Timestamp)

  /** Per-user carried attribution state: the most recent click's
    * channel — ONE string per user, O(1) regardless of stream length,
    * and the cross-batch memory that makes incremental attribution
    * correct: a purchase in batch N credits a click from batch N−k
    * without either batch re-reading the other.
    */
  case class LastTouch(chan: String)

  case class Credit(user_id: Long, purchase_id: Long, channel: String,
    value: Double)

  /** Streaming last-touch attribution — the incremental twin of
    * TemporalOps.q142's window pass: each purchase is credited to the
    * user's most recent prior click's channel ('direct' when none).
    * Per batch the group's slice is sorted (O(batch), never
    * O(history)) and scanned once; the carried state is the single
    * last-seen channel. Correct across micro-batches when batches
    * arrive in per-user event-time order (the file-replay contract;
    * a production deployment pairs this with a watermark + per-batch
    * event-time sort the same way sessionize's continuous mode does).
    *
    * `idleTtlUs` bounds state on an open-world user key the same way
    * sessionize's marker TTL does: without it the carried LastTouch
    * row is one string per user EVER SEEN. With a TTL the row's
    * event-time timeout re-arms at (user's last event + TTL) on every
    * batch that touches the user and the row is REMOVED when it
    * fires — steady state is one row per user ACTIVE within the TTL
    * horizon. The accepted trade: a purchase by a user idle past the
    * TTL falls back to 'direct' (exactly the industry-standard
    * "attribution window" — a TTL-length lookback is the semantics
    * ad platforms define, so the trade is the spec, not a loss).
    * Requires an upstream event-time watermark; the 2h one matches
    * sessionize's continuous mode.
    */
  def attributeLastTouch(events: DataFrame,
                         idleTtlUs: Option[Long] = None): Dataset[Credit] = {
    import events.sparkSession.implicits._
    val timeout =
      if (idleTtlUs.isDefined) GroupStateTimeout.EventTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    val src =
      if (idleTtlUs.isDefined) events.withWatermark("ts", "2 hours") else events
    src
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        col("event_type"), col("value"),
        when(col("event_type") === "click",
          concat(lit("ch"),
            pmod(get_json_object(col("props"), "$.k").cast("long"), lit(3))))
          .as("chan"),
        col("ts"))
      .as[AttrEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastTouch, Credit](
        OutputMode.Append(), timeout) {
        (userId: Long, it: Iterator[AttrEvent], state: GroupState[LastTouch]) =>
          if (state.hasTimedOut) {
            // idle past the TTL: the attribution window closed — drop
            // the carried channel (only reachable with idleTtlUs set)
            state.remove()
            Iterator.empty
          } else {
            val sorted = it.toArray.sortBy(e => (e.us, e.event_id))
            var last = state.getOption.map(_.chan)
            val out = Vector.newBuilder[Credit]
            sorted.foreach { e =>
              if (e.event_type == "purchase")
                out += Credit(userId, e.event_id, last.getOrElse("direct"), e.value)
              // a click whose props lack a parseable channel (chan =
              // None) is IGNORED, matching q142's last(ignoreNulls)
              // semantics — assigning `last = e.chan` here would clear
              // the carried channel batch-locally while the state
              // update below skipped it, diverging across batches
              if (e.event_type == "click") e.chan.foreach(c => last = Some(c))
            }
            last.foreach(c => state.update(LastTouch(c)))
            idleTtlUs.foreach { ttl =>
              if (state.exists) {
                // re-arm at (last event in this batch + TTL); clamp to
                // wm+1 when a coarse watermark jump already passed it
                // (Spark rejects a timeout behind the watermark) — the
                // row then expires at the next advance, which is
                // exactly "already past the TTL"
                val want = sorted.last.us / 1000 + ttl / 1000
                state.setTimeoutTimestamp(
                  math.max(want, state.getCurrentWatermarkMs() + 1))
              }
            }
            out.result().iterator
          }
      }
  }

  /** Base directory of every streaming checkpoint here: tmpfs when
    * available. A short AvailableNow run writes offset, commit and
    * state files per micro-batch per state partition; their measured
    * per-file cost was a forked `chmod`/`readlink`, not the write, and
    * [[graft.GraftSession]] now removes those forks. tmpfs stays: with
    * the forks gone, probe runs against `java.io.tmpdir` were
    * inconclusive either way. A production run points this at durable
    * storage instead.
    */
  private[graft] def checkpointBase: String =
    if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/graft-ckpt"
    else s"${System.getProperty("java.io.tmpdir")}/graft-ckpt"

  /** Run `body` with a fresh `<tag>-<uuid>` checkpoint directory under
    * [[checkpointBase]] and delete the directory when `body` ends,
    * however it ends. Every replay here runs to completion and starts
    * fresh (durability lives in the sink), so no checkpoint outlives
    * its run. The delete walks the tree in Java, where Spark's
    * recursive delete would fork `rm -rf` on Unix.
    */
  private[graft] def withCheckpoint[A](tag: String)(body: String => A): A = {
    val ckpt = new java.io.File(checkpointBase, s"$tag-${java.util.UUID.randomUUID()}")
    try body(ckpt.getPath)
    finally org.apache.commons.io.FileUtils.deleteDirectory(ckpt)
  }

  def runToMemory(df: DataFrame, name: String,
    mode: OutputMode = OutputMode.Complete(),
    stateParts: Option[Int] = None): DataFrame =
    runToMemoryTracked(df, name, mode, stateParts)._1

  /** [[runToMemory]] that also returns the query's progress events —
    * the spec uses StateOperatorProgress to pin state-size bounds.
    *
    * `stateParts` pins the number of state-store partitions for THIS
    * query (it is frozen into the checkpoint at first start). None
    * sizes them to the backlog with [[backlogStateParts]]: each state
    * store pays a fixed provider load, delta write and rename, and
    * coordinator round-trips per micro-batch, so a replay runs no more
    * stores than its source scan has tasks.
    */
  def runToMemoryTracked(df: DataFrame, name: String,
    mode: OutputMode = OutputMode.Complete(),
    stateParts: Option[Int] = None)
    : (DataFrame, Array[org.apache.spark.sql.streaming.StreamingQueryProgress]) = {
    val spark = df.sparkSession
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
      stateParts.getOrElse(backlogStateParts(df)))
    try withCheckpoint(name) { ckpt =>
      val q = df.writeStream
        .option("checkpointLocation", ckpt)
        .format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // the replay is done and its checkpoint is about to go —
      // drop the loaded state-store providers (and their in-memory
      // state maps) instead of letting every completed query leak its
      // state into the session (see StreamingBridge)
      org.apache.spark.sql.graftbridge.StreamingBridge.unloadStateStores()
      (spark.table(name), q.recentProgress)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    }
  }

  /** State partitions for a replay of `df`:
    * `min(spark.sql.shuffle.partitions, max over its streaming file
    * sources of the input splits Spark's file scan gives that source's
    * backlog)`. A replay whose sources are all one small file runs one
    * state store. The maximum, not the sum, is taken, so a self-join of
    * one file stays at one. Results do not depend on the count: each
    * key lands in exactly one partition either way. A replay with a
    * non-file streaming source (its backlog size unknown) keeps the
    * session's setting.
    */
  private[graft] def backlogStateParts(df: DataFrame): Int = {
    val shuffleParts = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val splits = df.queryExecution.analyzed.collectLeaves().filter(_.isStreaming).map {
      case StreamingRelation(ds, _, _)
          if classOf[FileFormat].isAssignableFrom(ds.providingClass) =>
        Some(backlogSplits(ds))
      case _ => None
    }
    if (splits.isEmpty || splits.contains(None)) shuffleParts
    else math.min(shuffleParts, math.max(1, splits.flatten.max))
  }

  /** Input splits Spark's batch file scan gives the streaming file
    * source `ds`'s backlog: its files as the same format, paths, options
    * and schema resolve them, cut at `FilePartition.maxSplitBytes` and
    * packed by `FilePartition.getFilePartitions`, as a non-bucketed
    * `FileSourceScanExec` does. Nothing is planned or run: listing a
    * directory of a few files starts no job, and a given schema reads
    * no footer.
    */
  private def backlogSplits(ds: DataSource): Int = {
    val spark = ds.sparkSession
    val rel = ds.resolveRelation().asInstanceOf[HadoopFsRelation]
    val dirs = rel.location.listFiles(Nil, Nil)
    val maxSplit = FilePartition.maxSplitBytes(spark, dirs)
    val splits = for {
      dir <- dirs
      file <- dir.files
      split <- PartitionedFileUtil.splitFiles(file, file.getPath,
        rel.fileFormat.isSplitable(spark, rel.options, file.getPath), maxSplit, dir.values)
    } yield split
    FilePartition.getFilePartitions(spark, splits.sortBy(-_.length), maxSplit).size
  }
}
