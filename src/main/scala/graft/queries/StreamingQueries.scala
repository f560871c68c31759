package graft.queries

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.EventStreams

/** Structured-Streaming queries surfaced through the declared-query
  * inventory: each runs its stream over the full backlog with
  * Trigger.AvailableNow into a memory sink and returns the final
  * table. Results are deterministic and equal to their batch twins,
  * so they share the batch oracles (q40/q39 SQL). No replay here pins
  * its state-partition count: `EventStreams.runToMemoryTracked` sizes
  * it to the backlog, one state store for the one-file events replay.
  */
object StreamingQueries {

  private val runId = new AtomicLong(0)

  // q42_stream_tumbling — watermark + tumbling window over the
  // events backlog; equals EventsOps.q40.
  def q42(spark: SparkSession, dir: String): DataFrame = {
    val name = s"stream_tumbling_${runId.incrementAndGet()}"
    EventStreams.runToMemory(
      EventStreams.tumblingHourly(EventStreams.readEvents(spark, dir)),
      name, OutputMode.Complete())
      .orderBy(col("hour_start"), col("event_type"))
  }

  // q43_stream_sessions — flatMapGroupsWithState sessionization;
  // equals EventsOps.q39.
  def q43(spark: SparkSession, dir: String): DataFrame = {
    val name = s"stream_sessions_${runId.incrementAndGet()}"
    EventStreams.runToMemory(
      EventStreams.sessionize(EventStreams.readEvents(spark, dir)).toDF(),
      name, OutputMode.Append())
      .orderBy(col("user_id"), col("session_idx"))
  }

  // q60_stream_dedup — watermark-bounded streaming dropDuplicates;
  // equals the batch DISTINCT below. Bounded to user_id <= 300 (the
  // q50 pattern) to keep the emitted result proportionate; the
  // filter is applied BEFORE the stateful operator, so it also prunes
  // dedup state at the source.
  def q60(spark: SparkSession, dir: String): DataFrame = {
    val name = s"stream_dedup_${runId.incrementAndGet()}"
    EventStreams.runToMemory(
      EventStreams.dedupFirstInHour(
        EventStreams.readEvents(spark, dir).filter(col("user_id") <= 300)),
      name, OutputMode.Append())
      .orderBy(col("user_id"), col("event_type"), col("hour_start"))
  }

  val q60Sql: String =
    """SELECT DISTINCT user_id, event_type,
      |  CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start
      |FROM events WHERE user_id <= 300
      |ORDER BY user_id, event_type, hour_start""".stripMargin

  // q63_stream_interval_join — stream-stream join, both sides
  // watermarked, event-time-bounded condition; equals the batch join.
  // A stream-stream join keeps FOUR state stores per partition (two
  // maps per side), so each partition costs 4x a dedup/agg's commits;
  // both sides read the one events file, so the replay sizes its state
  // to that file's single split (EventStreams.backlogStateParts).
  def q63(spark: SparkSession, dir: String): DataFrame = {
    val name = s"stream_ssjoin_${runId.incrementAndGet()}"
    EventStreams.runToMemory(
      EventStreams.purchaseClickJoin(spark, dir),
      name, OutputMode.Append())
      .orderBy(col("user_id"), col("purchase_id"), col("click_id"))
  }

  val q63Sql: String =
    """SELECT p.user_id AS user_id, p.event_id AS purchase_id,
      |  c.event_id AS click_id,
      |  CAST(floor((epoch_us(p.ts) - epoch_us(c.ts)) / 1000000) AS BIGINT) AS gap_s
      |FROM events p JOIN events c
      |  ON p.user_id = c.user_id
      | AND p.event_type = 'purchase' AND c.event_type = 'click'
      | AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
      |ORDER BY user_id, purchase_id, click_id""".stripMargin

  // q72_stream_static_join — the event stream enriched by the static
  // customer dimension (broadcast, stateless join; see
  // EventStreams.enrichBySegment), then watermarked hourly counts per
  // market segment. Oracle: the equivalent batch join+group.
  def q72(spark: SparkSession, dir: String): DataFrame = {
    val name = s"stream_enrich_${runId.incrementAndGet()}"
    EventStreams.runToMemory(
      EventStreams.enrichBySegment(spark, dir),
      name, OutputMode.Complete())
      .orderBy(col("hour_start"), col("c_mktsegment"))
  }

  val q72Sql: String =
    """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
      |  c_mktsegment, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |GROUP BY 1, 2 ORDER BY hour_start, c_mktsegment""".stripMargin

  // q74_stream_kmv — the KMV distinct sketch as STREAMING window
  // state: per-hour distinct-user estimates with watermark-evicted,
  // size-bounded sketch state (EventStreams.hourlyDistinctUsers).
  // Oracle: the identical deterministic estimator in batch SQL.
  def q74(spark: SparkSession, dir: String): DataFrame = {
    val name = s"stream_kmv_${runId.incrementAndGet()}"
    EventStreams.runToMemory(
      EventStreams.hourlyDistinctUsers(EventStreams.readEvents(spark, dir)),
      name, OutputMode.Complete())
      .orderBy(col("hour_start"))
  }

  val q74Sql: String = {
    import graft.functions.{KmvSketch, TextFns}
    val h = s"${TextFns.hash60Sql("user_id::VARCHAR")} % ${TextFns.P}"
    s"""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
       |  COUNT(*) AS n_events,
       |  ${TextFns.rndSql(KmvSketch.kmvDistinctSql("h"), 4)} AS est_users
       |FROM (SELECT ts, $h AS h FROM events)
       |GROUP BY 1 ORDER BY hour_start""".stripMargin
  }

  // q84_stream_outer_join — the LEFT OUTER form of q63: purchases
  // with no preceding-hour click surface as NULL rows once the right
  // watermark passes their match interval
  // (EventStreams.purchaseClickLeftJoin). Oracle: the batch LEFT JOIN.
  def q84(spark: SparkSession, dir: String): DataFrame = {
    val name = s"stream_ssouter_${runId.incrementAndGet()}"
    EventStreams.runToMemory(
      EventStreams.purchaseClickLeftJoin(spark, dir),
      name, OutputMode.Append())
      .orderBy(col("user_id"), col("purchase_id"), col("click_id"))
  }

  val q84Sql: String =
    """SELECT p.user_id AS user_id, p.event_id AS purchase_id,
      |  c.event_id AS click_id,
      |  CAST(floor((epoch_us(p.ts) - epoch_us(c.ts)) / 1000000) AS BIGINT) AS gap_s
      |FROM (SELECT * FROM events
      |      WHERE event_type = 'purchase' AND ts < '2024-01-28') p
      |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id
      | AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
      |ORDER BY user_id, purchase_id, click_id""".stripMargin

  // q132_stream_span_trim — continuous-ingest exact-substring dedup:
  // the new-batch document stream (q87/q130's doc_id split) probes
  // the Warehouse-persisted history window index — the SAME
  // cross-session bucketed table batch q130 reads — through a
  // STATELESS stream-static equi-join on the 60-bit window hash,
  // then one per-doc aggregate assembles the trimmed-span report.
  // Only documents with >= 1 duplicated span emit: the ingest-time
  // alert stream, q130's batch complement. State is the per-doc
  // aggregate only (the join itself holds nothing); a production
  // run would watermark on ingest time — the backlog replay uses
  // Complete over the bounded alert set instead.
  def q132(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFns.rnd
    val k = CurationOps.WinK
    val name = s"stream_span_trim_${runId.incrementAndGet()}"
    val docsSchema = graft.sources.Tables.table(spark, dir, "documents").schema
    val stream = spark.readStream.schema(docsSchema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
      .filter(col("doc_id") % 10 === 7)
      .select(col("doc_id"), size(split(col("text"), " ")).as("n_tok"),
        posexplode(graft.functions.TextKernels.winHashCol(col("text"), k))
          .as(Seq("p0", "h")))
      .select(col("doc_id"), col("n_tok"), (col("p0") + 1).as("pos"), col("h"))
    val agg = stream.join(CurationOps.persistedHistoryIndex(spark, dir), "h")
      .groupBy(col("doc_id"), col("n_tok"))
      .agg(collect_list(col("pos")).as("ps"))
    EventStreams.runToMemory(agg, name, OutputMode.Complete())
      .select(col("doc_id"), col("n_tok"),
        size(col("ps")).cast("long").as("n_hit_windows"),
        graft.functions.TextKernels.coverSizeCol(col("ps"), k)
          .cast("long").as("trimmed_tokens"))
      .withColumn("kept_frac",
        rnd(lit(1.0) - col("trimmed_tokens").cast("double") / col("n_tok").cast("double"), 4))
      .orderBy(desc("trimmed_tokens"), col("doc_id")).limit(CurationOps.TrimTopK)
  }

  val q132Sql: String = {
    import graft.functions.TextFns.{hash60Sql, rndSql}
    val k = CurationOps.WinK
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |w AS (SELECT doc_id, i AS pos,
       |  ${hash60Sql(s"array_to_string(t[i:i+${k - 1}], ' ')")} AS h
       |  FROM d, unnest(generate_series(1, len(t) - ${k - 1})) AS u(i)
       |  WHERE len(t) >= $k),
       |hist AS (SELECT DISTINCT h FROM w WHERE doc_id % 10 <> 7),
       |hits AS (SELECT doc_id, list(pos) AS ps
       |  FROM w JOIN hist USING (h) WHERE doc_id % 10 = 7 GROUP BY doc_id),
       |c AS (SELECT d.doc_id, len(t) AS n_tok,
       |  len(ps)::BIGINT AS n_hit_windows,
       |  len(list_distinct(flatten(list_transform(ps,
       |    p -> generate_series(p, p + ${k - 1})))))::BIGINT AS trimmed_tokens
       |  FROM d JOIN hits ON d.doc_id = hits.doc_id)
       |SELECT doc_id, n_tok, n_hit_windows, trimmed_tokens,
       |  ${rndSql("1.0 - trimmed_tokens::DOUBLE / n_tok::DOUBLE", 4)} AS kept_frac
       |FROM c ORDER BY trimmed_tokens DESC, doc_id LIMIT ${CurationOps.TrimTopK}""".stripMargin
  }

  // q143_stream_attribution — incremental last-touch attribution:
  // flatMapGroupsWithState carries ONE string per user (the last
  // click's channel) across micro-batches; each purchase emits a
  // credit row against that carried state. Row-level oracle: the
  // emitted credits equal TemporalOps.q142's window pass before its
  // rollup, so the hash gate certifies the stateful scan, not just
  // an aggregate of it. StreamingSpec replays the same backlog in
  // time-sliced micro-batches and asserts batch-boundary invariance.
  def q143(spark: SparkSession, dir: String): DataFrame = {
    val name = s"stream_attr_${runId.incrementAndGet()}"
    EventStreams.runToMemory(
      EventStreams.attributeLastTouch(EventStreams.readEvents(spark, dir)).toDF(),
      name, OutputMode.Append())
      .orderBy(col("user_id"), col("purchase_id"))
  }

  val q143Sql: String =
    """WITH tagged AS (
      |  SELECT user_id, ts, event_id, event_type, value,
      |    CASE WHEN event_type = 'click'
      |         THEN 'ch' || (json_extract_string(props, '$.k')::BIGINT % 3)
      |         END AS chan
      |  FROM events),
      |attributed AS (
      |  SELECT user_id, event_id, event_type, value,
      |    LAST_VALUE(chan IGNORE NULLS) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS attr
      |  FROM tagged)
      |SELECT user_id, event_id AS purchase_id,
      |  COALESCE(attr, 'direct') AS channel, value
      |FROM attributed
      |WHERE event_type = 'purchase'
      |ORDER BY user_id, purchase_id""".stripMargin

  // q149_stream_anomaly — ingest-time volume alerting: the hourly
  // event counts stream through the watermarked tumbling window,
  // then each finalized hour joins a BATCH-TRAINED per-type baseline
  // (the q136 mean/std from exact integer sums — at production this
  // is a Warehouse table refreshed nightly) and hours with |z| >=
  // ZCut emit. The monitoring shape where training is batch and
  // detection is streaming; replaying the full backlog makes the
  // alert set equal q136's, so it shares q136's oracle.
  def q149(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFns.rnd
    val name = s"stream_anomaly_${runId.incrementAndGet()}"
    val hourly = EventStreams.runToMemory(
      EventStreams.tumblingHourly(EventStreams.readEvents(spark, dir)),
      name, OutputMode.Complete())
      .select(col("hour_start"), col("event_type"), col("n").as("c"))
    val stats = EventsOps.hourlyStats(spark, dir)
    hourly.join(broadcast(stats), "event_type")
      .withColumn("z", (col("c").cast("double") - col("mean_c")) / col("std_c"))
      .where(abs(col("z")) >= EventsOps.ZCut)
      .select(col("hour_start"), col("event_type"), col("c"),
        rnd(col("mean_c"), 4).as("mean_c"), rnd(col("z"), 4).as("z"))
      .orderBy(col("event_type"), col("hour_start"))
  }

  // q158_stream_sessions_tws — the q43 sessionization re-expressed on
  // Spark 4's transformWithState (state-v2: named state variables,
  // explicit timers); equals EventsOps.q39 exactly, same oracle.
  // state-v2 requires the RocksDB provider — set for this run only,
  // restored after (it is the production backend anyway; see
  // StateV2's scaladoc).
  def q158(spark: SparkSession, dir: String): DataFrame = {
    val name = s"stream_sessions_tws_${runId.incrementAndGet()}"
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      EventStreams.runToMemory(
        graft.streaming.StateV2.sessionize(
          EventStreams.readEvents(spark, dir)).toDF(),
        name, OutputMode.Append())
        .orderBy(col("user_id"), col("session_idx"))
    } finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None    => spark.conf.unset(key)
    }
  }

  // q159_stream_multitouch — linear multi-touch attribution on
  // state-v2 MapState (StateV2.MultiTouchProcessor): every purchase
  // splits its value across the user's prior click channels by count.
  // Oracle: strictly-before join + per-purchase window total; weight
  // and credit are single division expressions over exact integers,
  // bit-identical cross-engine.
  def q159(spark: SparkSession, dir: String): DataFrame = {
    val name = s"stream_multitouch_${runId.incrementAndGet()}"
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      EventStreams.runToMemory(
        graft.streaming.StateV2.multiTouch(
          EventStreams.readEvents(spark, dir)).toDF(),
        name, OutputMode.Append())
        .orderBy(col("user_id"), col("purchase_id"), col("channel"))
    } finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None    => spark.conf.unset(key)
    }
  }

  // q160_stream_attribution_tws — last-touch attribution on state-v2
  // (StateV2.LastTouchProcessor: ValueState + explicit TTL timer),
  // completing the streaming family on the modern API surface beside
  // q158's sessionize and q159's multi-touch. Same semantics as q143,
  // same oracle; StreamingSpec additionally pins tws == gmws on the
  // crafted TTL backlog (credits, removals, final state count).
  def q160(spark: SparkSession, dir: String): DataFrame = {
    val name = s"stream_attr_tws_${runId.incrementAndGet()}"
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      EventStreams.runToMemory(
        graft.streaming.StateV2.lastTouch(
          EventStreams.readEvents(spark, dir)).toDF(),
        name, OutputMode.Append())
        .orderBy(col("user_id"), col("purchase_id"))
    } finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None    => spark.conf.unset(key)
    }
  }

  val q159Sql: String =
    """WITH c AS (
      |  SELECT user_id, event_id, ts,
      |    'ch' || (json_extract_string(props, '$.k')::BIGINT % 3) AS chan
      |  FROM events
      |  WHERE event_type = 'click'
      |    AND json_extract_string(props, '$.k') IS NOT NULL),
      |p AS (
      |  SELECT user_id, event_id, ts, value FROM events
      |  WHERE event_type = 'purchase'),
      |pc AS (
      |  SELECT p.user_id, p.event_id AS purchase_id, p.value, c.chan,
      |    COUNT(*) AS clicks
      |  FROM p JOIN c ON p.user_id = c.user_id
      |    AND (c.ts < p.ts OR (c.ts = p.ts AND c.event_id < p.event_id))
      |  GROUP BY 1, 2, 3, 4),
      |t AS (SELECT pc.*, SUM(clicks) OVER (PARTITION BY purchase_id) AS total
      |      FROM pc)
      |SELECT user_id, purchase_id, chan AS channel, clicks::BIGINT AS clicks,
      |  total::BIGINT AS total_clicks,
      |  clicks::DOUBLE / total::DOUBLE AS weight,
      |  value * clicks / total AS credit
      |FROM t
      |UNION ALL
      |SELECT p.user_id, p.event_id, 'direct', 0, 0, 1.0, p.value
      |FROM p
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM c WHERE c.user_id = p.user_id
      |    AND (c.ts < p.ts OR (c.ts = p.ts AND c.event_id < p.event_id)))
      |ORDER BY user_id, purchase_id, channel""".stripMargin

  // ---------------------------------------------------------------
  // q168_stream_trending — streaming heavy hitters: per hourly window
  // StateV2.TrendingProcessor carries an m-bounded Misra-Gries
  // summary as the window's ENTIRE state (a few KB regardless of
  // distinct-user count — a plain streaming groupBy(window, user)
  // keeps one state row per pair), emits the candidate set at window
  // close, and the declared query recounts candidates EXACTLY against
  // the batch table — q161's two-phase sketch-then-recount
  // discipline, applied at ingest. With TrendingM far above any test
  // window's user count the summary is exact at all three SFs, so the
  // oracle is the clean per-window exact top-k; at firehose scale the
  // MG guarantee (every user with share > 1/(m+1) is a candidate)
  // bounds what the recount can miss.
  // ---------------------------------------------------------------
  final val TrendTopK = 5

  def q168(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val name = s"stream_trending_${runId.incrementAndGet()}"
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val cands = EventStreams.runToMemory(
        graft.streaming.StateV2.trendingUsers(
          EventStreams.readEvents(spark, dir)).toDF(),
        name, OutputMode.Append())
      val ev = graft.sources.Tables.events(spark, dir)
        .select(expr("unix_micros(ts) DIV 3600000000 * 3600000000").as("win_us"),
          col("user_id"))
      val counts = ev.groupBy("win_us", "user_id").agg(count(lit(1)).as("cnt"))
      val totals = ev.groupBy("win_us").agg(count(lit(1)).as("win_total"))
      val w = Window.partitionBy(col("win_us"))
        .orderBy(desc("cnt"), col("user_id"))
      cands.select(col("win_us"), col("user_id"))
        .join(counts, Seq("win_us", "user_id"))
        .join(totals, "win_us")
        .withColumn("rank", row_number().over(w).cast("int"))
        .where(col("rank") <= TrendTopK)
        .select(timestamp_micros(col("win_us")).as("win_start"), col("rank"),
          col("user_id"), col("cnt"),
          (col("cnt") * (graft.streaming.StateV2.TrendingM + 1)
            > col("win_total")).as("guaranteed"))
        .orderBy(col("win_start"), col("rank"))
    } finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None    => spark.conf.unset(key)
    }
  }

  val q168Sql: String =
    s"""WITH c AS (
       |  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS win_start,
       |    user_id, COUNT(*) AS cnt
       |  FROM events GROUP BY 1, 2),
       |t AS (SELECT win_start, SUM(cnt)::BIGINT AS win_total FROM c GROUP BY 1),
       |r AS (
       |  SELECT c.*, t.win_total,
       |    ROW_NUMBER() OVER (PARTITION BY c.win_start
       |      ORDER BY cnt DESC, user_id) AS rank
       |  FROM c JOIN t USING (win_start))
       |SELECT win_start, CAST(rank AS INT) AS rank, user_id, cnt,
       |  cnt * ${graft.streaming.StateV2.TrendingM + 1} > win_total AS guaranteed
       |FROM r WHERE rank <= $TrendTopK
       |ORDER BY win_start, rank""".stripMargin

  // ---------------------------------------------------------------
  // q174_stream_drift — ONLINE distribution-drift detection: q170's
  // data-quality gate moved to ingest time, the ML-monitoring shape
  // where the reference histogram is trained in batch and the live
  // histogram is maintained BY THE STREAM. Events bin their `value`
  // (width-32, capped at 15); the reference half is event_id-block
  // even, and a collector regression is injected into the current
  // half for odd-length event types (values >= DriftVMax dropped —
  // a feed that silently stopped shipping large transactions). The
  // stream maintains one (event_type, bin) frame with both counters
  // — streaming state is event-types x <=16 bins, BOUNDED BY
  // CONSTRUCTION regardless of stream length (contrast q43/q158,
  // whose state tracks live keys). The drift statistics then run on
  // the finalized tiny frame: the same log-free Laplace-smoothed
  // chi-square + total-variation math as q170 (see its scaladoc for
  // the IEEE-parity argument), flagged at TVD > DriftCut.
  //
  // At sf0.1 the flag isolates exactly the two injected types (TVD
  // 0.045-0.053 vs 0.007-0.013 clean); at smaller SFs sampling noise
  // puts every type over the cut — deterministic either way, and the
  // oracle computes the identical statistic. Replaying the bounded
  // backlog makes the stream's histogram equal the batch histogram,
  // so the oracle is the batch twin's SQL over the same parquet.
  // ---------------------------------------------------------------
  final val DriftW = 32.0
  final val DriftVMax = 150.0
  final val DriftCut = 0.03

  /** The streaming histogram maintenance: one (event_type, bin) frame
    * with both snapshot counters. Exposed for the spec, which pins the
    * state bound (types x <=16 bins) via StateOperatorProgress.
    */
  private[graft] def driftBinned(spark: SparkSession, dir: String): DataFrame =
    EventStreams.readEvents(spark, dir)
      .select(col("event_type"), col("event_id"), col("value"))
      .withColumn("b", least(floor(col("value") / DriftW).cast("int"), lit(15)))
      .withColumn("is_ref", expr("(event_id DIV 100) % 2 = 0"))
      .withColumn("is_cur", expr(
        s"(event_id DIV 100) % 2 = 1 AND NOT (length(event_type) % 2 = 1 AND value >= $DriftVMax)"))
      .groupBy(col("event_type"), col("b"))
      .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("ref_cnt"),
        sum(when(col("is_cur"), 1L).otherwise(0L)).as("cur_cnt"))

  def q174(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFns.rnd
    import org.apache.spark.sql.expressions.Window
    val name = s"stream_drift_${runId.incrementAndGet()}"
    val counts = EventStreams.runToMemory(
      driftBinned(spark, dir), name, OutputMode.Complete())
    val wTyp = Window.partitionBy(col("event_type"))
    counts
      .withColumn("n_ref", sum(col("ref_cnt")).over(wTyp))
      .withColumn("n_cur", sum(col("cur_cnt")).over(wTyp))
      .withColumn("nb", count(lit(1)).over(wTyp))
      .withColumn("p_ref",
        (col("ref_cnt") + 1).cast("double") / (col("n_ref") + col("nb")).cast("double"))
      .withColumn("p_cur",
        (col("cur_cnt") + 1).cast("double") / (col("n_cur") + col("nb")).cast("double"))
      .withColumn("chi_fp",
        floor((col("p_cur") - col("p_ref")) * (col("p_cur") - col("p_ref"))
          / col("p_ref") * 1000000.0 + 0.5).cast("long"))
      .withColumn("tvd_fp",
        floor(abs(col("p_cur") - col("p_ref")) * 1000000.0 + 0.5).cast("long"))
      .groupBy(col("event_type"), col("n_ref"), col("n_cur"), col("nb"))
      .agg(sum(col("chi_fp")).as("schi"), sum(col("tvd_fp")).as("stvd"))
      .select(col("event_type"), col("n_ref"), col("n_cur"),
        col("nb").as("n_bins"),
        rnd(col("n_cur").cast("double") * (col("schi").cast("double") / 1000000.0), 4)
          .as("chi2"),
        rnd(lit(0.5) * (col("stvd").cast("double") / 1000000.0), 6).as("tvd"))
      .withColumn("drifted", col("tvd") > DriftCut)
      .orderBy(col("event_type"))
  }

  val q174Sql: String = {
    import graft.functions.TextFns.rndSql
    s"""WITH tagged AS (
       |  SELECT event_type, value,
       |    LEAST(floor(value / $DriftW)::INT, 15) AS b,
       |    ((event_id // 100) % 2 = 0) AS is_ref,
       |    ((event_id // 100) % 2 = 1
       |      AND NOT (length(event_type) % 2 = 1 AND value >= $DriftVMax)) AS is_cur
       |  FROM events),
       |bins AS (
       |  SELECT event_type, b,
       |    SUM(CASE WHEN is_ref THEN 1 ELSE 0 END)::BIGINT AS ref_cnt,
       |    SUM(CASE WHEN is_cur THEN 1 ELSE 0 END)::BIGINT AS cur_cnt
       |  FROM tagged GROUP BY event_type, b),
       |tot AS (
       |  SELECT *, SUM(ref_cnt) OVER (PARTITION BY event_type)::BIGINT AS n_ref,
       |    SUM(cur_cnt) OVER (PARTITION BY event_type)::BIGINT AS n_cur,
       |    (COUNT(*) OVER (PARTITION BY event_type))::BIGINT AS nb
       |  FROM bins),
       |terms AS (
       |  SELECT event_type, n_ref, n_cur, nb,
       |    (ref_cnt + 1)::DOUBLE / (n_ref + nb)::DOUBLE AS p_ref,
       |    (cur_cnt + 1)::DOUBLE / (n_cur + nb)::DOUBLE AS p_cur
       |  FROM tot),
       |fp AS (
       |  SELECT event_type, n_ref, n_cur, nb,
       |    floor((p_cur - p_ref) * (p_cur - p_ref) / p_ref * 1000000.0 + 0.5)::BIGINT AS chi_fp,
       |    floor(abs(p_cur - p_ref) * 1000000.0 + 0.5)::BIGINT AS tvd_fp
       |  FROM terms),
       |agg AS (
       |  SELECT event_type, n_ref, n_cur, nb AS n_bins,
       |    ${rndSql("n_cur::DOUBLE * (SUM(chi_fp)::DOUBLE / 1000000.0)", 4)} AS chi2,
       |    ${rndSql("0.5 * (SUM(tvd_fp)::DOUBLE / 1000000.0)", 6)} AS tvd
       |  FROM fp GROUP BY event_type, n_ref, n_cur, nb)
       |SELECT event_type, n_ref, n_cur, n_bins, chi2, tvd,
       |  tvd > $DriftCut AS drifted
       |FROM agg ORDER BY event_type""".stripMargin
  }

  // ---------------------------------------------------------------
  // q177_stream_hll — streaming per-window distinct users: the HLL
  // register array as window state (StateV2.HllWindowProcessor),
  // completing the streaming sketch family (KMV q74, MG q168, drift
  // histogram q174). State is live-windows × 256 BYTES regardless of
  // stream rate; the register fold is the batch aggregate's own
  // updateRegisters, so a backlog replay reproduces the batch sketch
  // bit-for-bit — which is what lets a streaming HLL be ORACLE-HASH
  // checked (the emitted S is the exact integer of q172, and DuckDB
  // recomputes the identical registers per hour from the same
  // hash60(user_id)). The declared output attaches the raw estimate
  // AND the exact batch recount: this corpus's per-hour distinct
  // users sit in HLL's documented small-range regime (zero_regs > 0
  // reports it), so the exact column is what a consumer would trust
  // here while the register algebra — the part that scales — is
  // what the oracle pins. In production the per-window sketches also
  // MERGE upward (day/week rollups) by register max without
  // re-reading the stream.
  // ---------------------------------------------------------------
  def q177(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.{HllSketch, TextFns}
    val name = s"stream_hll_${runId.incrementAndGet()}"
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val emitted = EventStreams.runToMemory(
        graft.streaming.StateV2.windowDistinct(
          EventStreams.readEvents(spark, dir)).toDF(),
        name, OutputMode.Append())
      // The boundedBacklog processor emits a CUMULATIVE summary per
      // micro-batch that touched the window; registers only grow, so
      // S (and the zero-register count) is monotone non-increasing
      // across a window's emissions and MIN selects the complete
      // sketch. A one-batch replay makes this the identity; a backlog
      // split across micro-batches is handled by algebra instead of
      // the former require()-asserted one-batch convention
      // (StreamingSpec replays a 4-file backlog at
      // maxFilesPerTrigger=1 and pins equality).
      val sk = emitted.groupBy(col("win_us"))
        .agg(min(col("s_fp")).as("s_fp"),
          min(col("zero_regs")).as("zero_regs"))
      val exact = graft.sources.Tables.events(spark, dir)
        .select(expr("unix_micros(ts) DIV 3600000000 * 3600000000").as("win_us"),
          col("user_id"))
        .groupBy("win_us")
        .agg(count_distinct(col("user_id")).as("exact_users"))
      sk.join(exact, "win_us")
        .select(timestamp_micros(col("win_us")).as("win_start"),
          col("exact_users"), col("zero_regs"),
          TextFns.rnd(HllSketch.estimate(col("s_fp")), 4).as("est_users"))
        .orderBy(col("win_start"))
    } finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None    => spark.conf.unset(key)
    }
  }

  val q177Sql: String = {
    import graft.functions.{HllSketch, TextFns}
    s"""WITH h AS (
       |  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS win_start,
       |    user_id, ${TextFns.hash60Sql("user_id::VARCHAR")} AS h
       |  FROM events),
       |r AS (SELECT win_start, ${HllSketch.registerSql("h")} FROM h),
       |agg AS (${HllSketch.summarizeSql("win_start", "r", zeros = true)}),
       |ex AS (SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS win_start,
       |  COUNT(DISTINCT user_id)::BIGINT AS exact_users FROM events GROUP BY 1)
       |SELECT agg.win_start, exact_users, zero_regs,
       |  ${TextFns.rndSql(HllSketch.estimateSql("s_fp"), 4)} AS est_users
       |FROM agg JOIN ex ON agg.win_start = ex.win_start
       |ORDER BY agg.win_start""".stripMargin
  }

  def declared: Seq[Query] = Seq(
    Query("q177_stream_hll", q177, q177Sql),
    Query("q174_stream_drift", q174, q174Sql),
    Query("q168_stream_trending", q168, q168Sql),
    Query("q160_stream_attribution_tws", q160, q143Sql),
    Query("q159_stream_multitouch", q159, q159Sql),
    Query("q158_stream_sessions_tws", q158, EventsOps.q39Sql),
    Query("q149_stream_anomaly", q149, EventsOps.q136Sql),
    Query("q143_stream_attribution", q143, q143Sql),
    Query("q132_stream_span_trim", q132, q132Sql),
    Query("q42_stream_tumbling", q42, EventsOps.q40Sql),
    Query("q43_stream_sessions", q43, EventsOps.q39Sql),
    Query("q60_stream_dedup", q60, q60Sql),
    Query("q63_stream_interval_join", q63, q63Sql),
    Query("q72_stream_static_join", q72, q72Sql),
    Query("q74_stream_kmv", q74, q74Sql),
    Query("q84_stream_outer_join", q84, q84Sql))
}
