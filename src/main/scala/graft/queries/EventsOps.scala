package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.TextFns.{rnd, rndSql}
import graft.sources.Tables

/** Event-stream operators over `events` (batch side; the streaming
  * twins live in graft.streaming): JSON property extraction,
  * gap-based sessionization, tumbling-window rollups, and the
  * reference's fillna/replace semantics (SURVEY.md §2.10 C5/C6).
  *
  * Scale: every query shuffles once on its natural key (user_id /
  * window bucket); session assembly is a per-user sorted pass —
  * exactly the shape mapGroupsWithState executes incrementally in the
  * streaming twin.
  */
object EventsOps {

  /** Session gap: a new session starts after >2h of inactivity. */
  final val GapUs: Long = 2L * 3600 * 1000000

  // ---------------------------------------------------------------
  // q38_json_extract — JSON property access pushed into a per-type
  // rollup. get_json_object is a codegen'd path expression — no UDF,
  // no whole-document parse into a map.
  // ---------------------------------------------------------------
  def q38(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        rnd(sum(col("k")).cast("double") / count(col("k")), 4).as("avg_k"))
      .orderBy(col("event_type"))

  val q38Sql: String =
    s"""SELECT event_type, COUNT(*) AS n, MIN(k) AS min_k, MAX(k) AS max_k,
       |  ${rndSql("SUM(k)::DOUBLE / COUNT(k)", 4)} AS avg_k
       |FROM (SELECT event_type, json_extract_string(props, '$$.k')::INT AS k
       |      FROM events)
       |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------
  // q39_sessionize — gap-based sessionization: lag() finds gaps,
  // a running sum of session-starts numbers the sessions, then one
  // aggregate per (user, session). All three windows + the final
  // groupBy share the user_id hash partitioning — Catalyst plans a
  // single exchange.
  // ---------------------------------------------------------------
  def q39(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("us").asc, col("event_id").asc)
    val runSum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("prev_us", lag(col("us"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_us").isNull || col("us") - col("prev_us") > GapUs, 1L)
          .otherwise(0L))
      .withColumn("session_idx", sum(col("is_new")).over(runSum))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        min(col("us")).as("start_us"), max(col("us")).as("end_us"))
      .withColumn("duration_s", (col("end_us") - col("start_us")) / lit(1000000L))
      .withColumn("duration_s", floor(col("duration_s")).cast("long"))
      .orderBy(col("user_id"), col("session_idx"))
  }

  val q39Sql: String =
    s"""SELECT user_id, session_idx, COUNT(*) AS n_events,
       |  MIN(us) AS start_us, MAX(us) AS end_us,
       |  CAST(floor((MAX(us) - MIN(us)) / 1000000) AS BIGINT) AS duration_s
       |FROM (
       |  SELECT user_id, us,
       |    CAST(SUM(CASE WHEN prev_us IS NULL OR us - prev_us > $GapUs
       |             THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY user_id ORDER BY us, event_id
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
       |  FROM (SELECT user_id, event_id, epoch_us(ts) AS us,
       |          LAG(epoch_us(ts), 1) OVER (PARTITION BY user_id
       |            ORDER BY epoch_us(ts), event_id) AS prev_us
       |        FROM events))
       |GROUP BY user_id, session_idx
       |ORDER BY user_id, session_idx""".stripMargin

  // ---------------------------------------------------------------
  // q40_tumbling_hourly — batch twin of the streaming tumbling
  // window: 1-hour buckets per event type. window() start for hour
  // widths equals date_trunc('hour') — asserted by the oracle.
  // ---------------------------------------------------------------
  def q40(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .select(col("window.start").as("hour_start"), col("event_type"), col("n"),
        col("sum_value"))
      .orderBy(col("hour_start"), col("event_type"))

  val q40Sql: String =
    """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start, event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin

  // ---------------------------------------------------------------
  // q41_fill_replace — §2.10 C5/C6: na.fill / na.replace semantics
  // (cases_clinical_spectrum_analysis.py:86,110,249-259). Nulls are
  // first injected deterministically (the corpus has none), then
  // filled; event_type goes through an exact-value replace map.
  // ---------------------------------------------------------------
  def q41(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"),
        when(col("value") > 150, lit(null)).otherwise(col("value")).as("v"))
      .na.fill(Map("v" -> -1.0))
      .na.replace("event_type", Map("error" -> "ERR", "purchase" -> "BUY"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("v").cast("decimal(18,6)")).cast("double").as("sum_v"),
        count(when(col("v") === -1.0, lit(1))).as("n_filled"))
      .orderBy(col("event_type"))

  val q41Sql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) AS sum_v,
      |  COUNT(CASE WHEN v = -1.0 THEN 1 END) AS n_filled
      |FROM (SELECT event_id,
      |        CASE event_type WHEN 'error' THEN 'ERR'
      |                        WHEN 'purchase' THEN 'BUY'
      |                        ELSE event_type END AS event_type,
      |        COALESCE(CASE WHEN value > 150 THEN NULL ELSE value END, -1.0) AS v
      |      FROM events)
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------
  // q67_session_window — gap-based sessions via Spark's BUILT-IN
  // session_window aggregate (the declarative counterpart of the
  // hand-rolled q39 and the stateful q43): dynamic-gap session
  // windows merged inside the aggregation operator itself, one
  // exchange on user_id. Boundary semantics differ from q39 BY
  // DESIGN: session_window starts a new session when the gap is
  // >= the duration (q39 uses >) — the oracle mirrors >= exactly.
  // Window end = last event time + gap.
  // ---------------------------------------------------------------
  def q67(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "2 hours").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("w.start")).as("start_us"),
        unix_micros(col("w.end")).as("end_us"),
        col("n_events"))
      .orderBy(col("user_id"), col("start_us"))

  val q67Sql: String =
    s"""SELECT user_id, MIN(us) AS start_us, MAX(us) + $GapUs AS end_us,
       |  COUNT(*) AS n_events
       |FROM (
       |  SELECT user_id, us,
       |    CAST(SUM(CASE WHEN prev_us IS NULL OR us - prev_us >= $GapUs
       |             THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY user_id ORDER BY us, event_id
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
       |  FROM (SELECT user_id, event_id, epoch_us(ts) AS us,
       |          LAG(epoch_us(ts), 1) OVER (PARTITION BY user_id
       |            ORDER BY epoch_us(ts), event_id) AS prev_us
       |        FROM events))
       |GROUP BY user_id, session_idx
       |ORDER BY user_id, start_us""".stripMargin

  // ---------------------------------------------------------------
  // q133_funnel — ordered-sequence funnel analysis (the product-
  // analytics staple): per user, the first 'view', the first 'click'
  // within 24 h strictly after it, the first 'purchase' within 72 h
  // strictly after that; emitted as the one-row conversion manifest
  // with stage counts, conversion rates, and mean hours
  // view→purchase. Interval bounds are exact integer-microsecond
  // timestamp math on both engines.
  //
  // Scale shape: the three stage timestamps are unordered MIN-CASE
  // windows over the SAME user partitioning — Catalyst plans one
  // exchange and no sort (no orderBy in the window frame); the
  // manifest is a single partial+final aggregate. No self-joins, no
  // per-stage passes — the idiomatic distributed funnel. Time math
  // stays in integer microseconds (unix_micros / epoch_us) so both
  // engines sum identical exact values.
  // ---------------------------------------------------------------
  def q133(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    val staged = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
      .withColumn("t1",
        min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("t2",
        min(when(col("event_type") === "click" && col("ts") > col("t1") &&
          col("ts") <= col("t1") + expr("INTERVAL 24 HOURS"),
          col("ts"))).over(w))
      .withColumn("t3",
        min(when(col("event_type") === "purchase" && col("ts") > col("t2") &&
          col("ts") <= col("t2") + expr("INTERVAL 72 HOURS"),
          col("ts"))).over(w))
    val perUser = staged.groupBy(col("user_id"))
      .agg(max(col("t1")).as("t1"), max(col("t2")).as("t2"),
        max(col("t3")).as("t3"))
    perUser.agg(
      count(lit(1)).as("n_users"),
      count(col("t1")).as("n_view"),
      count(col("t2")).as("n_click_after_view"),
      count(col("t3")).as("n_full_funnel"),
      sum(when(col("t3").isNotNull,
        unix_micros(col("t3")) - unix_micros(col("t1")))).as("sum_us"))
      .select(col("n_users"), col("n_view"), col("n_click_after_view"),
        col("n_full_funnel"),
        rnd(col("n_click_after_view").cast("double") / col("n_view").cast("double"), 4)
          .as("cr_click"),
        rnd(col("n_full_funnel").cast("double") /
          col("n_click_after_view").cast("double"), 4).as("cr_purchase"),
        rnd(col("sum_us").cast("double") / col("n_full_funnel").cast("double")
          / 3.6e9, 4).as("mean_hours_to_convert"))
  }

  val q133Sql: String =
    s"""WITH staged AS (
       |  SELECT user_id,
       |    MIN(CASE WHEN event_type = 'view' THEN ts END)
       |      OVER (PARTITION BY user_id) AS t1,
       |    ts, event_type
       |  FROM events),
       |s2 AS (
       |  SELECT user_id, t1,
       |    MIN(CASE WHEN event_type = 'click' AND ts > t1
       |             AND ts <= t1 + INTERVAL 24 HOUR THEN ts END)
       |      OVER (PARTITION BY user_id) AS t2,
       |    ts, event_type
       |  FROM staged),
       |s3 AS (
       |  SELECT user_id, t1, t2,
       |    MIN(CASE WHEN event_type = 'purchase' AND ts > t2
       |             AND ts <= t2 + INTERVAL 72 HOUR THEN ts END)
       |      OVER (PARTITION BY user_id) AS t3
       |  FROM s2),
       |per_user AS (
       |  SELECT user_id, MAX(t1) AS t1, MAX(t2) AS t2, MAX(t3) AS t3
       |  FROM s3 GROUP BY user_id)
       |SELECT COUNT(*) AS n_users, COUNT(t1) AS n_view,
       |  COUNT(t2) AS n_click_after_view, COUNT(t3) AS n_full_funnel,
       |  ${rndSql("COUNT(t2)::DOUBLE / COUNT(t1)::DOUBLE", 4)} AS cr_click,
       |  ${rndSql("COUNT(t3)::DOUBLE / COUNT(t2)::DOUBLE", 4)} AS cr_purchase,
       |  ${rndSql("SUM(epoch_us(t3) - epoch_us(t1))::DOUBLE / COUNT(t3)::DOUBLE / 3600000000.0", 4)} AS mean_hours_to_convert
       |FROM per_user""".stripMargin

  // ---------------------------------------------------------------
  // q134_cohort_retention — cohort analysis: users grouped by
  // first-seen day, activity re-bucketed as day offsets from the
  // cohort day, classic day-1/3/7/14 retention rates per cohort.
  //
  // Scale shape: the cohort day is one unordered MIN window over the
  // user partitioning (same single-exchange argument as q133); the
  // matrix is one distinct-count aggregate; cohort sizes re-attach
  // by broadcast of the offset-0 slice (cohort-count rows, tiny by
  // construction). Day arithmetic is integer (datediff), exact on
  // both engines.
  // ---------------------------------------------------------------
  final val RetentionOffsets = Seq(0, 1, 3, 7, 14)

  def q134(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    val d = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .withColumn("cohort", min(col("day")).over(w))
      .withColumn("day_offset", datediff(col("day"), col("cohort")).cast("long"))
    val counts = d.where(col("day_offset").isin(RetentionOffsets: _*))
      .groupBy(col("cohort"), col("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
    val base = counts.where(col("day_offset") === 0)
      .select(col("cohort"), col("n_active").as("cohort_size"))
    counts.join(broadcast(base), "cohort")
      .select(col("cohort"), col("day_offset"), col("cohort_size"),
        col("n_active"),
        rnd(col("n_active").cast("double") / col("cohort_size").cast("double"), 4)
          .as("retention"))
      .orderBy(col("cohort"), col("day_offset"))
  }

  val q134Sql: String = {
    val offs = RetentionOffsets.mkString(", ")
    s"""WITH d AS (
       |  SELECT user_id, CAST(ts AS DATE) AS day,
       |    MIN(CAST(ts AS DATE)) OVER (PARTITION BY user_id) AS cohort
       |  FROM events),
       |counts AS (
       |  SELECT cohort, datediff('day', cohort, day)::BIGINT AS day_offset,
       |    COUNT(DISTINCT user_id) AS n_active
       |  FROM d WHERE datediff('day', cohort, day) IN ($offs)
       |  GROUP BY 1, 2),
       |base AS (SELECT cohort, n_active AS cohort_size
       |  FROM counts WHERE day_offset = 0)
       |SELECT c.cohort, c.day_offset, b.cohort_size, c.n_active,
       |  ${rndSql("c.n_active::DOUBLE / b.cohort_size::DOUBLE", 4)} AS retention
       |FROM counts c JOIN base b USING (cohort)
       |ORDER BY cohort, day_offset""".stripMargin
  }

  // ---------------------------------------------------------------
  // q135_event_transitions — first-order Markov transition matrix
  // over per-user event sequences (the "what do users do next"
  // path analysis): lag the event type within each user's (ts,
  // event_id)-ordered stream, count (prev, next) pairs, attach the
  // per-prev row total, emit exact transition probabilities.
  //
  // Scale shape: ONE user-partitioned sorted window (the shuffle a
  // sequence model inherently needs — same exchange a sessionize
  // pays), one combinable pair count, and the 25-row matrix joins
  // its row totals by broadcast. The probability is one division of
  // exact counts — bit-identical cross-engine.
  // ---------------------------------------------------------------
  def q135(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pairs = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .where(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy(col("prev_type")).agg(sum(col("n")).as("row_total"))
    pairs.join(broadcast(totals), "prev_type")
      .select(col("prev_type"), col("event_type"), col("n"), col("row_total"),
        rnd(col("n").cast("double") / col("row_total").cast("double"), 4).as("p"))
      .orderBy(col("prev_type"), col("event_type"))
  }

  val q135Sql: String =
    s"""WITH seq AS (
       |  SELECT user_id, event_type,
       |    LAG(event_type, 1) OVER (PARTITION BY user_id
       |      ORDER BY ts, event_id) AS prev_type
       |  FROM events),
       |pairs AS (
       |  SELECT prev_type, event_type, COUNT(*) AS n
       |  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2),
       |totals AS (
       |  SELECT prev_type, SUM(n)::BIGINT AS row_total FROM pairs GROUP BY 1)
       |SELECT p.prev_type, p.event_type, p.n, t.row_total,
       |  ${rndSql("p.n::DOUBLE / t.row_total::DOUBLE", 4)} AS p
       |FROM pairs p JOIN totals t USING (prev_type)
       |ORDER BY prev_type, event_type""".stripMargin

  // ---------------------------------------------------------------
  // q136_hourly_anomaly — volume anomaly detection: hourly event
  // counts z-scored against their event-type's own mean/std, hours
  // with |z| >= ZCut flagged. Variance is computed FROM EXACT
  // INTEGER sums (n, Σc, Σc²) with the identical explicit formula
  // on both engines — no library stddev, whose accumulation order
  // could differ — so mean/var/z are bit-identical doubles.
  //
  // Scale shape: the hourly rollup is one combinable aggregate; the
  // per-type stats frame is |event types| rows and re-attaches by
  // broadcast; the flag pass is a pure map. The monitoring shape a
  // pipeline owner runs over ingest volumes.
  // ---------------------------------------------------------------
  final val ZCut = 2.0

  private def hourlyCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour_start"), col("event_type"))
      .agg(count(lit(1)).as("c"))

  /** Per-type hourly mean/std from exact integer sums — q136's
    * baseline frame, shared by the streaming detector (q149) as its
    * batch-trained side.
    */
  def hourlyStats(spark: SparkSession, dir: String): DataFrame =
    hourlyCounts(spark, dir).groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hours"), sum(col("c")).as("s"),
        sum(col("c") * col("c")).as("ss"))
      .select(col("event_type"), col("n_hours"),
        (col("s").cast("double") / col("n_hours").cast("double")).as("mean_c"),
        sqrt((col("ss").cast("double") -
          col("s").cast("double") * col("s").cast("double") /
            col("n_hours").cast("double")) / col("n_hours").cast("double"))
          .as("std_c"))

  def q136(spark: SparkSession, dir: String): DataFrame = {
    val hourly = hourlyCounts(spark, dir)
    val stats = hourlyStats(spark, dir)
    hourly.join(broadcast(stats), "event_type")
      .withColumn("z", (col("c").cast("double") - col("mean_c")) / col("std_c"))
      .where(abs(col("z")) >= ZCut)
      .select(col("hour_start"), col("event_type"), col("c"),
        rnd(col("mean_c"), 4).as("mean_c"), rnd(col("z"), 4).as("z"))
      .orderBy(col("event_type"), col("hour_start"))
  }

  val q136Sql: String =
    s"""WITH hourly AS (
       |  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
       |    event_type, COUNT(*) AS c
       |  FROM events GROUP BY 1, 2),
       |stats AS (
       |  SELECT event_type, COUNT(*) AS n_hours,
       |    SUM(c)::DOUBLE / COUNT(*)::DOUBLE AS mean_c,
       |    sqrt((SUM(c*c)::DOUBLE - SUM(c)::DOUBLE * SUM(c)::DOUBLE
       |      / COUNT(*)::DOUBLE) / COUNT(*)::DOUBLE) AS std_c
       |  FROM hourly GROUP BY 1)
       |SELECT h.hour_start, h.event_type, h.c,
       |  ${rndSql("s.mean_c", 4)} AS mean_c,
       |  ${rndSql("(h.c::DOUBLE - s.mean_c) / s.std_c", 4)} AS z
       |FROM hourly h JOIN stats s USING (event_type)
       |WHERE abs((h.c::DOUBLE - s.mean_c) / s.std_c) >= $ZCut
       |ORDER BY event_type, hour_start""".stripMargin

  // ---------------------------------------------------------------
  // q148_top_paths — path analysis: the most common opening event
  // sequences. Each user-day's first PathLen events (ts, event_id
  // ordered) join into a 'view>click>…' path string; paths are
  // counted corpus-wide and the top 20 emitted. The rank-then-filter
  // shape is deliberate: row_number + rn <= PathLen prunes BEFORE
  // any collection, so per-group state is bounded by PathLen — a
  // collect_list-then-slice would buffer a whale user-day's whole
  // event list to keep 5 of them. The window, the filter, and the
  // path aggregate all ride ONE (user, day)-hashed exchange; the
  // path count is combinable; top-20 is a TakeOrdered, no global
  // sort.
  // ---------------------------------------------------------------
  final val PathLen = 5
  final val PathTopK = 20

  def q148(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"),
        col("ts"), col("event_id"), col("event_type"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id"), col("day"))
          .orderBy(col("ts"), col("event_id"))))
      .where(col("rn") <= PathLen)
      .groupBy(col("user_id"), col("day"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("rn"), col("event_type")))),
        e => e.getField("event_type")), ">").as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
      .orderBy(desc("n_sessions"), col("path")).limit(PathTopK)
  }

  val q148Sql: String =
    s"""WITH e AS (
       |  SELECT user_id, CAST(ts AS DATE) AS day, event_type,
       |    ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
       |      ORDER BY ts, event_id) AS rn
       |  FROM events),
       |p AS (
       |  SELECT user_id, day,
       |    string_agg(event_type, '>' ORDER BY rn) AS path
       |  FROM e WHERE rn <= $PathLen GROUP BY 1, 2)
       |SELECT path, COUNT(*) AS n_sessions
       |FROM p GROUP BY path
       |ORDER BY n_sessions DESC, path LIMIT $PathTopK""".stripMargin

  def declared: Seq[Query] = Seq(
    Query("q148_top_paths", q148, q148Sql),
    Query("q38_json_extract", q38, q38Sql),
    Query("q39_sessionize", q39, q39Sql),
    Query("q40_tumbling_hourly", q40, q40Sql),
    Query("q41_fill_replace", q41, q41Sql),
    Query("q67_session_window", q67, q67Sql),
    Query("q133_funnel", q133, q133Sql),
    Query("q134_cohort_retention", q134, q134Sql),
    Query("q135_event_transitions", q135, q135Sql),
    Query("q136_hourly_anomaly", q136, q136Sql))
}
