package graft

import org.apache.spark.sql.streaming.OutputMode
import graft.queries.{EventsOps, StreamingQueries}
import graft.streaming.EventStreams

/** Streaming twins must equal their batch counterparts row-for-row. */
class StreamingSpec extends SparkTestBase {

  test("stream tumbling window == batch q40") {
    val stream = StreamingQueries.q42(spark, Sf).collect().toSet
    val batch = EventsOps.q40(spark, Sf).collect().toSet
    assert(stream.nonEmpty && stream == batch)
  }

  test("flatMapGroupsWithState sessionization == batch q39") {
    val stream = StreamingQueries.q43(spark, Sf).collect().toSet
    val batch = EventsOps.q39(spark, Sf).collect().toSet
    assert(stream.nonEmpty && stream == batch)
  }

  test("streaming span trim == batch q130's hit rows (stream-static vs warehouse index)") {
    val stream = StreamingQueries.q132(spark, Sf).collect()
    assert(stream.nonEmpty, "corpus has batch docs with duplicated spans")
    // q132 emits exactly q130's rows with >= 1 hit window (the batch
    // variant left-joins zero-hit docs in; ordering puts hits first,
    // so below the display limit the hit-prefix must match exactly)
    val batchHits = graft.queries.CurationOps.q130(spark, Sf).collect()
      .filter(_.getAs[Long]("n_hit_windows") > 0)
    assert(stream.length == batchHits.length)
    stream.zip(batchHits).foreach { case (s, b) =>
      assert(s.getAs[Long]("doc_id") == b.getAs[Long]("doc_id"))
      assert(s.getAs[Long]("trimmed_tokens") == b.getAs[Long]("trimmed_tokens"))
      assert(s.getAs[Double]("kept_frac") == b.getAs[Double]("kept_frac"))
    }
  }

  test("stream-stream LEFT OUTER join == batch left join, nulls included") {
    import org.apache.spark.sql.functions._
    val stream = StreamingQueries.q84(spark, Sf).collect()
    // unmatched purchases must surface as null click rows — the whole
    // point of the outer form (and the rows a stalled watermark loses)
    assert(stream.exists(_.isNullAt(2)), "expected watermark-flushed null rows")
    val batch = graft.sources.Tables.events(spark, Sf).alias("p")
      .where(col("p.event_type") === "purchase" && col("p.ts") < lit("2024-01-28"))
      .join(graft.sources.Tables.events(spark, Sf).alias("c")
          .where(col("c.event_type") === "click"),
        expr("""p.user_id = c.user_id AND
               |c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts""".stripMargin),
        "leftOuter")
      .select(col("p.user_id"), col("p.event_id").as("purchase_id"),
        col("c.event_id").as("click_id"),
        floor((unix_micros(col("p.ts")) - unix_micros(col("c.ts"))) / 1000000L)
          .cast("long").as("gap_s"))
      .collect()
    assert(stream.map(_.toSeq).toSet == batch.map(_.toSeq).toSet)
    assert(stream.length == batch.length)
  }

  test("watermark column is set on the tumbling stream") {
    val df = EventStreams.tumblingHourly(EventStreams.readEvents(spark, Sf))
    assert(df.isStreaming)
  }

  test("continuous sessionize: state rows bounded by users, not events") {
    val (out, progress) = EventStreams.runToMemoryTracked(
      EventStreams.sessionize(EventStreams.readEvents(spark, Sf),
        boundedBacklog = false).toDF(),
      "sessions_state_bound", OutputMode.Append())
    val nUsers = graft.sources.Tables.events(spark, Sf)
      .select("user_id").distinct().count()
    val nEvents = graft.sources.Tables.events(spark, Sf).count()
    val stateRows = progress.flatMap(_.stateOperators.toSeq.map(_.numRowsTotal))
    // One OpenSession (4 longs) per user with an open session — never
    // one row per event. The payload being O(1) is structural (the
    // state type is a fixed-width case class).
    assert(stateRows.nonEmpty && stateRows.max <= nUsers)
    assert(stateRows.max < nEvents / 10)
    // sessions emitted in continuous mode (closed by gap or by the
    // final watermark advance) are exactly a subset of the batch result
    val batch = EventsOps.q39(spark, Sf).collect().toSet
    val streamed = out
      .orderBy("user_id", "session_idx")
      .collect().toSet
    assert(streamed.nonEmpty && streamed.subsetOf(batch))
  }

  test("stream anomaly detector == batch q136 over the full backlog") {
    val stream = StreamingQueries.q149(spark, Sf).collect().toSet
    val batch = EventsOps.q136(spark, Sf).collect().toSet
    assert(stream == batch)
  }

  test("checkpoint recovery: two runs over a growing backlog emit exactly-once") {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.functions._
    // ingest file 1, STOP (checkpoint persists), file 2 arrives,
    // restart from the same checkpoint into the same file sink: the
    // union must equal the batch answer over both files — file 1's
    // rows exactly once (offsets recovered), file 2's present
    // (backlog resumed). This is the crash-recovery contract every
    // production stream rides on.
    val work = tempDir("ckpt-recovery")
    val src = s"$work/src"; val out = s"$work/out"; val ck = s"$work/ck"
    val ev = graft.sources.Tables.events(spark, Sf)
    val half1 = ev.where(col("event_id") % 2 === 0)
    val half2 = ev.where(col("event_id") % 2 === 1)
    half1.coalesce(1).write.mode("append").parquet(src)
    val sch = spark.read.parquet(src).schema
    // stateless projection keeps the recovery semantics pure: the
    // assert is about source-offset recovery + sink exactly-once,
    // not operator state (the RocksDB/state tests cover that)
    def runProj(): Unit = {
      val q = spark.readStream.schema(sch).parquet(src)
        .select(col("event_id"), col("event_type"))
        .writeStream.outputMode("append")
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .format("parquet").option("path", out).start()
      q.awaitTermination(120000)
    }
    runProj()
    val afterFirst = spark.read.parquet(out).count()
    assert(afterFirst == half1.count(), "first run must emit file 1 exactly")
    half2.coalesce(1).write.mode("append").parquet(src)
    runProj()
    val finalRows = spark.read.parquet(out)
      .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    val expected = ev.select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(finalRows == expected,
      "restart must emit file 2 exactly once and file 1 never again")
  }

  test("stateful operators run unchanged on the RocksDB state backend") {
    // local[32] replays default to the HDFS-backed store; a
    // production continuous run uses RocksDB (state larger than
    // heap, incremental snapshots). The swap must be pure config —
    // same results from flatMapGroupsWithState (sessionize),
    // dropDuplicates state, and the carried-attribution state.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val sessions = StreamingQueries.q43(spark, Sf).collect().toSet
      val batch = EventsOps.q39(spark, Sf).collect().toSet
      assert(sessions.nonEmpty && sessions == batch)
      val credits = StreamingQueries.q143(spark, Sf).collect()
      assert(credits.nonEmpty)
    } finally {
      prev match {
        case Some(p) => spark.conf.set(key, p)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("stream attribution == per-user sequential recount (single backlog)") {
    val credits = StreamingQueries.q143(spark, Sf).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("purchase_id"),
        r.getAs[String]("channel"), r.getAs[Double]("value"))).toSet
    val kOf = """"k":\s*(\d+)""".r
    val expected = graft.sources.Tables.events(spark, Sf)
      .select("user_id", "event_id", "ts", "event_type", "value", "props")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getString(3),
        r.getDouble(4), r.getString(5)))
      .groupBy(_._1).values.flatMap { es =>
        val sorted = es.sortBy(e => (e._3.getTime * 1000L
          + (e._3.getNanos % 1000000) / 1000, e._2))
        var last: Option[String] = None
        sorted.flatMap { case (uid, eid, _, tpe, v, props) =>
          val out = if (tpe == "purchase")
            Some((uid, eid, last.getOrElse("direct"), v)) else None
          if (tpe == "click")
            last = kOf.findFirstMatchIn(props).map(m => "ch" + (m.group(1).toLong % 3))
          out
        }
      }.toSet
    assert(credits.nonEmpty && credits == expected)
  }

  test("stream attribution is batch-boundary invariant (carried state crosses micro-batches)") {
    import org.apache.spark.sql.functions._
    // replay the same backlog as 3 time-sliced files, one per
    // micro-batch: a purchase in slice 3 must still credit a click
    // from slice 1 — only the carried LastTouch state can know it
    val mdir = tempDir("attr-multi")
    val ev = graft.sources.Tables.events(spark, Sf)
    val sliced = ev.withColumn("slice",
      ntile(3).over(org.apache.spark.sql.expressions.Window
        .orderBy(col("ts"), col("event_id"))))
    (1 to 3).foreach { s =>
      sliced.where(col("slice") === s).drop("slice")
        .coalesce(1).write.mode("append").parquet(mdir)
    }
    val sch = spark.read.parquet(mdir).schema
    val stream = spark.readStream.schema(sch)
      .option("maxFilesPerTrigger", "1").parquet(mdir)
    val multi = EventStreams.runToMemory(
      EventStreams.attributeLastTouch(stream).toDF(),
      "attr_multi", OutputMode.Append(), Some(4)).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("purchase_id"),
        r.getAs[String]("channel"), r.getAs[Double]("value"))).toSet
    val single = StreamingQueries.q143(spark, Sf).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("purchase_id"),
        r.getAs[String]("channel"), r.getAs[Double]("value"))).toSet
    assert(multi.nonEmpty && multi == single)
    // cross-batch credits must actually occur: at least one purchase
    // whose crediting click sits in an EARLIER slice — otherwise the
    // replay never exercised the carried state
    val bounds = sliced.groupBy("slice").agg(min("ts").as("lo")).collect()
      .map(r => (r.getAs[Int]("slice"), r.getTimestamp(1).getTime)).toMap
    val lastClickMs: Map[Long, Long] = ev
      .select("user_id", "event_id", "ts", "event_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getString(3)))
      .groupBy(_._1).values.flatMap { es =>
        val sorted = es.sortBy(e => (e._3.getTime, e._2))
        var click: Option[Long] = None
        sorted.flatMap { case (_, eid, ts, tpe) =>
          val out = if (tpe == "purchase") click.map(eid -> _) else None
          if (tpe == "click") click = Some(ts.getTime)
          out
        }
      }.toMap
    def sliceOf(ms: Long): Int =
      bounds.filter(_._2 <= ms).keys.maxOption.getOrElse(1)
    val purchases = ev.where(col("event_type") === "purchase")
      .select("event_id", "ts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime)).toMap
    val crossBatch = lastClickMs.exists { case (pid, clickMs) =>
      sliceOf(clickMs) < sliceOf(purchases(pid))
    }
    assert(crossBatch, "no purchase credited a click from an earlier slice")
  }

  test("STATEFUL recovery: sessionize restarts mid-backlog from a RocksDB checkpoint") {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.functions._
    // The production streaming story's last untested piece: offset
    // recovery alone is proven by the stateless test above; here the
    // OPERATOR STATE (open sessions in flatMapGroupsWithState) must
    // survive the restart too. Six event-time-sliced source files,
    // one per micro-batch (maxFilesPerTrigger=1), so the watermark
    // advances mid-run and sessions EMIT before the stop. Run A is
    // the single uninterrupted reference; run B processes slices 1-3,
    // stops with open sessions persisted in the RocksDB state store,
    // receives slices 4-6, restarts from the same checkpoint — and
    // must converge to exactly run A's session set.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val work = tempDir("stateful-recovery")
      val ev = graft.sources.Tables.events(spark, Sf)
      val Array(minUs, maxUs) = ev
        .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
        .head().toSeq.map(_.asInstanceOf[Long]).toArray
      val cut = (k: Int) => minUs + (maxUs - minUs + 1) * k / 6
      def writeSlice(src: String, k: Int): Unit = ev
        .where(unix_micros(col("ts")) >= cut(k) &&
          unix_micros(col("ts")) < cut(k + 1))
        .coalesce(1).write.mode("append").parquet(src)
      val sch = ev.schema
      def runSess(src: String, out: String, ck: String): Unit = {
        val q = EventStreams.sessionize(
            spark.readStream.schema(sch).option("maxFilesPerTrigger", 1)
              .parquet(src),
            boundedBacklog = false).toDF()
          .writeStream.outputMode("append")
          .option("checkpointLocation", ck)
          .trigger(Trigger.AvailableNow())
          .format("parquet").option("path", out).start()
        q.awaitTermination(180000)
      }
      def sessions(out: String): Set[Seq[Any]] =
        spark.read.parquet(out).collect().map(_.toSeq).toSet
      // run A: all six slices, one uninterrupted run
      val srcA = s"$work/srcA"; (0 until 6).foreach(writeSlice(srcA, _))
      runSess(srcA, s"$work/outA", s"$work/ckA")
      val ref = sessions(s"$work/outA")
      assert(ref.nonEmpty)
      // run B, part 1: slices 1-3 only, then STOP mid-backlog
      val srcB = s"$work/srcB"; (0 until 3).foreach(writeSlice(srcB, _))
      runSess(srcB, s"$work/outB", s"$work/ckB")
      val afterFirst = sessions(s"$work/outB")
      assert(afterFirst.nonEmpty, "watermark must close sessions before the stop")
      assert(afterFirst.size < ref.size, "the stop must be genuinely mid-backlog")
      assert(afterFirst.subsetOf(ref))
      // backlog grows; restart from the SAME checkpoint
      (3 until 6).foreach(writeSlice(srcB, _))
      runSess(srcB, s"$work/outB", s"$work/ckB")
      val fin = sessions(s"$work/outB")
      assert(fin == ref,
        "restarted run must converge to the uninterrupted run's session set")
      // at least one post-restart session STARTED before the stop:
      // its start timestamp can only have come from the recovered
      // RocksDB state (the restarted source reads slices 4-6 only)
      val startIdx = spark.read.parquet(s"$work/outB").schema.fieldIndex("start_us")
      assert((fin -- afterFirst).exists(
        _(startIdx).asInstanceOf[Long] < cut(3)),
        "no emitted session carried recovered open-session state")
      // and the whole continuous result is a subset of the batch oracle
      val batch = EventsOps.q39(spark, Sf).collect().map(_.toSeq).toSet
      assert(ref.subsetOf(batch))
    } finally {
      prev match {
        case Some(p) => spark.conf.set(key, p)
        case None    => spark.conf.unset(key)
      }
    }
  }

  /** Crafted hourly TTL backlog shared by the idle-TTL tests: gap=2h,
    * watermark delay 2h, TTL tests use 6h. 27 hourly slice files.
    *   users 1..5   idle:      3 events in hour 0 only
    *   users 6..10  active:    one event every hour (one open session)
    *   user  11     returning: hour 0, idle 20h, returns hour 20
    * Returns (srcDir, t0Micros, hourMicros).
    */
  private def craftTtlBacklog(): (String, Long, Long) = {
    import org.apache.spark.sql.functions._
    val work = tempDir("ttl-backlog")
    val src = s"$work/src"
    val t0 = 1704067200000000L // 2024-01-01T00:00:00Z, micros
    val hourUs = 3600L * 1000000
    def ev(user: Long, us: Long): (Long, Long, Long) = (user, us, us) // id=ts
    (0 until 27).foreach { h =>
      val base = t0 + h * hourUs
      val active = (6L to 10L).map(u => ev(u, base + u * 1000))
      val idle = if (h == 0) (1L to 5L).flatMap(u =>
        (0 until 3).map(k => ev(u, base + k * 600L * 1000000 + u))) else Nil
      val ret = if (h == 0 || h == 20) Seq(ev(11L, base + 11)) else Nil
      spark.createDataFrame((active ++ idle ++ ret)
          .map { case (u, id, us) => (id, us, u) })
        .toDF("event_id", "us", "user_id")
        .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
          col("user_id"))
        .coalesce(1).write.mode("append").parquet(src)
    }
    (src, t0, hourUs)
  }

  test("idle-TTL bounds sessionize state to the active horizon, same session content") {
    import org.apache.spark.sql.functions._
    // A crafted backlog whose watermark advances are FINER than the
    // gap+TTL horizon — the round-8 version sliced 30 days of real
    // events into 12 files (~2.5-day watermark jumps), so every marker
    // timer was armed already behind the watermark and never fired.
    // Here: gap = 2h (EventsOps.GapUs), TTL = 6h, watermark delay =
    // 2h, and events arrive in HOURLY slices, one file per
    // micro-batch, so a marker armed at end+gap+TTL sees many later
    // watermark advances before the stream drains.
    //   users 1..5   "idle":      3 events in hour 0, never return
    //   users 6..10  "active":    one event every hour 0..26 (1h <
    //                             gap, so ONE long open session each)
    //   user  11     "returning": hour 0, idle 20h (> gap+TTL = 8h),
    //                             returns hour 20; the clock runs to
    //                             hour 26 so the watermark (22 > 20 +
    //                             gap) closes and EMITS that second
    //                             session, making the idx restart
    //                             observable in the output
    // With the TTL the six idle markers (users 1..5 + user 11's first)
    // are REMOVED mid-stream; without it they persist forever. The
    // only divergence is the documented one: user 11's second session
    // restarts idx at 1 — the session CONTENT set is identical.
    val (src, t0, hourUs) = craftTtlBacklog()
    val sch = spark.read.parquet(src).schema
    def run(name: String, ttl: Option[Long]) = {
      val df = EventStreams.sessionize(
        spark.readStream.schema(sch).option("maxFilesPerTrigger", 1)
          .parquet(src),
        boundedBacklog = false, idleTtlUs = ttl).toDF()
      EventStreams.runToMemoryTracked(df, name,
        org.apache.spark.sql.streaming.OutputMode.Append())
    }
    val (noTtlOut, noTtlProg) = run("sess_nottl", None)
    val ttlUs = 6L * hourUs // 6h event-time idle horizon
    val (ttlOut, ttlProg) = run("sess_ttl", Some(ttlUs))
    def content(df: org.apache.spark.sql.DataFrame) = df
      .select("user_id", "n_events", "start_us", "end_us", "duration_s")
      .collect().map(_.toSeq).toSet
    assert(content(ttlOut) == content(noTtlOut) && content(ttlOut).nonEmpty,
      "TTL must not change which sessions exist, only idx continuity")
    def removed(prog: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]) =
      prog.flatMap(p => Option(p.stateOperators).toSeq.flatten
        .map(_.numRowsRemoved)).sum
    def finalStateRows(prog: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]) =
      prog.reverse.iterator
        .flatMap(p => Option(p.stateOperators).toSeq.flatten.map(_.numRowsTotal))
        .find(_ => true).getOrElse(-1L)
    // the direct evidence the round-8 test lacked: the TTL path must
    // actually REMOVE marker rows mid-stream (six of them: users 1..5
    // plus user 11's first-session marker), and only the TTL run does
    assert(removed(noTtlProg) == 0L,
      s"without a TTL nothing is ever removed (got ${removed(noTtlProg)})")
    assert(removed(ttlProg) >= 6L,
      s"TTL must remove the six idle markers (removed=${removed(ttlProg)})")
    val (fTtl, fNo) = (finalStateRows(ttlProg), finalStateRows(noTtlProg))
    // no-TTL final state: 5 idle markers + 5 active opens + user 11's
    // second-session marker = 11; TTL: the idle markers are gone = 6
    assert(fNo == 11L && fTtl == 6L,
      s"TTL must shrink final state to the active horizon (ttl=$fTtl nottl=$fNo)")
    // the documented trade, observed in the OUTPUT: user 11's post-TTL
    // return restarts session_idx at 1; the no-TTL run's surviving
    // marker numbers it 2
    val idxOfReturn = (df: org.apache.spark.sql.DataFrame) => df
      .where(col("user_id") === 11L &&
        col("start_us") === t0 + 20L * hourUs + 11L)
      .select("session_idx").collect().map(_.getLong(0)).toSeq
    assert(idxOfReturn(ttlOut) == Seq(1L),
      s"post-TTL return must restart idx (got ${idxOfReturn(ttlOut)})")
    assert(idxOfReturn(noTtlOut) == Seq(2L),
      s"marker must continue idx without TTL (got ${idxOfReturn(noTtlOut)})")
  }

  /** Crafted hourly attribution backlog (clicks + purchases) — the
    * attribution-window twin of craftTtlBacklog, shared by the gmws
    * TTL test, the state-v2 last-touch port test, and the MapState
    * multi-touch TTL test. 27 hourly slice files.
    *   users 1..5   idle:      click+purchase in hour 0 only
    *   users 6..10  active:    click every hour; purchase when h%3=0
    *   user  11     returning: click+purchase hour 0, idle 20h
    *                           (> gap/TTL), click+purchase hour 20
    * Click channel: users 1..10 get ch(u%3) (constant per user);
    * user 11's k = hour, so hour 0 → ch0 and hour 20 → ch2.
    * Returns (srcDir, t0Micros, hourMicros).
    */
  private def craftAttrBacklog(): (String, Long, Long) = {
    import org.apache.spark.sql.functions._
    val work = tempDir("ttl-attr")
    val src = s"$work/src"
    val t0 = 1704067200000000L // 2024-01-01T00:00:00Z, micros
    val hourUs = 3600L * 1000000
    val hours = 27
    type Ev = (Long, Long, Long, String, Double, String)
    def click(u: Long, us: Long, k: Long): Ev =
      (us, us, u, "click", 0d, s"""{"k":$k}""")
    def buy(u: Long, us: Long, v: Double): Ev =
      (us, us, u, "purchase", v, "{}")
    val byHour: Map[Int, Seq[(Long, Long, Long, String, Double, String)]] =
      (0 until hours).map { h =>
      val base = t0 + h * hourUs
      val active = (6L to 10L).flatMap { u =>
        val c = click(u, base + u * 1000, u)
        if (h % 3 == 0) Seq(c, buy(u, base + u * 1000 + 1, u.toDouble)) else Seq(c)
      }
      val idle = if (h == 0) (1L to 5L).flatMap(u =>
        Seq(click(u, base + u, u), buy(u, base + u + 500000, u.toDouble))) else Nil
      val ret = if (h == 0 || h == 20)
        Seq(click(11L, base + 11, h.toLong), buy(11L, base + 1011, h.toDouble))
      else Nil
      h -> (active ++ idle ++ ret)
    }.toMap
    (0 until hours).foreach { h =>
      spark.createDataFrame(byHour(h))
        .toDF("event_id", "us", "user_id", "event_type", "value", "props")
        .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"))
        .coalesce(1).write.mode("append").parquet(src)
    }
    (src, t0, hourUs)
  }

  test("idle-TTL bounds attribution state to the attribution window, same credits") {
    import org.apache.spark.sql.functions._
    // Same crafted-backlog shape as the sessionize TTL test, applied
    // to the OTHER stateful operator: without a TTL the carried
    // LastTouch row is one channel string per user ever seen. TTL =
    // 6h is the attribution window; clicks re-arm it, expiry removes
    // the row. Credits are UNCHANGED because every purchase in the
    // backlog follows a click inside the window (the crafted data
    // has no post-expiry purchase — that case is the documented
    // 'direct' fallback, i.e. the window semantics, not a loss).
    val (src, _, hourUs) = craftAttrBacklog()
    val sch = spark.read.parquet(src).schema
    def run(name: String, ttl: Option[Long]) = {
      val df = EventStreams.attributeLastTouch(
        spark.readStream.schema(sch).option("maxFilesPerTrigger", 1)
          .parquet(src), idleTtlUs = ttl).toDF()
      EventStreams.runToMemoryTracked(df, name,
        org.apache.spark.sql.streaming.OutputMode.Append())
    }
    val (noTtlOut, noTtlProg) = run("attr_nottl", None)
    val (ttlOut, ttlProg) = run("attr_ttl", Some(6L * hourUs))
    def credits(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(credits(ttlOut) == credits(noTtlOut) && credits(ttlOut).nonEmpty,
      "TTL must not change any credit (no purchase outside the window)")
    // every credit resolved from a real click channel, none 'direct'
    assert(!ttlOut.collect().exists(_.getAs[String]("channel") == "direct"))
    def removed(prog: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]) =
      prog.flatMap(p => Option(p.stateOperators).toSeq.flatten
        .map(_.numRowsRemoved)).sum
    def finalStateRows(prog: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]) =
      prog.reverse.iterator
        .flatMap(p => Option(p.stateOperators).toSeq.flatten.map(_.numRowsTotal))
        .find(_ => true).getOrElse(-1L)
    assert(removed(noTtlProg) == 0L)
    assert(removed(ttlProg) >= 6L,
      s"TTL must remove the six idle LastTouch rows (removed=${removed(ttlProg)})")
    val (fTtl, fNo) = (finalStateRows(ttlProg), finalStateRows(noTtlProg))
    assert(fNo == 11L && fTtl == 6L,
      s"TTL must shrink attribution state to the window (ttl=$fTtl nottl=$fNo)")
  }

  test("transformWithState sessionization == batch q39 (state-v2, bounded)") {
    val stream = StreamingQueries.q158(spark, Sf).collect().toSet
    val batch = EventsOps.q39(spark, Sf).collect().toSet
    assert(stream.nonEmpty && stream == batch)
  }

  test("transformWithState continuous + idle TTL: explicit timers reproduce the gmws behavior") {
    import org.apache.spark.sql.functions._
    // same crafted backlog as the gmws TTL test; the state-v2 port
    // must reproduce every observable: session content equal to the
    // no-TTL gmws run, six marker removals, final state = active
    // horizon, idx restart for the post-TTL returning user
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val (src, t0, hourUs) = craftTtlBacklog()
      val sch = spark.read.parquet(src).schema
      def run(name: String, ttl: Option[Long], tws: Boolean) = {
        val in = spark.readStream.schema(sch).option("maxFilesPerTrigger", 1)
          .parquet(src)
        val df =
          if (tws) graft.streaming.StateV2.sessionize(in,
            boundedBacklog = false, idleTtlUs = ttl).toDF()
          else EventStreams.sessionize(in,
            boundedBacklog = false, idleTtlUs = ttl).toDF()
        EventStreams.runToMemoryTracked(df, name,
          org.apache.spark.sql.streaming.OutputMode.Append())
      }
      val (gmwsOut, _) = run("tws_ref", None, tws = false)
      val (twsOut, twsProg) = run("tws_ttl", Some(6L * hourUs), tws = true)
      def content(df: org.apache.spark.sql.DataFrame) = df
        .select("user_id", "n_events", "start_us", "end_us", "duration_s")
        .collect().map(_.toSeq).toSet
      assert(content(twsOut) == content(gmwsOut) && content(twsOut).nonEmpty)
      val removed = twsProg.flatMap(p =>
        Option(p.stateOperators).toSeq.flatten.map(_.numRowsRemoved)).sum
      assert(removed >= 6L,
        s"state-v2 TTL timers must remove the idle rows (removed=$removed)")
      val fin = twsProg.reverse.iterator.flatMap(p =>
        Option(p.stateOperators).toSeq.flatten.map(_.numRowsTotal))
        .find(_ => true).getOrElse(-1L)
      assert(fin == 6L, s"final state must be the active horizon (got $fin)")
      val idx = twsOut
        .where(col("user_id") === 11L &&
          col("start_us") === t0 + 20L * hourUs + 11L)
        .select("session_idx").collect().map(_.getLong(0)).toSeq
      assert(idx == Seq(1L), s"post-TTL return must restart idx (got $idx)")
    } finally {
      prev match {
        case Some(p) => spark.conf.set(key, p)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("multi-touch MapState attribution is batch-boundary invariant") {
    import org.apache.spark.sql.functions._
    // the carried channel-count map must make the sliced replay equal
    // the single-batch run exactly: a purchase in batch N splits over
    // clicks from batches 1..N — the cross-batch memory is the map
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ev = graft.sources.Tables.events(spark, Sf)
      val Array(minUs, maxUs) = ev
        .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
        .head().toSeq.map(_.asInstanceOf[Long]).toArray
      val work = tempDir("mt-sliced")
      val src = s"$work/src"
      val cut = (k: Int) => minUs + (maxUs - minUs + 1) * k / 6
      (0 until 6).foreach { k =>
        ev.where(unix_micros(col("ts")) >= cut(k) &&
            unix_micros(col("ts")) < cut(k + 1))
          .coalesce(1).write.mode("append").parquet(src)
      }
      val sch = ev.schema
      val sliced = EventStreams.runToMemory(
        graft.streaming.StateV2.multiTouch(
          spark.readStream.schema(sch).option("maxFilesPerTrigger", 1)
            .parquet(src)).toDF(),
        "mt_sliced", org.apache.spark.sql.streaming.OutputMode.Append())
        .collect().map(_.toSeq).toSet
      val single = StreamingQueries.q159(spark, Sf).collect().map(_.toSeq).toSet
      assert(sliced == single && sliced.nonEmpty,
        "sliced replay must equal the single-batch multi-touch result")
      // credit conservation: each purchase's credits sum to its value
      val bad = StreamingQueries.q159(spark, Sf)
        .groupBy("purchase_id")
        .agg(sum(col("credit")).as("c"), first(col("weight")).as("w"))
        .join(graft.sources.Tables.events(spark, Sf)
            .where(col("event_type") === "purchase")
            .select(col("event_id").as("purchase_id"), col("value")),
          "purchase_id")
        .where(abs(col("c") - col("value")) > 1e-9)
        .count()
      assert(bad == 0L, "credit must conserve each purchase's value")
    } finally {
      prev match {
        case Some(p) => spark.conf.set(key, p)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("multi-touch idle TTL bounds the channel map to the attribution window") {
    import org.apache.spark.sql.functions._
    // The last unbounded-state surface from round 9: without a TTL
    // MultiTouchProcessor keeps one channel-count map per user EVER
    // SEEN. With the event-time TTL timer the map is cleared when the
    // user idles past the window — state becomes one map per ACTIVE
    // user. Observable trade on the crafted backlog: user 11's
    // hour-20 purchase splits 50/50 over {hour-0 ch0, hour-20 ch2}
    // without a TTL, but credits ch2 IN FULL with it (the hour-0
    // click is outside the 6h window — the attribution-window
    // semantics, not a loss). Every other purchase follows clicks
    // inside the window, so all other credits are identical.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val (src, t0, hourUs) = craftAttrBacklog()
      val sch = spark.read.parquet(src).schema
      def run(name: String, ttl: Option[Long]) = {
        val df = graft.streaming.StateV2.multiTouch(
          spark.readStream.schema(sch).option("maxFilesPerTrigger", 1)
            .parquet(src), idleTtlUs = ttl).toDF()
        EventStreams.runToMemoryTracked(df, name,
          org.apache.spark.sql.streaming.OutputMode.Append())
      }
      val (noTtlOut, noTtlProg) = run("mt_nottl", None)
      val (ttlOut, ttlProg) = run("mt_ttl", Some(6L * hourUs))
      val pid = t0 + 20L * hourUs + 1011L // user 11's hour-20 purchase
      def common(df: org.apache.spark.sql.DataFrame) = df
        .where(col("purchase_id") =!= pid).collect().map(_.toSeq).toSet
      assert(common(ttlOut) == common(noTtlOut) && common(ttlOut).nonEmpty,
        "TTL must not change credits for purchases inside the window")
      // the window trade, in the OUTPUT: (channel, clicks, total,
      // weight, credit) rows of user 11's post-idle purchase
      def p11(df: org.apache.spark.sql.DataFrame) = df
        .where(col("purchase_id") === pid)
        .select("channel", "clicks", "total_clicks", "weight", "credit")
        .collect().map(_.toSeq).toSet
      assert(p11(noTtlOut) == Set(
        Seq("ch0", 1L, 2L, 0.5, 10.0), Seq("ch2", 1L, 2L, 0.5, 10.0)),
        s"without TTL the purchase splits over both clicks (got ${p11(noTtlOut)})")
      assert(p11(ttlOut) == Set(Seq("ch2", 1L, 1L, 1.0, 20.0)),
        s"with TTL only the in-window click is credited (got ${p11(ttlOut)})")
      def removed(prog: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]) =
        prog.flatMap(p => Option(p.stateOperators).toSeq.flatten
          .map(_.numRowsRemoved)).sum
      def finalStateRows(prog: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]) =
        prog.reverse.iterator
          .flatMap(p => Option(p.stateOperators).toSeq.flatten.map(_.numRowsTotal))
          .find(_ => true).getOrElse(-1L)
      assert(removed(noTtlProg) == 0L)
      assert(removed(ttlProg) >= 6L,
        s"TTL must remove the six idle channel maps (removed=${removed(ttlProg)})")
      val (fTtl, fNo) = (finalStateRows(ttlProg), finalStateRows(noTtlProg))
      // no-TTL: one map entry per (user, channel) ever = users 1..10
      // (1 each) + user 11 {ch0, ch2} = 12; TTL: active users 6..10
      // (1 each) + user 11 {ch2} = 6
      assert(fNo == 12L && fTtl == 6L,
        s"TTL must shrink the map state to the window (ttl=$fTtl nottl=$fNo)")
    } finally {
      prev match {
        case Some(p) => spark.conf.set(key, p)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("state-v2 last-touch port: tws == gmws on credits, removals, final state") {
    import org.apache.spark.sql.functions._
    // bounded replay parity on the real sf events — q160 shares
    // q143's oracle, so the two full replays must be row-identical
    val tws = StreamingQueries.q160(spark, Sf).collect().map(_.toSeq).toSeq
    val gmws = StreamingQueries.q143(spark, Sf).collect().map(_.toSeq).toSeq
    assert(tws.nonEmpty && tws == gmws,
      "state-v2 last-touch must equal the gmws replay row-for-row")
    // continuous + TTL: the explicit-timer port reproduces the gmws
    // attribution-window behavior on the crafted hourly backlog
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val (src, _, hourUs) = craftAttrBacklog()
      val sch = spark.read.parquet(src).schema
      def run(name: String, useTws: Boolean) = {
        val in = spark.readStream.schema(sch).option("maxFilesPerTrigger", 1)
          .parquet(src)
        val df =
          if (useTws) graft.streaming.StateV2.lastTouch(in,
            idleTtlUs = Some(6L * hourUs)).toDF()
          else EventStreams.attributeLastTouch(in,
            idleTtlUs = Some(6L * hourUs)).toDF()
        EventStreams.runToMemoryTracked(df, name,
          org.apache.spark.sql.streaming.OutputMode.Append())
      }
      val (gmwsOut, gmwsProg) = run("lt_gmws", useTws = false)
      val (twsOut, twsProg) = run("lt_tws", useTws = true)
      def credits(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq).toSet
      assert(credits(twsOut) == credits(gmwsOut) && credits(twsOut).nonEmpty)
      def removed(prog: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]) =
        prog.flatMap(p => Option(p.stateOperators).toSeq.flatten
          .map(_.numRowsRemoved)).sum
      def finalStateRows(prog: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]) =
        prog.reverse.iterator
          .flatMap(p => Option(p.stateOperators).toSeq.flatten.map(_.numRowsTotal))
          .find(_ => true).getOrElse(-1L)
      assert(removed(twsProg) >= 6L && removed(gmwsProg) >= 6L,
        s"both APIs must remove the six idle rows " +
          s"(tws=${removed(twsProg)} gmws=${removed(gmwsProg)})")
      assert(finalStateRows(twsProg) == 6L && finalStateRows(gmwsProg) == 6L,
        s"both APIs must end at the active horizon " +
          s"(tws=${finalStateRows(twsProg)} gmws=${finalStateRows(gmwsProg)})")
    } finally {
      prev match {
        case Some(p) => spark.conf.set(key, p)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("STATEFUL recovery: last-touch attribution carries its channel across a restart") {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.functions._
    // the OTHER stateful operator: the carried state is one channel
    // string per user; a purchase arriving after the restart whose
    // latest click happened before the stop must be credited from the
    // RECOVERED state, not fall back to 'direct'
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val work = tempDir("attr-recovery")
      val ev = graft.sources.Tables.events(spark, Sf)
      val Array(minUs, maxUs) = ev
        .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
        .head().toSeq.map(_.asInstanceOf[Long]).toArray
      val cut = (k: Int) => minUs + (maxUs - minUs + 1) * k / 6
      def writeSlice(src: String, k: Int): Unit = ev
        .where(unix_micros(col("ts")) >= cut(k) &&
          unix_micros(col("ts")) < cut(k + 1))
        .coalesce(1).write.mode("append").parquet(src)
      val sch = ev.schema
      def runAttr(src: String, out: String, ck: String): Unit = {
        val q = EventStreams.attributeLastTouch(
            spark.readStream.schema(sch).option("maxFilesPerTrigger", 1)
              .parquet(src)).toDF()
          .writeStream.outputMode("append")
          .option("checkpointLocation", ck)
          .trigger(Trigger.AvailableNow())
          .format("parquet").option("path", out).start()
        q.awaitTermination(180000)
      }
      def credits(out: String): Set[Seq[Any]] =
        spark.read.parquet(out).collect().map(_.toSeq).toSet
      val srcA = s"$work/srcA"; (0 until 6).foreach(writeSlice(srcA, _))
      runAttr(srcA, s"$work/outA", s"$work/ckA")
      val ref = credits(s"$work/outA")
      assert(ref.nonEmpty)
      val srcB = s"$work/srcB"; (0 until 3).foreach(writeSlice(srcB, _))
      runAttr(srcB, s"$work/outB", s"$work/ckB")
      val afterFirst = credits(s"$work/outB")
      assert(afterFirst.nonEmpty && afterFirst.size < ref.size)
      (3 until 6).foreach(writeSlice(srcB, _))
      runAttr(srcB, s"$work/outB", s"$work/ckB")
      val fin = credits(s"$work/outB")
      assert(fin == ref, "restarted attribution must equal the single run")
      // a post-restart purchase credited to a channel with NO click
      // between the restart point and the purchase: that channel can
      // only have come from the recovered per-user state
      val rows = ev.select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"), col("event_type")).collect()
      val purchaseUs = rows.filter(_.getString(3) == "purchase")
        .map(r => r.getLong(1) -> (r.getLong(0), r.getLong(2))).toMap
      val clicks = rows.filter(_.getString(3) == "click")
        .map(r => (r.getLong(0), r.getLong(2)))
      val idx = spark.read.parquet(s"$work/outB").schema
      val carried = (fin -- afterFirst).exists { c =>
        val pid = c(idx.fieldIndex("purchase_id")).asInstanceOf[Long]
        val chan = c(idx.fieldIndex("channel")).asInstanceOf[String]
        purchaseUs.get(pid).exists { case (uid, pus) =>
          pus >= cut(3) && chan != "direct" &&
            !clicks.exists(cl => cl._1 == uid && cl._2 >= cut(3) && cl._2 < pus)
        }
      }
      assert(carried,
        "no credit provably used the channel recovered from state")
    } finally {
      prev match {
        case Some(p) => spark.conf.set(key, p)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("streaming MG trending: continuous timers == bounded replay; state is closed windows only") {
    import org.apache.spark.sql.functions._
    import graft.streaming.StateV2
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // 3 time-ordered slices + a far-future sentinel event that
      // pushes the watermark past every real window, so each real
      // window's timer fires during the replay
      val mdir = tempDir("trend-multi")
      val ev = graft.sources.Tables.events(spark, Sf)
      val sliced = ev.withColumn("slice",
        ntile(3).over(org.apache.spark.sql.expressions.Window
          .orderBy(col("ts"), col("event_id"))))
      (1 to 3).foreach { s =>
        sliced.where(col("slice") === s).drop("slice")
          .coalesce(1).write.mode("append").parquet(mdir)
      }
      val maxTs = ev.agg(max("ts")).head().getTimestamp(0)
      val sentinel = ev.limit(1)
        .withColumn("ts", lit(new java.sql.Timestamp(
          maxTs.getTime + 12L * 3600 * 1000)))
      sentinel.coalesce(1).write.mode("append").parquet(mdir)
      val sch = spark.read.parquet(mdir).schema
      val stream = spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1").parquet(mdir)
      val (out, progress) = EventStreams.runToMemoryTracked(
        StateV2.trendingUsers(stream, boundedBacklog = false).toDF(),
        "trend_cont", OutputMode.Append(), Some(4))
      val sentinelWin = (maxTs.getTime + 12L * 3600 * 1000) / 3600000L * 3600000000L
      val contin = out.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .filter(_._1 < sentinelWin).toSet
      // bounded one-batch replay over the SAME backlog (sentinel incl.)
      val bounded = StateV2.trendingUsers(
          spark.read.parquet(mdir), boundedBacklog = true).toDF().collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .filter(_._1 < sentinelWin).toSet
      assert(contin.nonEmpty && contin == bounded,
        s"missing=${(bounded -- contin).take(5)} extra=${(contin -- bounded).take(5)}")
      // every real window fired and cleared: final state holds at most
      // the sentinel's own (unfired) window summary
      val finalRows = progress.flatMap(_.stateOperators.toSeq)
        .map(_.numRowsTotal).lastOption.getOrElse(-1L)
      assert(finalRows >= 0L && finalRows <= 1L,
        s"state must be closed-window-free at stream end (got $finalRows rows)")
    } finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None    => spark.conf.unset(key)
    }
  }

  test("streaming HLL windows: continuous timers == bounded replay == batch sketch; state bounded") {
    import org.apache.spark.sql.functions._
    import graft.streaming.StateV2
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // 3 time-ordered slices + a far-future sentinel event that
      // pushes the watermark past every real window, so each real
      // window's timer fires during the replay
      val mdir = tempDir("hll-multi")
      val ev = graft.sources.Tables.events(spark, Sf)
      val sliced = ev.withColumn("slice",
        ntile(3).over(org.apache.spark.sql.expressions.Window
          .orderBy(col("ts"), col("event_id"))))
      (1 to 3).foreach { s =>
        sliced.where(col("slice") === s).drop("slice")
          .coalesce(1).write.mode("append").parquet(mdir)
      }
      val maxTs = ev.agg(max("ts")).head().getTimestamp(0)
      val sentinel = ev.limit(1)
        .withColumn("ts", lit(new java.sql.Timestamp(
          maxTs.getTime + 12L * 3600 * 1000)))
      sentinel.coalesce(1).write.mode("append").parquet(mdir)
      val sch = spark.read.parquet(mdir).schema
      val stream = spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1").parquet(mdir)
      val (out, progress) = EventStreams.runToMemoryTracked(
        StateV2.windowDistinct(stream, boundedBacklog = false).toDF(),
        "hll_cont", OutputMode.Append(), Some(4))
      val sentinelWin = (maxTs.getTime + 12L * 3600 * 1000) / 3600000L * 3600000000L
      def rowSet(rows: Array[org.apache.spark.sql.Row]) = rows
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .filter(_._1 < sentinelWin).toSet
      val contin = rowSet(out.collect())
      val bounded = rowSet(StateV2.windowDistinct(
        spark.read.parquet(mdir), boundedBacklog = true).toDF().collect())
      assert(contin.nonEmpty && contin == bounded,
        s"missing=${(bounded -- contin).take(5)} extra=${(contin -- bounded).take(5)}")
      // the streaming registers must equal the BATCH aggregate's
      // bit-for-bit: same updateRegisters fold, different engine path
      val batch = rowSet(spark.read.parquet(mdir)
        .select(expr("unix_micros(ts) DIV 3600000000 * 3600000000").as("win_us"),
          graft.functions.TextFns.hash60(col("user_id").cast("string")).as("h"))
        .groupBy("win_us")
        .agg(graft.functions.HllSketch.hllSummary(col("h")).as("hs"))
        .select(col("win_us"), element_at(col("hs"), 1), element_at(col("hs"), 2))
        .collect())
      assert(contin == batch, "streaming HLL must equal the batch sketch")
      // every real window fired and cleared: 256 bytes x at most the
      // sentinel's own (unfired) window remain
      val finalRows = progress.flatMap(_.stateOperators.toSeq)
        .map(_.numRowsTotal).lastOption.getOrElse(-1L)
      assert(finalRows >= 0L && finalRows <= 1L,
        s"state must be closed-window-free at stream end (got $finalRows rows)")
    } finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None    => spark.conf.unset(key)
    }
  }

  test("bounded windowDistinct is exact under a forced multi-batch replay (q177 split-safety)") {
    import org.apache.spark.sql.functions._
    import graft.streaming.StateV2
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mdir = tempDir("hll-split")
      val ev = graft.sources.Tables.events(spark, Sf)
      // round-robin split: every window's rows scatter across all four
      // files, so under 1-file triggers EVERY window is a split window
      // — the exact case the retired one-batch convention forbade
      ev.repartition(4).write.mode("overwrite").parquet(mdir)
      val sch = spark.read.parquet(mdir).schema
      val stream = spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1").parquet(mdir)
      val (out, progress) = EventStreams.runToMemoryTracked(
        StateV2.windowDistinct(stream).toDF(),
        "hll_split", OutputMode.Append(), Some(4))
      val dataBatches = progress.count(_.numInputRows > 0)
      assert(dataBatches >= 4,
        s"fixture: expected >= 4 data micro-batches, got $dataBatches")
      assert(out.groupBy(col("win_us")).count()
        .where(col("count") > 1).count() > 0,
        "fixture: no window actually split across micro-batches")
      // a split window emits several CUMULATIVE summaries; MIN selects
      // the complete one (registers only grow => S only shrinks) —
      // q177's exact selection
      val merged = out.groupBy(col("win_us"))
        .agg(min(col("s_fp")).as("s_fp"), min(col("zero_regs")).as("zero_regs"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val batch = spark.read.parquet(mdir)
        .select(expr("unix_micros(ts) DIV 3600000000 * 3600000000").as("win_us"),
          graft.functions.TextFns.hash60(col("user_id").cast("string")).as("h"))
        .groupBy("win_us")
        .agg(graft.functions.HllSketch.hllSummary(col("h")).as("hs"))
        .select(col("win_us"), element_at(col("hs"), 1), element_at(col("hs"), 2))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(merged == batch,
        "split replay must reproduce the batch sketch exactly")
    } finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None    => spark.conf.unset(key)
    }
  }

  test("MG trending under decrements: containment guarantee and estimate bounds at m=4") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.streaming.StateV2
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // one hour-window, adversarial mix: user 1 heavy (50 events),
      // users 100..119 one event each — m=4 forces decrements
      val base = 1700000000000000L // us, hour-aligned enough: floor applies
      val rows = (1 to 50).map(i => (i.toLong, 1L, base + i * 1000L)) ++
        (0 until 20).map(i => (1000L + i, 100L + i, base + 60000L + i * 1000L))
      val df = rows.toDF("event_id", "user_id", "us")
        .select(col("event_id"), col("user_id"),
          expr("timestamp_micros(us)").as("ts"),
          lit("view").as("event_type"), lit(1.0).as("value"),
          lit("{}").as("props"))
      val tdir = tempDir("trend-mg")
      df.coalesce(1).write.mode("overwrite").parquet(tdir)
      val stream = spark.readStream
        .schema(spark.read.parquet(tdir).schema).parquet(tdir)
      val cands = EventStreams.runToMemory(
          StateV2.trendingUsers(stream, m = 4).toDF(),
          "trend_mg", OutputMode.Append(), Some(2)).collect()
        .map(r => (r.getLong(1), r.getLong(2)))
      val n = rows.length
      val truth = rows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      assert(cands.length <= 4, "summary must respect the m bound")
      // containment: share > 1/(m+1) guarantees presence
      truth.filter { case (_, c) => c * 5 > n }.keys.foreach { u =>
        assert(cands.exists(_._1 == u), s"guaranteed-heavy user $u missing")
      }
      // estimate bounds: est <= true <= est + n/(m+1)
      cands.foreach { case (u, est) =>
        val t = truth(u)
        assert(est <= t && t - est <= n / 5,
          s"user $u: est=$est true=$t violates MG bounds")
      }
    } finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None    => spark.conf.unset(key)
    }
  }

  test("q174 drift monitor: stream histogram == batch histogram; state bounded by bins, not events") {
    import org.apache.spark.sql.functions._
    val name = s"drift_spec_${System.nanoTime()}"
    val (out, progress) = EventStreams.runToMemoryTracked(
      StreamingQueries.driftBinned(spark, Sf), name,
      OutputMode.Complete(), Some(4))
    val streamed = out.collect()
      .map(r => (r.getString(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    // batch twin of the SAME maintenance aggregate over the same file
    val ev = spark.read.parquet(s"$Sf/events.parquet")
      .select(col("event_type"), col("event_id"), col("value"))
    val batch = ev
      .withColumn("b", least(floor(col("value") / StreamingQueries.DriftW)
        .cast("int"), lit(15)))
      .withColumn("is_ref", expr("(event_id DIV 100) % 2 = 0"))
      .withColumn("is_cur", expr(
        s"(event_id DIV 100) % 2 = 1 AND NOT (length(event_type) % 2 = 1 " +
          s"AND value >= ${StreamingQueries.DriftVMax})"))
      .groupBy(col("event_type"), col("b"))
      .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("ref_cnt"),
        sum(when(col("is_cur"), 1L).otherwise(0L)).as("cur_cnt"))
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(streamed == batch,
      "replayed stream histogram must equal the batch histogram")
    // state bound: the Complete-mode aggregate holds exactly the
    // (event_type, bin) groups — types x <=16 rows — regardless of
    // how many events flowed through. THE property that makes an
    // ingest-time monitor deployable on an unbounded stream.
    val nEvents = ev.count()
    val stateRows = progress
      .flatMap(p => Option(p.stateOperators).toSeq.flatten.map(_.numRowsTotal))
    assert(stateRows.nonEmpty && stateRows.max == batch.size.toLong,
      s"state ${stateRows.mkString(",")} != ${batch.size} observed bins")
    assert(stateRows.max <= 5L * 16L && stateRows.max < nEvents / 10,
      s"state must be bin-bounded (got ${stateRows.max} of $nEvents events)")
  }

  test("runToMemory deletes its checkpoint when the replay ends") {
    val name = s"ckpt_scope_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val out = EventStreams.runToMemory(
      EventStreams.tumblingHourly(EventStreams.readEvents(spark, Sf)), name,
      OutputMode.Complete(), Some(4))
    assert(out.count() > 0)
    val left = Option(new java.io.File(EventStreams.checkpointBase).listFiles())
      .toSeq.flatten.map(_.getName).filter(_.startsWith(name))
    assert(left.isEmpty, s"checkpoint directories outlived the run: $left")
  }
}
