package graft

import org.apache.spark.sql.functions._
import graft.io.Warehouse

/** Partitioned-table maintenance: dynamic-partition upsert must
  * replace ONLY the batch's partitions (other partitions' files
  * untouched — asserted by file listing, not by trust), and
  * compaction must rewrite one partition's small files into one
  * without changing a row anywhere. Runs against a throwaway table
  * so the shared q146 layout is never mutated.
  */
class WarehouseMaintSpec extends SparkTestBase {

  private val table = "graft_maint_spec_events"

  private def fileState(): Map[String, Seq[(String, Long)]] = {
    val loc = new java.io.File(Warehouse.tableLocation(spark, table))
    loc.listFiles().filter(_.isDirectory).map { d =>
      d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified())).toSeq.sorted
    }.toMap
  }

  private def buildTable(): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val loc = new java.io.File(Warehouse.tableLocation(spark, table))
    if (loc.exists())
      org.apache.spark.network.util.JavaUtils.deleteRecursively(loc)
    Warehouse.ensurePartitionedTable(spark, table,
      s"$Sf/events.parquet", "day")(
      graft.sources.Tables.events(spark, Sf)
        .withColumn("day", to_date(col("ts")))
        .repartition(col("day")))
  }

  test("dynamic-partition upsert replaces only the batch's day") {
    buildTable()
    val before = fileState()
    val day = "2024-01-15"
    val restated = spark.table(table)
      .where(col("day") === day)
      .withColumn("value", col("value") * 2)
    val expectRows = restated.count()
    val expectSum = restated.agg(
      sum(col("value").cast("decimal(18,6)"))).head().getDecimal(0)
    Warehouse.upsertPartitions(spark, table, restated)
    val after = fileState()
    // the restated day changed...
    val got = spark.table(table).where(col("day") === day)
    assert(got.count() == expectRows)
    assert(got.agg(sum(col("value").cast("decimal(18,6)"))).head()
      .getDecimal(0) == expectSum)
    // ...and EVERY other partition's files are byte-for-byte the same
    // objects (names and mtimes unchanged — never rewritten)
    (before.keySet - s"day=$day").foreach { p =>
      assert(after(p) == before(p), s"partition $p was touched by the upsert")
    }
    assert(after(s"day=$day") != before(s"day=$day"))
  }

  test("incremental rollup maintenance: refresh only ingested days, equals full recompute") {
    // the materialized-view pattern on immutable files: a daily
    // rollup table is maintained by recomputing ONLY the days an
    // ingest touched (partition upsert), never the table. History =
    // all but the last 3 days; then the 3 days arrive and refresh.
    val rollup = "graft_maint_spec_rollup"
    spark.sql(s"DROP TABLE IF EXISTS $rollup")
    val loc = new java.io.File(Warehouse.tableLocation(spark, rollup))
    if (loc.exists())
      org.apache.spark.network.util.JavaUtils.deleteRecursively(loc)
    def dailyAgg(ev: org.apache.spark.sql.DataFrame) = ev
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .select(col("event_type"), col("n_events"), col("sum_value"), col("day"))
    val ev = graft.sources.Tables.events(spark, Sf)
    val cut = "2024-01-28"
    Warehouse.ensurePartitionedTable(spark, rollup,
      s"$Sf/events.parquet", "day")(
      dailyAgg(ev.where(to_date(col("ts")) < lit(cut).cast("date")))
        .repartition(col("day")))
    val daysBefore = spark.table(rollup).select("day").distinct().count()
    // ingest: the last 3 days arrive; refresh exactly those partitions
    val batch = dailyAgg(ev.where(to_date(col("ts")) >= lit(cut).cast("date")))
    Warehouse.upsertPartitions(spark, rollup, batch.repartition(col("day")))
    assert(spark.table(rollup).select("day").distinct().count() > daysBefore)
    // the maintained table must equal the from-scratch recompute
    val maintained = spark.table(rollup).collect().toSet
    val full = dailyAgg(ev).collect().toSet
    assert(maintained == full && full.nonEmpty)
    spark.sql(s"DROP TABLE $rollup")
    org.apache.spark.network.util.JavaUtils.deleteRecursively(
      new java.io.File(Warehouse.tableLocation(spark, rollup)))
  }

  test("compaction: N small files -> 1, zero row drift, others untouched") {
    buildTable()
    val day = "2024-01-20"
    // fragment the partition first (the nightly-ingest aftermath)
    val frag = spark.table(table).where(col("day") === day).repartition(5)
    Warehouse.upsertPartitions(spark, table, frag)
    assert(fileState()(s"day=$day").size == 5, "fixture: fragmentation failed")
    val contentBefore = spark.table(table).where(col("day") === day)
      .drop("day").collect().toSet
    val othersBefore = fileState() - s"day=$day"
    Warehouse.compactPartition(spark, table, "day", day)
    assert(fileState()(s"day=$day").size == 1, "compaction must leave one file")
    val contentAfter = spark.table(table).where(col("day") === day)
      .drop("day").collect().toSet
    assert(contentAfter == contentBefore && contentBefore.nonEmpty)
    (fileState() - s"day=$day").foreach { case (p, fs) =>
      assert(fs == othersBefore(p), s"partition $p was touched by compaction")
    }
    // cleanup: this table is spec-local scratch
    spark.sql(s"DROP TABLE $table")
    org.apache.spark.network.util.JavaUtils.deleteRecursively(
      new java.io.File(Warehouse.tableLocation(spark, table)))
  }

  test("compaction preserves a MAINTAINED table's fingerprint protocol " +
    "(rows, files, cross-session re-registration)") {
    // the round-12 bug class: a maintenance write that deletes the
    // fingerprint silently turns every later session's reread into a
    // full rebuild. compactPartition rides upsertPartitions (dynamic
    // overwrite of ONE partition dir), so the root-level fingerprint
    // must survive and a dropped catalog entry must re-register from
    // files with all maintained rows intact.
    import graft.functions.{HllSketch, TextFns}
    val t = "graft_maint_spec_sketch"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val loc = new java.io.File(Warehouse.tableLocation(spark, t))
    if (loc.exists())
      org.apache.spark.network.util.JavaUtils.deleteRecursively(loc)
    assert(Warehouse.ensureMaintainedPartitionedTable(spark, t,
      s"$Sf/events.parquet", "win_us BIGINT, regs BINARY, day DATE",
      "day") == "created")
    // three merge-upsert waves (split by hour mod 3) maintain the
    // table exactly as q183's seam does
    val regs = graft.sources.Tables.events(spark, Sf)
      .select(expr("unix_micros(ts) DIV 3600000000 * 3600000000").as("win_us"),
        TextFns.hash60(col("user_id").cast("string")).as("h"))
      .groupBy("win_us")
      .agg(HllSketch.hllRegisters(col("h")).as("regs"))
    (0 to 2).foreach { k =>
      graft.streaming.SketchWarehouse.mergeUpsert(spark, t,
        regs.where(expr(s"win_us DIV 3600000000 % 3 = $k")))
    }
    val rowsBefore = spark.table(t)
      .select(col("win_us"), col("regs"), col("day")).collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq, r.getDate(2)))
      .toSet
    assert(rowsBefore.nonEmpty)
    // fragment one day (the nightly-ingest aftermath), then compact
    val day = spark.table(t).agg(min(col("day"))).head().getDate(0).toString
    Warehouse.upsertPartitions(spark, t,
      spark.table(t).where(col("day") === day).repartition(5))
    def dayFiles(): Int = new java.io.File(loc, s"day=$day")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(dayFiles() == 5, "fixture: fragmentation failed")
    Warehouse.compactPartition(spark, t, "day", day)
    assert(dayFiles() == 1, "compaction must leave one file")
    val rowsAfter = spark.table(t)
      .select(col("win_us"), col("regs"), col("day")).collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq, r.getDate(2)))
      .toSet
    assert(rowsAfter == rowsBefore, "compaction must not drift a single row")
    // the fingerprint survived every wave AND the compaction: a fresh
    // catalog (dropped entry) re-registers from files with the
    // maintained rows — never an empty restart, never a rebuild
    assert(new java.io.File(loc, Warehouse.FingerprintFile).isFile,
      "maintenance deleted the fingerprint — the round-12 bug class")
    spark.sql(s"DROP TABLE $t")
    assert(Warehouse.ensureMaintainedPartitionedTable(spark, t,
      s"$Sf/events.parquet", "win_us BIGINT, regs BINARY, day DATE",
      "day") == "files")
    val rowsReread = spark.table(t)
      .select(col("win_us"), col("regs"), col("day")).collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq, r.getDate(2)))
      .toSet
    assert(rowsReread == rowsBefore,
      "re-registration after compaction lost maintained rows")
    spark.sql(s"DROP TABLE $t")
    org.apache.spark.network.util.JavaUtils.deleteRecursively(loc)
  }

  test("stream -> warehouse: foreachBatch upsert is effectively-once under batch replay") {
    import org.apache.spark.sql.streaming.Trigger
    // The streaming->warehouse sink story: each micro-batch restates
    // its DAYS via dynamic-partition upsert. Because the partition is
    // the unit of restatement, a RE-DELIVERED batch (at-least-once
    // delivery, a foreachBatch retry after a crash mid-commit)
    // rewrites the same partitions with the same content — the sink
    // is idempotent, hence effectively-once, WITHOUT a transactional
    // log. Contract pinned here: batches must carry WHOLE days
    // (ingest-day alignment) — a day split across batches would be
    // half-dropped by the later restatement.
    val tbl = "graft_stream_sink_events"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val tblLoc = new java.io.File(Warehouse.tableLocation(spark, tbl))
    if (tblLoc.exists())
      org.apache.spark.network.util.JavaUtils.deleteRecursively(tblLoc)
    val work = tempDir("stream-sink")
    val src = s"$work/src"
    val ev = graft.sources.Tables.events(spark, Sf)
      .withColumn("day", to_date(col("ts")))
    // three source files cut at DAY boundaries (the alignment contract)
    val cuts = Seq(("2024-01-01", "2024-01-11"), ("2024-01-11", "2024-01-21"),
      ("2024-01-21", "2024-02-01"))
    cuts.foreach { case (lo, hi) =>
      ev.where(col("day") >= lo && col("day") < hi)
        .coalesce(1).write.mode("append").parquet(src)
    }
    def sinkBatch(df: org.apache.spark.sql.DataFrame): Unit =
      if (!spark.catalog.tableExists(tbl))
        df.write.partitionBy("day").format("parquet").saveAsTable(tbl)
      else Warehouse.upsertPartitions(spark, tbl, df)
    val sch = ev.schema
    spark.readStream.schema(sch).option("maxFilesPerTrigger", 1).parquet(src)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        sinkBatch(df)
      }
      .option("checkpointLocation", s"$work/ck")
      .trigger(Trigger.AvailableNow()).start().awaitTermination(120000)
    // column order: saveAsTable moves the partition col last — compare
    // as name-keyed maps to stay order-independent
    def byName(t: String) = {
      val cols = spark.table(t).columns
      spark.table(t).collect().map(r => cols.zip(r.toSeq).toMap).toSet
    }
    val evCols = ev.columns
    val expectMaps = ev.collect().map(r => evCols.zip(r.toSeq).toMap).toSet
    assert(byName(tbl) == expectMaps, "streamed table must equal the batch frame")
    // simulate an at-least-once REDELIVERY of the final batch
    val replay = ev.where(col("day") >= cuts.last._1)
    Warehouse.upsertPartitions(spark, tbl, replay)
    assert(byName(tbl) == expectMaps, "a replayed batch must change nothing")
    spark.sql(s"DROP TABLE $tbl")
    org.apache.spark.network.util.JavaUtils.deleteRecursively(tblLoc)
  }

  test("deleteMergeByKey: tombstoned partitions rewrite, others' files untouched, emptied partitions drop") {
    buildTable()
    val before = fileState()
    val d1 = java.sql.Date.valueOf("2024-01-08")
    val d2 = java.sql.Date.valueOf("2024-01-22")
    // tombstones: five keys of day 8 (partial) + EVERY key of day 22
    // (the emptied-partition case dynamic overwrite cannot express)
    val spark2 = spark
    import spark2.implicits._
    // pin the tombstone set as LITERALS so the idempotence replay
    // below presents the exact same keys, not a re-evaluated query
    val tombPairs = spark.table(table).where(col("day") === d1)
      .select(col("event_id"), col("day"))
      .orderBy(col("event_id")).limit(5)
      .unionByName(spark.table(table).where(col("day") === d2)
        .select(col("event_id"), col("day")))
      .collect().map(r => (r.getLong(0), r.getDate(1))).toSeq
    val tombs = tombPairs.toDF("event_id", "day")
    val doomed = tombPairs.map(_._1).toSet
    assert(doomed.size > 5, "fixture: day 22 must contribute keys")
    val expectRows = spark.table(table).count() - doomed.size
    Warehouse.deleteMergeByKey(spark, table, tombs, "day", "event_id")
    assert(spark.table(table).count() == expectRows)
    assert(spark.table(table)
      .where(col("event_id").isin(doomed.toSeq.map(l => l: java.lang.Long): _*))
      .isEmpty, "tombstoned keys must be gone")
    val after = fileState()
    // only the two tombstone partitions were touched
    (before.keySet - s"day=$d1" - s"day=$d2").foreach { p =>
      assert(after(p) == before(p), s"partition $p was touched by the delete")
    }
    assert(after(s"day=$d1") != before(s"day=$d1"),
      "the partially-tombstoned day must rewrite")
    assert(!after.contains(s"day=$d2"),
      "the fully-tombstoned day's directory must drop")
    // a replay deletes nothing further (no matching keys remain)
    Warehouse.deleteMergeByKey(spark, table, tombs, "day", "event_id")
    assert(spark.table(table).count() == expectRows)
  }

  test("dropSuperseded sweeps format-bumped fixture dirs, spares current versions, and is idempotent") {
    // the conf value is a URI (file:/...): normalize to a local path
    val root = new java.io.File(new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath)
    root.mkdirs()
    val stale = new java.io.File(root, "graft_ev_gens_v2_deadbee")
    val current = new java.io.File(root, "graft_ev_gens_v4_deadbee")
    Seq(stale, current).foreach { d =>
      d.mkdirs()
      java.nio.file.Files.writeString(
        new java.io.File(d, "x.parquet").toPath, "stub")
    }
    val swept = Warehouse.dropSuperseded(spark)
    assert(swept.contains("graft_ev_gens_v2_deadbee"),
      s"the superseded dir must be swept, got $swept")
    assert(!stale.exists(), "superseded fixture bytes must be gone")
    assert(current.exists(),
      "a current-version fixture must never match a superseded pattern")
    // idempotent: a second sweep finds nothing
    assert(!Warehouse.dropSuperseded(spark).contains("graft_ev_gens_v2_deadbee"))
    current.listFiles().foreach(_.delete()); current.delete()
    ()
  }

  /** A scratch source directory with one data file, and a counting
    * `ensureDir` over a spec-local artifact keyed to it. */
  private object DirFixture {
    val src: java.nio.file.Path = java.nio.file.Paths.get(tempDir("graft-ensuredir-src"))
    val dirTable = "graft_maint_spec_dir"
    var builds = 0
    def loc: java.io.File = new java.io.File(Warehouse.tableLocation(spark, dirTable))
    def fingerprint: java.io.File = new java.io.File(loc, Warehouse.FingerprintFile)
    def writeSource(name: String, body: String): Unit = {
      java.nio.file.Files.writeString(src.resolve(name), body); ()
    }
    def ensure(fail: Boolean = false): String =
      Warehouse.ensureDir(spark, dirTable, src.toString) { l =>
        builds += 1
        new java.io.File(l).mkdirs()
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(l, s"gen$builds.txt"), "data")
        if (fail) throw new IllegalStateException("build failed")
      }
    def reset(): Unit = {
      org.apache.spark.network.util.JavaUtils.deleteRecursively(loc)
      builds = 0
    }
  }

  test("ensureDir builds once, then serves the surviving directory without building") {
    import DirFixture._
    reset()
    writeSource("a.parquet", "v1")
    assert(ensure() == loc.getPath)
    assert(builds == 1 && fingerprint.exists())
    assert(Warehouse.lastProvision(spark, dirTable).contains("written"))
    assert(ensure() == loc.getPath)
    assert(builds == 1, "a current fingerprint must not run the build")
    assert(Warehouse.lastProvision(spark, dirTable).contains("files"))
  }

  test("ensureDir deletes and rebuilds the directory when the source changes") {
    import DirFixture._
    reset()
    writeSource("a.parquet", "v1")
    ensure()
    val planted = new java.io.File(loc, "planted.txt")
    java.nio.file.Files.writeString(planted.toPath, "stale")
    writeSource("b.parquet", "v2") // a new source generation
    ensure()
    assert(builds == 2, "a changed source must run the build again")
    assert(!planted.exists(), "the stale directory must be deleted before the build")
    assert(Warehouse.lastProvision(spark, dirTable).contains("written"))
  }

  test("ensureDir: a build that throws leaves no fingerprint, and the next call rebuilds") {
    import DirFixture._
    reset()
    writeSource("a.parquet", "v1")
    intercept[IllegalStateException](ensure(fail = true))
    assert(builds == 1 && !fingerprint.exists(),
      "a failed build must not be marked as committed")
    ensure()
    assert(builds == 2 && fingerprint.exists())
    assert(loc.list().filterNot(_.startsWith(".")).toSet ==
      Set("gen2.txt", Warehouse.FingerprintFile),
      "the rebuild must start from an empty directory")
    reset()
    org.apache.spark.network.util.JavaUtils.deleteRecursively(src.toFile)
  }
}
