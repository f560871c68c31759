package graft

import org.apache.spark.sql.functions._
import graft.io.ZoneMaps
import graft.queries.Layout

/** Zone-map data skipping (io/ZoneMaps.scala, q194/q195): the pruned
  * reader must touch exactly the stats-matched file subset — a strict
  * minority of the layout — and skipping must never change an answer
  * (the q194/q195 oracles certify that against DuckDB; here we pin it
  * against the library's own flat scan, plus the file economics the
  * oracle can't see).
  */
class ZoneMapSpec extends SparkTestBase {

  test("q194 pruned read touches only the stats-matched files (a strict minority)") {
    val (t, st) = Layout.ensureShipdateZoned(spark, Sf)
    val total = spark.table(t).inputFiles.length
    val matched = ZoneMaps.matchingFiles(spark, st,
      Seq(("l_shipdate", s"${Layout.ShipLo} 00:00:00", s"${Layout.ShipHi} 00:00:00")))
    val pruned = ZoneMaps.prunedRead(spark, t, st,
      Seq(("l_shipdate", s"${Layout.ShipLo} 00:00:00", s"${Layout.ShipHi} 00:00:00")))
    assert(pruned.inputFiles.toSet == matched.toSet,
      "pruned read must scan exactly the stats-matched set")
    assert(matched.nonEmpty && matched.size < total / 4,
      s"3-month window should skip > 3/4 of a ${total}-file layout, kept ${matched.size}")
    info(s"q194: ${matched.size} of $total files read")
  }

  test("q194 result equals the flat-scan computation (skipping is pure optimization)") {
    val direct = graft.sources.Tables.lineitem(spark, Sf)
      .where(col("l_shipdate").between(
        lit(Layout.ShipLo).cast("timestamp"), lit(Layout.ShipHi).cast("timestamp")))
      .groupBy(col("l_returnflag")).count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val viaZones = Layout.q194(spark, Sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(viaZones == direct)
  }

  test("a range matching no envelope returns an empty, schema-correct frame") {
    val (t, st) = Layout.ensureShipdateZoned(spark, Sf)
    val pruned = ZoneMaps.prunedRead(spark, t, st,
      Seq(("l_shipdate", "2030-01-01 00:00:00", "2030-12-31 00:00:00")))
    assert(pruned.schema == spark.table(t).schema)
    assert(pruned.count() == 0)
  }

  test("a re-registered layout carries its files' schema; the pruned read infers none") {
    val (t, _) = Layout.ensureShipdateZoned(spark, Sf)
    val rows = Layout.q194(spark, Sf).collect().toSet
    spark.sql(s"DROP TABLE $t") // external: the files survive
    val (_, st) = Layout.ensureShipdateZoned(spark, Sf)
    assert(graft.io.Warehouse.lastProvision(spark, t).contains("files"))
    val files = spark.read.parquet(graft.io.Warehouse.tableLocation(spark, t)).schema
    assert(spark.table(t).schema == files, spark.table(t).schema.toDDL)
    val (pruned, jobs) = JobCount(spark)(ZoneMaps.prunedRead(spark, t, st,
      Seq(("l_shipdate", s"${Layout.ShipLo} 00:00:00", s"${Layout.ShipHi} 00:00:00"))))
    assert(jobs == 1, s"$jobs jobs: the stats collect and nothing else")
    assert(pruned.schema == files)
    assert(Layout.q194(spark, Sf).collect().toSet == rows)
  }

  test("q195 z-order box prunes on BOTH keys; single-key envelopes could not") {
    val (t, st) = Layout.ensureZorderZoned(spark, Sf)
    val stats = spark.table(st).collect()
    val total = stats.length
    val r = spark.table(st)
      .agg(max(col("l_partkey_max")), max(col("l_suppkey_max"))).head()
    val (pmax, smax) = (r.getLong(0), r.getLong(1))
    val (pLo, pHi, sLo, sHi) = Layout.zBox(pmax, smax)
    val matched = ZoneMaps.matchingFiles(spark, st,
      Seq(("l_partkey", pLo, pHi), ("l_suppkey", sLo, sHi)))
    assert(matched.nonEmpty && matched.size < total / 4,
      s"2-D box should skip > 3/4 of $total files, kept ${matched.size}")
    // the z-curve bounds EVERY file's envelope in BOTH dimensions: no
    // file spans more than half of either key domain (a single-key
    // sort would leave the other dimension's envelope at ~full width
    // in every file, making 2-D pruning impossible)
    val wide = stats.count { row =>
      val pw = row.getLong(row.fieldIndex("l_partkey_max")) -
        row.getLong(row.fieldIndex("l_partkey_min"))
      val sw = row.getLong(row.fieldIndex("l_suppkey_max")) -
        row.getLong(row.fieldIndex("l_suppkey_min"))
      pw > pmax / 2 && sw > smax / 2
    }
    assert(wide <= total / 4,
      s"z-clustering should bound most envelopes in both dimensions; $wide of $total wide")
    info(s"q195: ${matched.size} of $total files read; $wide envelopes wide in both dims")
  }

  test("q195 result equals the flat-scan computation") {
    val direct = {
      val li = graft.sources.Tables.lineitem(spark, Sf)
      val m = li.agg(max(col("l_partkey")), max(col("l_suppkey"))).head()
      val (pLo, pHi, sLo, sHi) = Layout.zBox(m.getLong(0), m.getLong(1))
      li.where(col("l_partkey").between(lit(pLo), lit(pHi)) &&
          col("l_suppkey").between(lit(sLo), lit(sHi)))
        .groupBy(col("l_returnflag")).count()
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    }
    val viaZones = Layout.q195(spark, Sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(viaZones == direct)
  }

  test("q199 stats absorption is incremental: base rows untouched, wave rows appended, replay absorbs nothing") {
    val (t, st) = Layout.ensureShipdateZonedInc(spark, Sf)
    val total = spark.table(t).inputFiles.length
    val statRows = spark.table(st).collect()
      .map(r => (r.getString(r.fieldIndex("file")), r.getLong(r.fieldIndex("cnt")))).toSet
    assert(statRows.size == total, "one stats row per layout file")
    // every file is covered and counts add up to the corpus
    assert(statRows.toSeq.map(_._2).sum ==
      graft.sources.Tables.lineitem(spark, Sf).count())
    // replay: a second absorb pass must find nothing fresh
    assert(graft.io.ZoneMaps.absorbNewFileStats(spark, st, t, Seq("l_shipdate")) == 0)
    assert(spark.table(st).collect()
      .map(r => (r.getString(r.fieldIndex("file")), r.getLong(r.fieldIndex("cnt")))).toSet
      == statRows)
  }

  test("stats rows for vanished files are reconciled, never served to the pruned reader") {
    val (t, st) = Layout.ensureShipdateZonedInc(spark, Sf)
    // forge the post-restart-repair state: a stats row whose file no
    // longer exists on disk
    val cols = spark.table(st).columns
    val ghost = spark.table(st).limit(1)
      .withColumn("file", lit("file:///nonexistent/ghost.parquet"))
      .select(cols.map(col).toIndexedSeq: _*)
    ghost.write.mode("append").insertInto(st)
    spark.catalog.refreshTable(st)
    assert(spark.table(st).where(col("file").contains("ghost")).count() == 1)
    graft.io.ZoneMaps.absorbNewFileStats(spark, st, t, Seq("l_shipdate"))
    spark.catalog.refreshTable(st)
    assert(spark.table(st).where(col("file").contains("ghost")).isEmpty,
      "reconciliation must drop stats rows for dead files")
    // stats again exactly mirror the live files, and pruning still works
    assert(spark.table(st).count() == spark.table(t).inputFiles.length)
    assert(Layout.q199(spark, Sf).count() > 0)
  }

  test("q199 crash replay: dropping the layout ingest-log entry re-appends nothing") {
    val (t, st) = Layout.ensureShipdateZonedInc(spark, Sf)
    val rows = spark.table(t).count()
    val files = spark.table(t).inputFiles.toSet
    val loc = graft.io.Warehouse.tableLocation(spark, t)
    val log = new java.io.File(loc, graft.io.Warehouse.IngestLogFile)
    java.nio.file.Files.deleteIfExists(
      new java.io.File(loc, "." + graft.io.Warehouse.IngestLogFile + ".crc").toPath)
    java.nio.file.Files.writeString(log.toPath, "")
    Layout.ensureShipdateZonedInc(spark, Sf)
    spark.catalog.refreshTable(t)
    assert(spark.table(t).count() == rows, "data probe must prevent a duplicate append")
    assert(spark.table(t).inputFiles.toSet == files)
  }

  test("q199 maintained layout still prunes: the window reads a strict minority of files") {
    val (t, st) = Layout.ensureShipdateZonedInc(spark, Sf)
    val total = spark.table(t).inputFiles.length
    val matched = ZoneMaps.matchingFiles(spark, st,
      Seq(("l_shipdate", s"${Layout.ShipLo} 00:00:00", s"${Layout.ShipHi} 00:00:00")))
    assert(matched.nonEmpty && matched.size < total / 4,
      s"kept ${matched.size} of $total files")
    info(s"q199: ${matched.size} of $total files read after maintenance")
  }

  test("q201 bloom skipping: a point lookup on the unclustered key reads a strict minority of files") {
    val (t, st) = Layout.ensureBloomZoned(spark, Sf)
    val total = spark.table(t).inputFiles.length
    // the layout is shipdate-sorted → orderkey envelopes are wide:
    // prove min/max could NOT have pruned this lookup (the reason the
    // bloom column exists)
    val li = graft.sources.Tables.lineitem(spark, Sf)
    val mx = li.agg(max(col("l_orderkey"))).head().getLong(0)
    val k = li.where(col("l_orderkey") <= lit(3L * mx / 8))
      .agg(max(col("l_orderkey"))).head().getLong(0)
    val perFileEnv = spark.table(t)
      .groupBy(input_file_name().as("file"))
      .agg(min(col("l_orderkey")).as("mn"), max(col("l_orderkey")).as("mx"))
      .where(col("mn") <= k && col("mx") >= k).count()
    assert(perFileEnv > total / 2,
      s"fixture: envelopes should be useless for this key ($perFileEnv of $total contain it)")
    val kh = graft.functions.TextKernels.hash60StrCol(
      lit(k).cast("string")) % graft.functions.TextFns.P
    val pruned = graft.io.ZoneMaps.bloomPrunedRead(spark, t, st, kh)
    val read = pruned.inputFiles.length
    assert(read > 0 && read < total / 4,
      s"bloom should keep a strict minority: $read of $total files")
    // no false negatives: the pruned read carries every row of the key
    val direct = li.where(col("l_orderkey") === k).count()
    assert(pruned.where(col("l_orderkey") === k).count() == direct)
    info(s"q201: $read of $total files for the point lookup; $perFileEnv envelopes contained the key")
  }

  test("q201 a key absent from the corpus prunes to (near) nothing and answers empty") {
    val (t, st) = Layout.ensureBloomZoned(spark, Sf)
    val total = spark.table(t).inputFiles.length
    // beyond the domain max → certainly absent; only false positives
    // can pass, and at this load they are rare
    val ghost = graft.sources.Tables.lineitem(spark, Sf)
      .agg(max(col("l_orderkey"))).head().getLong(0) + 999983L
    val kh = graft.functions.TextKernels.hash60StrCol(
      lit(ghost).cast("string")) % graft.functions.TextFns.P
    val pruned = graft.io.ZoneMaps.bloomPrunedRead(spark, t, st, kh)
    assert(pruned.inputFiles.length <= total / 4,
      s"absent key kept ${pruned.inputFiles.length} of $total files")
    assert(pruned.where(col("l_orderkey") === ghost).count() == 0)
  }

  test("q202 compound skipping intersects: fewer files than either dimension alone") {
    val (t, st) = Layout.ensureBloomZoned(spark, Sf)
    val total = spark.table(t).inputFiles.length
    val ks = Layout.probeOrderkeys(spark, Sf)
    val hashes = ks.map(k => graft.functions.TextKernels.hash60StrCol(
      lit(k).cast("string")) % graft.functions.TextFns.P)
    val ranges = Seq(("l_shipdate", s"${Layout.CsLo} 00:00:00", s"${Layout.CsHi} 00:00:00"))
    def filesOf(df: org.apache.spark.sql.DataFrame): Int = df.inputFiles.length
    val rangeOnly = filesOf(graft.io.ZoneMaps.compoundPrunedRead(spark, t, st, ranges, Nil))
    val bloomOnly = filesOf(graft.io.ZoneMaps.compoundPrunedRead(spark, t, st, Nil, hashes))
    val both = filesOf(graft.io.ZoneMaps.compoundPrunedRead(spark, t, st, ranges, hashes))
    assert(both <= math.min(rangeOnly, bloomOnly),
      s"intersection must not exceed either dimension: both=$both range=$rangeOnly bloom=$bloomOnly")
    assert(both < total, s"compound predicate must skip something: $both of $total")
    info(s"q202: range-only $rangeOnly, bloom-only $bloomOnly, compound $both of $total files")
  }

  test("zone stats re-register from surviving files; a changed layout forces a stats rebuild") {
    val (t, st) = Layout.ensureShipdateZoned(spark, Sf)
    spark.sql(s"DROP TABLE $st")
    Layout.ensureShipdateZoned(spark, Sf)
    assert(graft.io.Warehouse.lastProvision(spark, st).contains("files"),
      s"unchanged layout must re-register stats, got ${graft.io.Warehouse.lastProvision(spark, st)}")
    // corrupt the LAYOUT fingerprintable state (touch a file's mtime
    // forward) → stats must rebuild, never serve stale envelopes
    val loc = graft.io.Warehouse.tableLocation(spark, t)
    val f = new java.io.File(loc).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    assert(f.setLastModified(f.lastModified() + 60000))
    spark.sql(s"DROP TABLE $st")
    Layout.ensureShipdateZoned(spark, Sf)
    assert(graft.io.Warehouse.lastProvision(spark, st).contains("written"),
      "changed layout state must force a stats rebuild")
  }
}
