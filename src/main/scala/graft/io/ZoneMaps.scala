package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-level zone maps: per-file min/max envelopes persisted as a
  * warehouse stats table, consulted BEFORE a scan to shrink the file
  * list a query reads.
  *
  * This is the data-skipping layer every 100 TB lake format carries
  * (Delta/Iceberg file statistics, Snowflake micro-partition pruning,
  * ORC/Parquet row-group indexes — all the same idea at different
  * granularities) re-expressed over plain parquet: directory
  * partitioning prunes on ONE coarse key and pays a directory per
  * value (q146), while zone maps prune at FILE granularity on any
  * column the writer clustered by — no small-directories problem, and
  * with a z-ordered layout (q86's Morton curve) one layout serves
  * range predicates on SEVERAL columns at once.
  *
  * The protocol has three parts, each fingerprinted through
  * [[Warehouse]] so later JVMs reuse files instead of rebuilding:
  *   1. a CLUSTERED layout — the table rewritten range-sorted (or
  *      z-ordered) so each file covers a narrow envelope;
  *   2. a STATS table — one row per file carrying min/max of the
  *      tracked columns plus a row count, derived from the files
  *      themselves (`input_file_name()` groupBy — one scan);
  *   3. a PRUNED READER — intersect the query's ranges with the
  *      envelopes, collect the surviving file names, and read exactly
  *      those. The collect is bounded by the matching-file count —
  *      strictly smaller than the full file list Spark's own
  *      InMemoryFileIndex already materializes on the driver for
  *      every scan, so this adds no new driver-memory class.
  *
  * Envelopes are inclusive approximations: a file may contain
  * non-matching rows, so the caller must re-apply the exact predicate
  * after the read (both query users here do). Skipping can therefore
  * only ever be a strict optimization — the q194/q195 oracles certify
  * pruned result == flat-scan result.
  */
object ZoneMaps {

  /** One stats row per data file of `layoutTable`: row count plus
    * min/max of each tracked column. Keyed (fingerprinted) to the
    * layout's own directory, so a re-clustered layout invalidates its
    * stats. Stats are derived from the FILES, not from the logical
    * build, so they are envelope-sound by construction.
    */
  def ensureFileStats(spark: SparkSession, statsTable: String,
                      layoutTable: String, tracked: Seq[String]): String = {
    val layoutLoc = Warehouse.tableLocation(spark, layoutTable)
    val layoutDf = spark.table(layoutTable)
    val aggs = count(lit(1)).as("cnt") +:
      tracked.flatMap(c => Seq(
        min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max")))
    val ddl = layoutDf
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .schema.toDDL
    Warehouse.ensureTable(spark, statsTable, layoutLoc, ddl) {
      layoutDf
        .groupBy(input_file_name().as("file"))
        .agg(aggs.head, aggs.tail: _*)
    }
    statsTable
  }

  /** Absorb a layout's NEW files into its stats table: stat rows are
    * per-file and immutable, so maintenance is an anti-join on file
    * name (idempotent — a replay finds nothing fresh) followed by a
    * stats append that SCANS ONLY THE FRESH FILES (the read is an
    * explicit file-list read, so absorption cost ∝ the append wave,
    * never the layout). The fingerprint is re-recorded afterwards so
    * a later session re-registers the maintained stats instead of
    * judging them stale. The known-file collect is O(stats rows) —
    * the same driver-memory class as the file listing itself.
    */
  def absorbNewFileStats(spark: SparkSession, statsTable: String,
                         layoutTable: String, tracked: Seq[String]): Int = {
    val actual = spark.table(layoutTable).inputFiles.toSet
    val known = spark.table(statsTable)
      .select(col("file")).collect().map(_.getString(0)).toSet
    val stale = known.diff(actual)
    val fresh = actual.diff(known).toSeq
    val aggs = count(lit(1)).as("cnt") +:
      tracked.flatMap(c => Seq(
        min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max")))
    val cols = spark.table(statsTable).columns.toSeq // insertInto is positional
    if (stale.nonEmpty) {
      // stats rows point at files that no longer exist. The one
      // legitimate path here: a partial-commit crash, a SESSION
      // RESTART whose fingerprint-mismatch stats rebuild absorbed the
      // exposed files, then the append repair deleted them. A stale
      // row would make the pruned reader open a dead file, so
      // reconcile by rebuilding the stats content from the live file
      // list (rare path; one layout scan) — and restore the
      // fingerprint the truncating overwrite deletes (the round-12
      // overwrite-insertInto bug class).
      spark.read.parquet(actual.toSeq: _*)
        .groupBy(input_file_name().as("file"))
        .agg(aggs.head, aggs.tail: _*)
        .select(cols.map(col): _*)
        .write.mode("overwrite").insertInto(statsTable)
      spark.catalog.refreshTable(statsTable)
      Warehouse.writeFingerprint(spark, statsTable,
        Warehouse.tableLocation(spark, layoutTable))
    } else if (fresh.nonEmpty) {
      spark.read.parquet(fresh: _*)
        .groupBy(input_file_name().as("file"))
        .agg(aggs.head, aggs.tail: _*)
        .select(cols.map(col): _*)
        .write.mode("append").insertInto(statsTable)
      spark.catalog.refreshTable(statsTable)
      Warehouse.writeFingerprint(spark, statsTable,
        Warehouse.tableLocation(spark, layoutTable))
    }
    fresh.size
  }

  /** Per-file BLOOM stats: one 8192-bit Bloom filter of `bloomKey`'s
    * hashes per data file. The complement of min/max envelopes:
    * envelopes prune RANGE predicates on the clustered column; a
    * per-file Bloom prunes POINT lookups on a key the layout is NOT
    * clustered by (a scattered key's envelope spans the domain in
    * every file, so zone maps keep everything — the Bloom keeps only
    * the files that may actually contain the key, false positives
    * bounded by the filter's load). Parquet's own column indexes and
    * Delta's bloom-filter indexes are this exact structure; here it
    * is an explicit, spec-testable stats table. The hash is the q77
    * build/probe idiom (hash60 % P) so both sides always agree.
    *
    * This builds the full skipping-stats row: min/max envelopes for `tracked`
    * columns AND a Bloom of `bloomKey` — one stats table serving BOTH
    * pruning dimensions, so a compound predicate (range on the
    * clustered column, point set on a scattered key) intersects them
    * in one metadata pass (q202).
    */
  def ensureFileSkipStats(spark: SparkSession, statsTable: String,
                          layoutTable: String, tracked: Seq[String],
                          bloomKey: String): String = {
    val layoutLoc = Warehouse.tableLocation(spark, layoutTable)
    val layoutDf = spark.table(layoutTable)
    def statsFrame = {
      val aggs = (count(lit(1)).as("cnt") +:
        tracked.flatMap(c => Seq(
          min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max")))) :+
        graft.functions.BloomSketch.bloomAgg(
          graft.functions.TextKernels.hash60StrCol(
            col(bloomKey).cast("string")) % graft.functions.TextFns.P)
          .as("bloom")
      layoutDf.groupBy(input_file_name().as("file"))
        .agg(aggs.head, aggs.tail: _*)
    }
    Warehouse.ensureTable(spark, statsTable, layoutLoc,
      statsFrame.schema.toDDL)(statsFrame)
    statsTable
  }

  /** One envelope-intersection predicate — the single definition of
    * "this file's [min, max] may contain a matching row", shared by
    * every reader and [[matchingFiles]].
    */
  private def rangePred(ranges: Seq[(String, Any, Any)]): org.apache.spark.sql.Column =
    ranges.map { case (c, lo, hi) =>
      col(s"${c}_max") >= lit(lo) && col(s"${c}_min") <= lit(hi)
    }.reduceOption(_ && _).getOrElse(lit(true))

  /** Fraction of the layout's files whose envelope intersects the
    * ranges — the selectivity estimate an access-path decision reads
    * from METADATA only (one aggregate over the O(files) stats rows,
    * never the data). An all-NULL tracked column makes rangePred NULL
    * for that file — it cannot match, so it counts as false rather
    * than silently leaving avg's denominator; an EMPTY stats table
    * (no files yet) estimates 1.0, the flat-scan-safe default.
    */
  def matchedFraction(spark: SparkSession, statsTable: String,
                      ranges: Seq[(String, Any, Any)]): Double = {
    val r = spark.table(statsTable)
      .agg(avg(coalesce(rangePred(ranges), lit(false)).cast("double"))).head()
    if (r.isNullAt(0)) 1.0 else r.getDouble(0)
  }

  /** A file open charged in row-equivalents: the explicit-file-list
    * paths pay footer reads and per-file task setup OUTSIDE the
    * catalog's shared, cached FileIndex, so a pruned path is worth
    * taking only when the rows it skips outweigh the opens it pays
    * fresh. The constant is the knob a real optimizer calibrates;
    * what matters structurally is that the decision scales with BOTH
    * file count and file size — at 10× rows per file the same matched
    * fraction flips from flat to pruned, which a fixed fraction
    * threshold cannot express.
    */
  final val OpenCostRows = 1000L

  /** The candidate access paths' (files, rows) read volumes, computed
    * in ONE aggregate over the O(files) stats rows — metadata only,
    * never the data. `bloom*` and `both*` equal the totals when no
    * probe keys are given (the predicate degenerates to true).
    */
  private[graft] final case class AccessStats(
      files: Long, rows: Long,
      rangeFiles: Long, rangeRows: Long,
      bloomFiles: Long, bloomRows: Long,
      bothFiles: Long, bothRows: Long)

  private[graft] def accessStats(spark: SparkSession, statsTable: String,
      ranges: Seq[(String, Any, Any)],
      keyHashes: Seq[org.apache.spark.sql.Column]): AccessStats = {
    val rp = coalesce(rangePred(ranges), lit(false))
    val bp = keyHashes
      .map(h => graft.functions.BloomSketch.mightContainCol(h, col("bloom")))
      .reduceOption(_ || _).getOrElse(lit(true))
    def files(p: org.apache.spark.sql.Column) = sum(p.cast("long"))
    def rows(p: org.apache.spark.sql.Column) = sum(when(p, col("cnt")))
    val r = spark.table(statsTable).agg(
      count(lit(1)), sum(col("cnt")),
      files(rp), rows(rp), files(bp), rows(bp),
      files(rp && bp), rows(rp && bp)).head()
    def g(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    AccessStats(g(0), g(1), g(2), g(3), g(4), g(5), g(6), g(7))
  }

  /** Cost-modeled ACCESS-PATH SELECTION over a skipping-stats table —
    * the optimizer deciding whether (and through which index) to use
    * its own skipping layer, from metadata alone. Candidates:
    *
    *   - `flat`      — the catalog scan; reads everything but pays no
    *     fresh opens (the shared FileIndex amortizes them);
    *   - `envelope`  — min/max-pruned explicit file list;
    *   - `bloom`     — Bloom-pruned list (point keys only);
    *   - `compound`  — both dimensions intersected (q202's path).
    *
    * Estimated cost: rows read, plus [[OpenCostRows]] per fresh file
    * open for the explicit-list paths — i.e. a pruned path wins
    * exactly when the rows it skips exceed its candidate-file count ×
    * open cost. All estimates come from the one [[accessStats]]
    * aggregate; the chosen frame is a candidate SUPERSET, so callers
    * re-apply the exact predicate and the answer is path-independent
    * (StatsPlanSpec pins the flips, the shared oracle pins the rows).
    */
  def selectAccessPath(spark: SparkSession, layoutTable: String,
      statsTable: String, ranges: Seq[(String, Any, Any)],
      keyHashes: Seq[org.apache.spark.sql.Column]): (String, DataFrame) = {
    val s = accessStats(spark, statsTable, ranges, keyHashes)
    def pruned(f: Long, r: Long) = r + OpenCostRows * f
    val candidates =
      Seq("flat" -> s.rows, "envelope" -> pruned(s.rangeFiles, s.rangeRows)) ++
        (if (keyHashes.nonEmpty)
          Seq("bloom" -> pruned(s.bloomFiles, s.bloomRows),
            "compound" -> pruned(s.bothFiles, s.bothRows))
        else Nil)
    candidates.minBy(_._2)._1 match {
      case "flat" => ("flat", spark.table(layoutTable))
      case "envelope" =>
        ("envelope", compoundPrunedRead(spark, layoutTable, statsTable, ranges, Nil))
      case "bloom" =>
        ("bloom", compoundPrunedRead(spark, layoutTable, statsTable, Nil, keyHashes))
      case "compound" =>
        ("compound", compoundPrunedRead(spark, layoutTable, statsTable, ranges, keyHashes))
    }
  }

  /** Files surviving BOTH the range envelopes and the Bloom
    * membership of at least one probe-key hash — compound skipping in
    * one stats pass. The SINGLE reader implementation: the range-only
    * and bloom-only readers are its degenerate forms. The surviving
    * files are read with the layout table's schema (the one its files
    * carry, see `Warehouse.ensureTable`), so building the frame runs no
    * footer-inference job.
    */
  def compoundPrunedRead(spark: SparkSession, layoutTable: String,
                         statsTable: String, ranges: Seq[(String, Any, Any)],
                         keyHashes: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val bloomPred = keyHashes
      .map(h => graft.functions.BloomSketch.mightContainCol(h, col("bloom")))
      .reduceOption(_ || _).getOrElse(lit(true))
    val files = spark.table(statsTable).where(rangePred(ranges) && bloomPred)
      .select(col("file")).collect().map(_.getString(0)).toSeq
    val layout = spark.table(layoutTable)
    if (files.isEmpty) layout.where(lit(false))
    else spark.read.schema(layout.schema).parquet(files: _*)
  }

  /** Read only the files whose Bloom may contain the key whose hash
    * is `keyHash` (a literal column — same hash60 % P as the build).
    * No false negatives by construction; callers re-apply the exact
    * equality after the read.
    */
  def bloomPrunedRead(spark: SparkSession, layoutTable: String,
                      statsTable: String, keyHash: org.apache.spark.sql.Column): DataFrame =
    compoundPrunedRead(spark, layoutTable, statsTable, Nil, Seq(keyHash))

  /** Files whose envelope INTERSECTS every `(column, lo, hi)` range —
    * the candidate set that may contain matching rows. Filtering runs
    * distributed over the stats table; only the surviving names are
    * collected (∝ predicate selectivity × file count).
    */
  def matchingFiles(spark: SparkSession, statsTable: String,
                    ranges: Seq[(String, Any, Any)]): Seq[String] =
    spark.table(statsTable).where(rangePred(ranges))
      .select(col("file")).collect().map(_.getString(0)).toSeq

  /** Read only the files that may satisfy `ranges`. The result is the
    * candidate superset — callers re-apply the exact predicate. An
    * empty candidate set short-circuits to an empty frame with the
    * layout's schema (spark.read needs at least one file otherwise).
    */
  def prunedRead(spark: SparkSession, layoutTable: String, statsTable: String,
                 ranges: Seq[(String, Any, Any)]): DataFrame =
    compoundPrunedRead(spark, layoutTable, statsTable, ranges, Nil)
}
