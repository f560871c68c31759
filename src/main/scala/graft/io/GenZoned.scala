package graft.io

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Zone-map file skipping OVER a generation-logged table on one or
  * two tracked columns, with a clustering-quality metric and a
  * quality-triggered re-layout — the maintenance loop every clustered
  * lake table needs (Delta OPTIMIZE / Iceberg rewrite_data_files,
  * decided by the numbers instead of a cron):
  *
  *   - INGESTION NEVER RE-SORTS. Append waves land as their own
  *     files under a wave partition tag (q199's economics: zone maps
  *     are per-file, so new files may cover wide envelopes — more
  *     candidate files, never wrong answers).
  *   - STATS LIVE IN THE LOG. Every commit records its added files'
  *     envelopes inside its own commit object
  *     ([[GenLog.configureStats]] declares the tracked columns once at
  *     table creation; [[GenLog.snapshotStats]] serves the live
  *     set's) — transactional with the data, exactly Delta/Iceberg's
  *     per-file stats. No sibling stats table, no absorption step, no
  *     crash window where a snapshot's files could outrun its stats.
  *   - QUALITY IS A METADATA READ. The clustering metric is the
  *     row-weighted mean over the LIVE files of each file's WORST
  *     normalized envelope width, max_d(width_d / domain_d). With one
  *     column, tight month-files score ~width(month)/domain and an
  *     unsorted append wave scores ~1 for its rows, so the metric
  *     degrades exactly in proportion to how much of the table has
  *     outgrown the layout. With two, a layout sorted on one key alone
  *     scores ~1 (tight in its key, full-domain in the other): the
  *     metric measures what a 2-D box predicate pays, where a 1-D
  *     metric would call a partkey-sorted table "clustered".
  *   - THE BOUND TRIGGERS THE REWRITE. Past the bound, the table
  *     re-clusters under a key computed from the tracked columns' live
  *     maxima — fully through [[GenLog.recluster]] (q209's
  *     partition-evolution mechanism: one new generation, history
  *     keeps its files for time travel, readers never migrate) or
  *     partially through [[GenLog.replaceFiles]] (only the decayed
  *     files). Two columns cluster into ALIGNED MORTON BLOCKS
  *     ([[blockKey]]), so both envelopes tighten at once.
  *
  * The reader re-applies the exact predicate after the pruned read,
  * so — like every skipping layer here — re-layout timing can change
  * COST only, never answers (GenZonedSpec pins the degrade → tolerate
  * → trigger → recover cycle in one and two dimensions with the
  * answer asserted at every stage).
  */
object GenZoned {

  /** The one-column layout's partition column: a coarse clustering
    * bucket for clustered generations, a wave tag for raw append waves.
    */
  final val PartCol = "zone_k"

  /** The two-column layout's partition column: an aligned z-block for
    * clustered generations, a wave tag for raw append waves.
    */
  final val PartCol2 = "z2_k"

  /** One column: re-layout when the metric exceeds this fraction. At
    * 0.1, a table whose rows are ≳10% "unsorted" (one full-domain wave
    * per ~10 clustered waves of equal size) rewrites.
    */
  final val WidthBound = 0.1

  /** Two columns: the z-block layout floors the metric at ~1/8 per
    * dimension (block geometry), so the bound sits above the clustered
    * floor plus one full-domain wave and below two — the same
    * tolerate-one/trigger-at-two economics as [[WidthBound]], shifted
    * for 2-D geometry.
    */
  final val WidthBound2 = 0.2

  /** Normalization lattice per dimension (2^10). */
  final val Grid = 1024L

  /** Top-bit shift for bucketing the interleaved code: dropping 14 of
    * the 20 lattice bits leaves 64 aligned blocks of 128 × 128
    * lattice cells — 1/8 of each dimension's domain.
    */
  final val BlockShift = 14

  /** The partition column and the re-layout bound follow from the
    * number of tracked columns.
    */
  def partColOf(tracked: Seq[String]): String =
    if (tracked.size == 1) PartCol else PartCol2

  def boundOf(tracked: Seq[String]): Double =
    if (tracked.size == 1) WidthBound else WidthBound2

  /** The aligned-z-block clustering key for two columns whose live
    * maxima are `maxes`: normalize both onto the lattice, interleave
    * (q86's Morton kernel — codegen'd), keep the top bits.
    * Positive-domain integer arithmetic throughout.
    */
  def blockKey(tracked: Seq[String], maxes: Seq[Long]): Column = {
    val Seq(c1, c2) = tracked
    val Seq(max1, max2) = maxes
    // positive-domain lattice coordinates; floor(x/y) == integer
    // division here, and the products stay far under 2^53 exactness
    val n1 = floor((col(c1).cast("long") * lit(Grid)) / lit(max1 + 1))
    val n2 = floor((col(c2).cast("long") * lit(Grid)) / lit(max2 + 1))
    format_string("z%03d",
      shiftrightunsigned(
        org.apache.spark.sql.graftbridge.ZOrderLong.zorder2(n1, n2),
        BlockShift))
  }

  /** The latest snapshot's per-file stats, each checked to carry an
    * envelope for every `tracked` column. Completeness is enforced
    * LOUDLY: a live file without an envelope means the table was
    * committed without [[GenLog.configureStats]], and a silent
    * partial metric would understate decay.
    */
  private def liveStats(spark: SparkSession, loc: String,
                        tracked: Seq[String]): Seq[GenLog.FileStat] = {
    val s = GenLog.snapshotStats(spark, loc)
    for (fs <- s; c <- tracked if !fs.cols.contains(c))
      sys.error(s"live file ${fs.file} has no commit-recorded '$c' envelope " +
        s"at $loc — configureStats must run before the first commit")
    s
  }

  /** Each file's worst normalized envelope width, max_d(width_d /
    * domain_d) over the tracked columns; a zero-width domain
    * contributes 0.
    */
  private def worstWidths(stats: Seq[GenLog.FileStat],
                          tracked: Seq[String]): Seq[Double] = {
    val domains = tracked.map(c =>
      (stats.map(_.cols(c)._2).max - stats.map(_.cols(c)._1).min).toDouble)
    stats.map(fs => tracked.zip(domains).map { case (c, d) =>
      val (lo, hi) = fs.cols(c)
      if (d == 0) 0.0 else (hi - lo) / d
    }.max)
  }

  /** The clustering metric of `stats` ∈ [0, 1]: the row-weighted mean
    * worst normalized width. 0 = every file a point; → 1 = every row
    * in full-domain files.
    */
  def quality(stats: Seq[GenLog.FileStat], tracked: Seq[String]): Double =
    stats.zip(worstWidths(stats, tracked))
      .map { case (fs, w) => fs.rows * w }.sum / stats.map(_.rows).sum

  /** The files a partial rewrite selects: those whose own worst
    * normalized width exceeds `bound`.
    */
  def decayed(stats: Seq[GenLog.FileStat], tracked: Seq[String],
              bound: Double): Seq[String] =
    stats.zip(worstWidths(stats, tracked))
      .collect { case (fs, w) if w > bound => fs.file }

  /** The live table's clustering metric — a checkpoint+tail log
    * resolve, never a data read.
    */
  def quality(spark: SparkSession, loc: String, tracked: Seq[String]): Double =
    quality(liveStats(spark, loc, tracked), tracked)

  private def maxes(stats: Seq[GenLog.FileStat], tracked: Seq[String]): Seq[Long] =
    tracked.map(c => stats.map(_.cols(c)._2).max)

  /** The live maxima of the tracked columns — an O(files) metadata
    * read (max of per-file maxes == the global max), never the data.
    */
  def liveMaxes(spark: SparkSession, loc: String, tracked: Seq[String]): Seq[Long] =
    maxes(liveStats(spark, loc, tracked), tracked)

  /** Re-layout IF the quality bound says so: re-cluster the full
    * current rows under `clusterKey(live maxima)` through
    * [[GenLog.recluster]] (one new generation; history keeps its
    * layout — and the commit records the new files' envelopes
    * itself). Returns whether the rewrite ran. Idempotent through
    * GenLog's gen-id guard.
    */
  def maybeRecluster(spark: SparkSession, loc: String, gen: String,
                     tracked: Seq[String],
                     clusterKey: Seq[Long] => Column): Boolean =
    maintain(spark, loc, gen, tracked, clusterKey, partial = false)

  /** PARTIAL re-layout (the liquid-clustering economics): when the
    * quality bound fires, rewrite ONLY the [[decayed]] files (the
    * unsorted waves; clustered files score ~width(bucket)/domain and
    * are untouched, byte-identically) through [[GenLog.replaceFiles]].
    * Rewrite cost ∝ decayed data, never the table: the difference
    * between q214's full recluster and this is the difference between
    * OPTIMIZE FULL and incremental clustering at 100 TB. Returns
    * whether the rewrite ran.
    */
  def maybeReclusterPartial(spark: SparkSession, loc: String, gen: String,
                            tracked: Seq[String],
                            clusterKey: Seq[Long] => Column): Boolean =
    maintain(spark, loc, gen, tracked, clusterKey, partial = true)

  /** One maintenance decision over one log resolve: metric, decayed
    * files and live maxima all come from the same snapshot's stats.
    */
  private def maintain(spark: SparkSession, loc: String, gen: String,
                       tracked: Seq[String], clusterKey: Seq[Long] => Column,
                       partial: Boolean): Boolean = {
    val s = liveStats(spark, loc, tracked)
    val bound = boundOf(tracked)
    if (quality(s, tracked) <= bound) return false
    val key = clusterKey(maxes(s, tracked))
    val pc = partColOf(tracked)
    if (partial) {
      val wide = decayed(s, tracked, bound)
      require(wide.nonEmpty,
        "quality crossed the bound but no single file exceeds it — widen the metric")
      GenLog.replaceFiles(spark, loc, gen, wide, Seq(pc))(df =>
        df.drop(pc).withColumn(pc, key))
    } else
      GenLog.recluster(spark, loc, gen,
        GenLog.readLatest(spark, loc).withColumn(pc, key), Seq(pc))
    true
  }

  private def intersects(fs: GenLog.FileStat,
                         ranges: Seq[(String, Long, Long)]): Boolean =
    ranges.forall { case (c, lo, hi) => fs.cols(c)._2 >= lo && fs.cols(c)._1 <= hi }

  /** Read only the live files whose envelopes intersect every
    * `(column, lo, hi)` range (timestamps in epoch micros) — a
    * candidate superset pruned on all ranged columns at once; callers
    * re-apply the exact predicate. An empty candidate set
    * short-circuits against the latest generation's schema.
    */
  def prunedRead(spark: SparkSession, loc: String,
                 ranges: Seq[(String, Long, Long)]): DataFrame = {
    val files = liveStats(spark, loc, ranges.map(_._1))
      .filter(intersects(_, ranges)).map(_.file)
    if (files.isEmpty) GenLog.readLatest(spark, loc).where(lit(false))
    else spark.read.parquet(files: _*)
  }

  /** Fraction of live files the ranges keep — the observable skipping
    * economics (GenZonedSpec asserts recovery after re-layout).
    */
  def matchedFraction(spark: SparkSession, loc: String,
                      ranges: Seq[(String, Long, Long)]): Double = {
    val s = liveStats(spark, loc, ranges.map(_._1))
    s.count(intersects(_, ranges)).toDouble / s.size
  }
}
