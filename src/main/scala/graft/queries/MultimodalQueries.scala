package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFns.{hash60Sql, rnd, rndSql}
import graft.multimodal.Multimodal
import graft.sources.Tables

/** Multimodal-column queries. Both are DuckDB-oracled: the metadata
  * derivation (q46) and the decode stub's feature math (q47) are
  * md5/byte-deterministic, so the oracle mirrors them exactly —
  * including q47's FLOAT-precision division (the kernel computes
  * `s1.toFloat / n`; the SQL twin does the same division in FLOAT).
  */
object MultimodalQueries {

  // ---------------------------------------------------------------
  // q46_multimodal_meta — per-kind metadata rollup. Only doc_id and
  // the meta struct leave the scan (payload pruned away — the
  // property that makes metadata queries cheap at 100 TB).
  // ---------------------------------------------------------------
  def q46(spark: SparkSession, dir: String): DataFrame =
    Multimodal.mediaTable(spark, dir)
      .groupBy(col("meta.kind").as("kind"))
      .agg(count(lit(1)).as("n"),
        min(col("meta.width")).as("min_w"), max(col("meta.width")).as("max_w"),
        rnd(sum(col("meta.n_frames")).cast("double") / count(lit(1)), 4)
          .as("avg_frames"),
        sum(length(col("payload"))).as("total_bytes"))
      .orderBy(col("kind"))

  val q46Sql: String = {
    val h = hash60Sql("doc_id::VARCHAR")
    s"""SELECT kind, COUNT(*) AS n, MIN(width) AS min_w, MAX(width) AS max_w,
       |  ${rndSql("SUM(n_frames)::DOUBLE / COUNT(*)", 4)} AS avg_frames,
       |  CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes
       |FROM (SELECT
       |        CASE ($h) % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
       |                      ELSE 'video' END AS kind,
       |        64 + ($h) % 192 AS width,
       |        1 + ($h) % 30 AS n_frames,
       |        text
       |      FROM documents)
       |GROUP BY kind ORDER BY kind""".stripMargin
  }

  // ---------------------------------------------------------------
  // q47_multimodal_features — the batched stub-decode pipeline. The
  // stub's features[2] is `s1.toFloat / max(len,1)` over the payload
  // bytes (Multimodal.decodeStub); ASCII corpus ⇒ codepoints == bytes,
  // so the oracle recomputes s1 from the text and repeats the division
  // in FLOAT to stay bit-identical before the 4 dp rounding.
  // ---------------------------------------------------------------
  def q47(spark: SparkSession, dir: String): DataFrame =
    Multimodal.extractFeatures(Multimodal.mediaTable(spark, dir))
      .select(col("doc_id"), col("meta.kind").as("kind"),
        size(col("features")).as("n_features"),
        rnd(element_at(col("features"), 2).cast("double"), 4).as("mean_byte"))
      .orderBy(col("doc_id"))

  val q47Sql: String = {
    val h = hash60Sql("doc_id::VARCHAR")
    val s1 = "list_reduce(list_prepend(0::BIGINT, " +
      "list_transform(generate_series(1, length(text)), i -> ord(substr(text, i, 1)))), " +
      "(a, b) -> a + b)"
    val meanByte = "CAST(s1::FLOAT / GREATEST(n, 1)::FLOAT AS DOUBLE)"
    s"""SELECT doc_id, kind, 8 AS n_features,
       |  ${rndSql(meanByte, 4)} AS mean_byte
       |FROM (SELECT doc_id,
       |        CASE ($h) % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
       |                      ELSE 'video' END AS kind,
       |        strlen(text) AS n, $s1 AS s1
       |      FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // q90_resize_grid — nearest-neighbor thumbnail pass over the image
  // rows (Multimodal.resizeGrid): every image resampled to 16×16,
  // reported as new dims + byte-value stats of the resized grid.
  // Map-side only; the oracle replays the exact 2-D index map
  // (explicit floor() on both engines — DuckDB's double→int cast
  // ROUNDS where Spark's truncates).
  // ---------------------------------------------------------------
  final val OutW = 16
  final val OutH = 16

  def q90(spark: SparkSession, dir: String): DataFrame = {
    // fanOut HERE, not in mediaTable: the 256-cell resample is the
    // one media kernel heavy enough to pay for an exchange of its
    // input rows (profiled 0.54 s serial over the single-file scan;
    // fanning mediaTable itself measurably slowed the light metadata
    // consumers q46/q47/q91, so they keep the bare scan).
    val images = Tables.fanOut(
      Multimodal.mediaTable(spark, dir)
        .where(col("meta.kind") === "image"), col("doc_id"))
    Multimodal.resizeGrid(images, OutW, OutH)
      .select(col("doc_id"),
        col("meta.width").as("out_w"), col("meta.height").as("out_h"),
        array_min(col("grid")).as("rmin"), array_max(col("grid")).as("rmax"),
        rnd(aggregate(col("grid"), lit(0L), (a, v) => a + v).cast("double")
          / (OutW * OutH), 4).as("rmean"))
      .orderBy(col("doc_id"))
  }

  val q90Sql: String = {
    val h = hash60Sql("doc_id::VARCHAR")
    val n = OutW * OutH
    val src =
      s"""list_transform(generate_series(0, ${n - 1}), k ->
         |      CAST((floor(floor(k::DOUBLE / $OutW) * height / $OutH) * width
         |            + floor((k % $OutW)::DOUBLE * width / $OutW)) AS BIGINT)
         |        % strlen(text))""".stripMargin
    s"""WITH imgs AS (
       |  SELECT doc_id, text,
       |    64 + ($h) % 192 AS width, 64 + ($h) % 128 AS height
       |  FROM documents WHERE ($h) % 3 = 0 AND strlen(text) > 0),
       |grids AS (
       |  SELECT doc_id,
       |    list_transform($src, i -> ord(substr(text, CAST(i AS INT) + 1, 1))) AS grid
       |  FROM imgs)
       |SELECT doc_id, $OutW AS out_w, $OutH AS out_h,
       |  CAST(list_min(grid) AS INT) AS rmin, CAST(list_max(grid) AS INT) AS rmax,
       |  ${rndSql(s"list_reduce(list_prepend(0::BIGINT, grid), (a, v) -> a + v)::DOUBLE / $n", 4)} AS rmean
       |FROM grids ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // q91_frame_sample — the video half of the thumbnail pass: keep
  // every 2nd 16-byte "frame" of each video payload
  // (Multimodal.sampleFrames), report the retained frame count and
  // byte stats of the sampled payload. Map-side only; the oracle
  // rebuilds the kept-frame concatenation with DuckDB list slicing.
  // ---------------------------------------------------------------
  final val FrameBytes = 16
  final val FrameStride = 2

  def q91(spark: SparkSession, dir: String): DataFrame = {
    val videos = Multimodal.mediaTable(spark, dir)
      .where(col("meta.kind") === "video")
    Multimodal.sampleFrames(videos, FrameBytes, FrameStride)
      .select(col("doc_id"),
        col("meta.n_frames").as("kept_frames"),
        length(col("payload")).as("kept_bytes"),
        graft.functions.BinKernels.byteStatsCol(col("payload"))
          .getField("bmean").as("raw_mean"))
      .select(col("doc_id"), col("kept_frames"), col("kept_bytes"),
        rnd(col("raw_mean"), 4).as("bmean"))
      .orderBy(col("doc_id"))
  }

  val q91Sql: String = {
    val h = hash60Sql("doc_id::VARCHAR")
    // kept payload = concat of every FrameStride-th FrameBytes window
    val keptIdx = s"list_transform(generate_series(0, " +
      s"CAST(ceil(strlen(text)::DOUBLE / $FrameBytes) AS BIGINT) - 1, $FrameStride), i -> i)"
    val keptText = s"list_reduce(list_prepend('', " +
      s"list_transform($keptIdx, i -> substr(text, CAST(i * $FrameBytes AS INT) + 1, $FrameBytes))), " +
      s"(a, x) -> a || x)"
    val mean = graft.functions.BinKernels.byteStatsSql("b")._3
    s"""WITH vids AS (
       |  SELECT doc_id, text FROM documents WHERE ($h) % 3 = 2),
       |kept AS (
       |  SELECT doc_id, CAST(len($keptIdx) AS INT) AS kept_frames,
       |    $keptText AS ktext
       |  FROM vids)
       |SELECT doc_id, kept_frames,
       |  CAST(strlen(ktext) AS INT) AS kept_bytes,
       |  ${rndSql(mean, 4)} AS bmean
       |FROM (SELECT doc_id, kept_frames, ktext,
       |        list_transform(generate_series(1, strlen(ktext)),
       |          i -> ord(substr(ktext, i, 1))) AS b
       |      FROM kept)
       |ORDER BY doc_id""".stripMargin
  }

  def declared: Seq[Query] = Seq(
    Query("q46_multimodal_meta", q46, q46Sql),
    Query("q47_multimodal_features", q47, q47Sql),
    Query("q90_resize_grid", q90, q90Sql),
    Query("q91_frame_sample", q91, q91Sql))
}
