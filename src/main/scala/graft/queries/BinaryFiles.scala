package graft.queries

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.BinKernels
import graft.functions.TextFns.{rnd, rndSql}
import graft.sources.Tables

/** `binaryFile`-source queries — the scale path for opaque media
  * ingestion (SURVEY.md §7.4 risk 4). The corpus is the `documents`
  * table materialised as one small binary file per sampled doc
  * (content = the utf-8 text bytes), so the DuckDB oracle can
  * recompute every answer from the parquet table while Spark goes
  * through the real file source: distributed listing, per-file rows,
  * content column pruning.
  *
  * Scale notes: the binaryFile source splits listing across the
  * driver/executors and never decodes — q69 shows a metadata rollup
  * whose scan prunes `content` entirely (plan-asserted in
  * BinaryFilesSpec); q68 runs the fused byte-stats kernel inside the
  * projection, so payload bytes flow scan→kernel with no shuffle.
  */
object BinaryFiles {

  /** Every Stride-th doc is materialised (bounds file count at bench
    * scale while keeping an oracle-expressible predicate).
    */
  final val Stride = 5

  /** Materialise the sampled corpus once per sf dir, executor-side
    * (foreachPartition — at scale this is exactly how a corpus lands
    * on shared storage: each task writes its partition's files; no
    * driver collect). A marker file makes re-runs and concurrent
    * sessions reuse the existing corpus.
    *
    * LOCAL-MODE ASSUMPTION: `java.io.tmpdir` stands in for the shared
    * filesystem. Tasks write executor-side and the driver writes the
    * marker/reads the scan by the same path — coherent only when
    * driver and executors share the filesystem (local mode). On a
    * cluster, point `target` at shared storage (the real deployment
    * shape); nothing else changes.
    */
  def corpusDir(spark: SparkSession, dir: String): String =
    graft.CacheRegistry.memo(spark, ("binaryfiles.corpus", dir)) {
      val target = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"),
        "graft_binfiles_" + java.lang.Integer.toHexString(dir.hashCode))
      val marker = target.resolve("_GRAFT_READY")
      if (!java.nio.file.Files.exists(marker)) {
        java.nio.file.Files.createDirectories(target)
        val t = target.toString
        Tables.documents(spark, dir)
          .filter(col("doc_id") % Stride === 0)
          .select(col("doc_id").cast("long"), col("text"))
          .foreachPartition { rows: Iterator[Row] =>
            rows.foreach { r =>
              java.nio.file.Files.write(
                java.nio.file.Paths.get(t, f"doc_${r.getLong(0)}%06d.bin"),
                r.getString(1).getBytes(StandardCharsets.UTF_8))
            }
          }
        java.nio.file.Files.write(marker, Array.emptyByteArray)
      }
      target.toString
    }

  private def scan(spark: SparkSession, dir: String): DataFrame =
    spark.read
      .format("binaryFile")
      .option("pathGlobFilter", "*.bin")
      .load(corpusDir(spark, dir))

  // ---------------------------------------------------------------
  // q68_binaryfile_stats — file-id parse + fused single-pass byte
  // stats over each file's content. The decode-ish work happens in
  // the projection (StaticInvoke kernel, inside codegen), not in the
  // source — the property that lets metadata-only queries skip it.
  // ---------------------------------------------------------------
  def q68(spark: SparkSession, dir: String): DataFrame =
    scan(spark, dir)
      .select(
        regexp_extract(col("path"), "doc_(\\d+)\\.bin$", 1).cast("long")
          .as("doc_id"),
        col("length").as("n_bytes"),
        BinKernels.byteStatsCol(col("content")).as("s"))
      .select(col("doc_id"), col("n_bytes"),
        col("s.bmin").as("bmin"), col("s.bmax").as("bmax"),
        rnd(col("s.bmean"), 4).as("bmean"), rnd(col("s.bstd"), 4).as("bstd"))
      .orderBy(col("doc_id"))

  val q68Sql: String = {
    val bytes = "list_transform(generate_series(1, length(text)), i -> ord(substr(text, i, 1)))"
    val (mn, mx, mean, std) = BinKernels.byteStatsSql("b")
    s"""SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
       |  $mn AS bmin, $mx AS bmax,
       |  ${rndSql(mean, 4)} AS bmean, ${rndSql(std, 4)} AS bstd
       |FROM (SELECT doc_id, text, $bytes AS b FROM documents
       |      WHERE doc_id % $Stride = 0)
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // q69_binaryfile_meta — metadata-only rollup: count and size
  // profile straight from file status. The scan's ReadSchema carries
  // path+length only — content (the 99.9% of bytes at 100 TB) is
  // never read (BinaryFilesSpec asserts it).
  // ---------------------------------------------------------------
  def q69(spark: SparkSession, dir: String): DataFrame =
    scan(spark, dir)
      .agg(count(lit(1)).as("n_files"),
        sum(col("length")).as("total_bytes"),
        min(col("length")).as("min_bytes"),
        max(col("length")).as("max_bytes"))

  val q69Sql: String =
    s"""SELECT COUNT(*) AS n_files,
       |  CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes,
       |  CAST(MIN(strlen(text)) AS BIGINT) AS min_bytes,
       |  CAST(MAX(strlen(text)) AS BIGINT) AS max_bytes
       |FROM documents WHERE doc_id % $Stride = 0""".stripMargin

  // ---------------------------------------------------------------
  // q151_image_decode — the REAL ImageIO decode path, oracled. The
  // multimodal family's other oracled queries decode via the
  // md5-deterministic stub (so DuckDB can replay pixel bytes); this
  // one decodes REAL PNG files (DEFLATE + filter reconstruction
  // through the JDK codec) and stays hash-checkable because the
  // pixels are a closed-form pattern the oracle recomputes:
  // pixel(x, y) = (x + y + doc_id % 256) % 256, 96x96 grayscale.
  //
  // Scale shape: binaryFile scan → decode + fused byte-stats kernel
  // inside the projection (both StaticInvoke, whole-stage codegen) —
  // bytes flow scan→decode→stats with no shuffle; the only exchange
  // is the final 384-row order. At 100 TB the same plan runs over
  // the real image corpus with the decode cost spread over every
  // scan task. Fixture PNGs are written executor-side once per sf
  // dir (bench setup phase), like [[corpusDir]].
  // ---------------------------------------------------------------
  final val PngCount = 384
  final val PngSide = 96

  /** Fixture PNGs, written executor-side once per sf dir. Same
    * LOCAL-MODE ASSUMPTION as [[corpusDir]]: `java.io.tmpdir` stands
    * in for shared storage — on a multi-node cluster the target must
    * be a shared filesystem path or the driver-side binaryFile scan
    * would miss executor-written files while the marker claims
    * readiness.
    */
  def pngDir(spark: SparkSession, dir: String): String =
    graft.CacheRegistry.memo(spark, ("binaryfiles.png", dir)) {
      val target = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"),
        "graft_png_" + java.lang.Integer.toHexString(dir.hashCode))
      val marker = target.resolve("_GRAFT_READY")
      if (!java.nio.file.Files.exists(marker)) {
        java.nio.file.Files.createDirectories(target)
        val t = target.toString
        val side = PngSide
        Tables.documents(spark, dir)
          .select(col("doc_id").cast("long").as("doc_id"))
          .orderBy(col("doc_id")).limit(PngCount)
          .repartition(8)
          .foreachPartition { rows: Iterator[Row] =>
            rows.foreach { r =>
              val id = r.getLong(0)
              val s = (id % 256).toInt
              val img = new java.awt.image.BufferedImage(
                side, side, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
              val raster = img.getRaster
              var y = 0
              while (y < side) {
                var x = 0
                while (x < side) {
                  raster.setSample(x, y, 0, (x + y + s) % 256)
                  x += 1
                }
                y += 1
              }
              javax.imageio.ImageIO.write(img, "png",
                java.nio.file.Paths.get(t, s"d$id.png").toFile)
            }
          }
        java.nio.file.Files.write(marker, Array.emptyByteArray)
      }
      target.toString
    }

  def q151(spark: SparkSession, dir: String): DataFrame = {
    val pngs = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.png").load(pngDir(spark, dir))
    pngs
      .select(
        regexp_extract(col("path"), "d(\\d+)\\.png$", 1).cast("long")
          .as("doc_id"),
        graft.functions.ImgKernels.decodeImage(col("path"), col("content"))
          .as("image"))
      .where(col("image").isNotNull)
      .select(col("doc_id"),
        col("image.height").as("height"), col("image.width").as("width"),
        col("image.nChannels").as("n_channels"),
        BinKernels.byteStatsCol(col("image.data")).as("s"))
      .select(col("doc_id"), col("height"), col("width"), col("n_channels"),
        col("s.bmin").as("bmin"), col("s.bmax").as("bmax"),
        col("s.bmean").as("bmean"), col("s.bstd").as("bstd"))
      .orderBy(col("doc_id"))
  }

  /** The oracle recomputes the closed-form pixel pattern; the double
    * sequence (s1/n, mean*mean, s2/n − msq, sqrt) mirrors
    * [[BinKernels.byteStats]] operation-for-operation, and both
    * divisions are by 96·96 = 9216 — so the comparison is exact
    * without rounding.
    */
  val q151Sql: String = {
    val n = PngSide * PngSide
    s"""WITH ids AS (
       |  SELECT doc_id, CAST(doc_id % 256 AS INT) AS s
       |  FROM documents ORDER BY doc_id LIMIT $PngCount),
       |px AS (
       |  SELECT doc_id, CAST((gx.x + gy.y + s) % 256 AS BIGINT) AS v
       |  FROM ids, generate_series(0, ${PngSide - 1}) gx(x),
       |       generate_series(0, ${PngSide - 1}) gy(y)),
       |a AS (
       |  SELECT doc_id, MIN(v) AS mn, MAX(v) AS mx,
       |    SUM(v)::DOUBLE AS s1, SUM(v * v)::DOUBLE AS s2
       |  FROM px GROUP BY doc_id),
       |m AS (
       |  SELECT doc_id, mn, mx, s1 / $n AS bmean, s2 / $n AS ms2 FROM a)
       |SELECT doc_id, $PngSide AS height, $PngSide AS width,
       |  1 AS n_channels, mn::INT AS bmin, mx::INT AS bmax,
       |  bmean, sqrt(ms2 - bmean * bmean) AS bstd
       |FROM m ORDER BY doc_id""".stripMargin
  }

  def declared: Seq[Query] = Seq(
    Query("q68_binaryfile_stats", q68, q68Sql),
    Query("q69_binaryfile_meta", q69, q69Sql),
    Query("q151_image_decode", q151, q151Sql))
}
