package graft

import java.awt.image.BufferedImage
import java.io.File
import javax.imageio.ImageIO

import org.apache.spark.sql.functions._
import graft.io.Readers
import graft.queries.BinaryFiles

class BinaryFilesSpec extends SparkTestBase {

  test("q68: binaryFile byte stats equal the in-table kernel on the sampled docs") {
    val viaFiles = BinaryFiles.q68(spark, Sf)
    // ground truth straight from the parquet table through the same kernel
    val viaTable = graft.queries.Advanced.q45(spark, Sf)
      .filter(col("doc_id") % BinaryFiles.Stride === 0)
      .join(viaFiles.select("doc_id", "n_bytes"), "doc_id")
    assert(viaFiles.count() > 0)
    assert(viaTable.count() == viaFiles.count())
    val mismatch = viaFiles.alias("f")
      .join(viaTable.alias("t"), Seq("doc_id"))
      .filter(col("f.bmin") =!= col("t.bmin") || col("f.bmax") =!= col("t.bmax") ||
        col("f.bmean") =!= col("t.bmean") || col("f.bstd") =!= col("t.bstd"))
    assert(mismatch.count() == 0)
  }

  test("q69: metadata-only scan prunes the content column (scale property)") {
    val plan = BinaryFiles.q69(spark, Sf).queryExecution.executedPlan.toString
    val readSchema = plan.split('\n').find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.nonEmpty, s"no ReadSchema in plan:\n$plan")
    assert(!readSchema.contains("content"),
      s"metadata rollup must not read file content: $readSchema")
    val row = BinaryFiles.q69(spark, Sf).head()
    assert(row.getAs[Long]("n_files") > 0)
    assert(row.getAs[Long]("total_bytes") > row.getAs[Long]("max_bytes"))
  }

  /** Gradient PNGs (every pixel distinct per row) — constant images
    * would hide a BGR/RGB channel-order divergence between readers.
    */
  private lazy val gradientDir: String = {
    val base = new File(tempDir("imgparity"))
    val img = new BufferedImage(32, 24, BufferedImage.TYPE_3BYTE_BGR)
    for (x <- 0 until 32; y <- 0 until 24)
      img.setRGB(x, y, ((x * 8) << 16) | ((y * 10) << 8) | ((x + y) * 4))
    ImageIO.write(img, "png", new File(base, "grad.png"))
    java.nio.file.Files.write(new File(base, "bad.png").toPath,
      "not an image".getBytes)
    base.toString
  }

  test("imagesBinary decodes byte-for-byte like the built-in image source") {
    val builtin = Readers.images(spark, gradientDir, 0)
      .select("image.origin", "image.height", "image.width",
        "image.nChannels", "image.mode", "image.data").head()
    val viaBinary = Readers.imagesBinary(spark, gradientDir, 0)
      .select("image.origin", "image.height", "image.width",
        "image.nChannels", "image.mode", "image.data").head()
    assert(viaBinary.getAs[Int]("height") == builtin.getAs[Int]("height"))
    assert(viaBinary.getAs[Int]("width") == builtin.getAs[Int]("width"))
    assert(viaBinary.getAs[Int]("nChannels") == builtin.getAs[Int]("nChannels"))
    assert(viaBinary.getAs[Int]("mode") == builtin.getAs[Int]("mode"))
    assert(java.util.Arrays.equals(
      viaBinary.getAs[Array[Byte]]("data"), builtin.getAs[Array[Byte]]("data")),
      "decoded pixel bytes must match the built-in image source")
    assert(viaBinary.getAs[String]("origin") == builtin.getAs[String]("origin"))
  }

  test("imagesBinary drops undecodable files (dropInvalid analogue)") {
    assert(Readers.imagesBinary(spark, gradientDir, 3).count() == 1)
    val labels = Readers.imagesBinary(spark, gradientDir, 3)
      .select("label").distinct().collect()
    assert(labels.map(_.getInt(0)).toSeq == Seq(3))
  }

  test("q151: real PNG decode reproduces the closed-form pixel stats") {
    val rows = BinaryFiles.q151(spark, Sf).collect()
    val nDocs = graft.sources.Tables.documents(spark, Sf).count()
    assert(rows.length == math.min(BinaryFiles.PngCount.toLong, nDocs),
      "every generated PNG must decode (no dropInvalid losses)")
    // recompute one image's stats from the generation formula — a
    // lossy or gamma-shifted PNG roundtrip would fail equality
    rows.take(3).foreach { r =>
      val s = (r.getAs[Long]("doc_id") % 256).toInt
      val side = BinaryFiles.PngSide
      val vs = for (y <- 0 until side; x <- 0 until side)
        yield (x + y + s) % 256
      assert(r.getAs[Int]("height") == side && r.getAs[Int]("width") == side)
      assert(r.getAs[Int]("n_channels") == 1)
      assert(r.getAs[Int]("bmin") == vs.min && r.getAs[Int]("bmax") == vs.max)
      assert(r.getAs[Double]("bmean") ==
        vs.map(_.toLong).sum.toDouble / (side * side))
    }
  }
}
