package graft

import java.awt.image.BufferedImage
import java.io.File
import java.nio.file.Files
import javax.imageio.ImageIO
import graft.jobs.RadiographyAnalysis.classNames

/** Inputs and output readers shared by the ETL job specs. */
object JobFixtures {

  /** A 299×299 (or `size`-square) constant-value RGB PNG. */
  def writePng(f: File, value: Int, size: Int = 299): Unit = {
    val img = new BufferedImage(size, size, BufferedImage.TYPE_3BYTE_BGR)
    val rgb = (value << 16) | (value << 8) | value
    for (x <- 0 until size; y <- 0 until size) img.setRGB(x, y, rgb)
    ImageIO.write(img, "png", f)
  }

  /** Deterministic radiography input written into the empty directory
    * `dir`, which is returned: 12 constant PNGs per class, plus one
    * off-size image (must be filtered) and one corrupt file (must be
    * dropped by dropInvalid).
    */
  def radiographyImages(dir: String): String = {
    val base = new File(dir)
    classNames.zipWithIndex.foreach { case (name, k) =>
      val dir = new File(base, name); dir.mkdirs()
      (0 until 12).foreach(i => writePng(new File(dir, s"img_$i.png"), k * 60 + i))
    }
    writePng(new File(base, s"${classNames.head}/offsize.png"), 10, size = 100)
    Files.write(new File(base, s"${classNames.head}/corrupt.png").toPath, "not a png".getBytes)
    base.toString
  }

  /** Runs a job twice, each time into a new directory from `freshDir`
    * (evaluated once per run); returns both.
    */
  def runTwice(freshDir: => String)(run: String => Unit): (String, String) = {
    def once(): String = {
      val out = freshDir
      run(out)
      out
    }
    val a = once()
    (a, once())
  }

  /** Names of the directories a job wrote under `outDir`. */
  def outputDirs(outDir: String): Set[String] =
    new File(outDir).listFiles().filter(_.isDirectory).map(_.getName).toSet

  /** Contents of each output directory's JSON part files, keyed by
    * directory name (part file names carry a per-write UUID, so only
    * contents are comparable across runs).
    */
  def jsonParts(outDir: String): Map[String, Seq[Seq[Byte]]] =
    new File(outDir).listFiles().filter(_.isDirectory).map { d =>
      d.getName -> d.listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".json"))
        .sortBy(_.getName)
        .map(f => Files.readAllBytes(f.toPath).toSeq).toSeq
    }.filter(_._2.nonEmpty).toMap

  /** Output directories whose part files differ between two runs. */
  def differingOutputs(a: String, b: String): Set[String] = {
    val (pa, pb) = (jsonParts(a), jsonParts(b))
    (pa.keySet ++ pb.keySet).filter(k => pa.get(k) != pb.get(k))
  }
}
