package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for specs — one lazy session per suite. */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  final val Sf = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = GraftSession.builder("graft-test", "4").getOrCreate()

  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()

  /** A fresh directory under the system temp directory, named
    * `prefix…`. It is deleted, with everything written under it, when
    * the suite ends.
    */
  def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    tempDirs.add(d)
    d.getPath
  }

  override protected def afterAll(): Unit =
    try tempDirs.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d))
    finally super.afterAll()
}
