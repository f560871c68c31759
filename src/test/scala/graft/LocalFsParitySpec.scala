package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import graft.io.{ForkFreeLocalFs, ForkFreeRawLocalFs}

/** [[ForkFreeRawLocalFs]] sets the permissions the stock forked `chmod`
  * sets, and a graft session really uses it: Hadoop caches one `file:`
  * filesystem per JVM and user, so a stock instance cached before the
  * session would silently bring the forks back.
  */
class LocalFsParitySpec extends SparkTestBase {

  private def octal(s: String): Int = Integer.parseInt(s, 8)
  private val Modes = Seq("600", "640", "644", "700", "755", "777").map(octal)

  /** Permission and special bits, without the file-type bits. */
  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & octal("7777")

  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration(false))
    fs
  }

  private def withDir[A](body: JPath => A): A =
    body(java.nio.file.Paths.get(tempDir("local-fs-parity")))

  /** The forked `chmod`s among `starts` (Hadoop's first shell command
    * also forks a `setsid` probe, and other threads may fork too). */
  private def chmods(starts: Seq[jdk.jfr.consumer.RecordedEvent]) =
    starts.filter(_.getString("command").startsWith("chmod "))

  private def hadoop(p: JPath): Path = new Path(p.toUri)

  private def fresh(dir: JPath, name: String, isDir: Boolean): JPath =
    if (isDir) Files.createDirectory(dir.resolve(name)) else Files.createFile(dir.resolve(name))

  test("fork-free setPermission leaves the stock chmod's permissions on files and directories") {
    withDir { dir =>
      val forkFree = raw(new ForkFreeRawLocalFs)
      val stock = raw(new RawLocalFileSystem)
      val cases = for (mode <- Modes; isDir <- Seq(false, true)) yield {
        val tag = s"${if (isDir) "dir" else "file"}-${mode.toOctalString}"
        (mode, fresh(dir, s"ff-$tag", isDir), fresh(dir, s"stock-$tag", isDir))
      }
      val (_, forkFreeStarts) = ProcessStarts.during(cases.foreach { case (want, ff, _) =>
        forkFree.setPermission(hadoop(ff), new FsPermission(want.toShort))
      })
      val (_, stockStarts) = ProcessStarts.during(cases.foreach { case (want, _, st) =>
        stock.setPermission(hadoop(st), new FsPermission(want.toShort))
      })
      val hadoopStarts = forkFreeStarts.filter(ProcessStarts.from(_, "org.apache.hadoop."))
      assert(hadoopStarts.isEmpty, hadoopStarts.map(ProcessStarts.describe).mkString("\n"))
      assert(chmods(stockStarts).size == cases.size)
      cases.foreach { case (want, ff, st) =>
        assert(Files.getPosixFilePermissions(ff) == Files.getPosixFilePermissions(st), s"$ff vs $st")
        assert(mode(ff) == want, ff.toString)
      }
    }
  }

  test("a sticky-bit mode takes the stock chmod path") {
    withDir { dir =>
      val target = fresh(dir, "sticky", isDir = true)
      val sticky = octal("1777")
      val (_, starts) = ProcessStarts.during(
        raw(new ForkFreeRawLocalFs).setPermission(hadoop(target), new FsPermission(sticky.toShort)))
      assert(chmods(starts).size == 1)
      assert(mode(target) == sticky)
    }
  }

  test("a graft session's local filesystem and checkpoint manager are the fork-free ones") {
    withDir { dir =>
      val conf = castToImpl(spark).sessionState.newHadoopConf()
      val local = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      assert(local.isInstanceOf[ForkFreeLocalFs])
      assert(local.getRawFileSystem.isInstanceOf[ForkFreeRawLocalFs])
      assert(hadoop(dir).getFileSystem(conf).isInstanceOf[ForkFreeLocalFs])
      assert(CheckpointFileManager.create(hadoop(dir), conf)
        .isInstanceOf[FileSystemBasedCheckpointFileManager])
    }
  }
}
