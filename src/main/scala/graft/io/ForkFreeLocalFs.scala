package graft.io

import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermission}
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem of every graft session ([[graft.GraftSession]]
  * names it as `fs.file.impl`): Hadoop's checksummed `LocalFileSystem`
  * over [[ForkFreeRawLocalFs]]. `.crc` files and every other local
  * behaviour stay stock.
  */
class ForkFreeLocalFs extends LocalFileSystem(new ForkFreeRawLocalFs)

/** `RawLocalFileSystem` whose `setPermission` is a `chmod(2)` through
  * `java.nio` instead of a forked `chmod` process. Without libhadoop the
  * stock path forks once per call, and checkpoint, state-store and
  * output writes call it twice per file (data and `.crc`). A sticky bit
  * (no POSIX permission names it) or a filesystem without a POSIX view
  * takes the stock path.
  */
class ForkFreeRawLocalFs extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    val view = Files.getFileAttributeView(file, classOf[PosixFileAttributeView])
    if (permission.getStickyBit || view == null) super.setPermission(p, permission)
    else view.setPermissions(posix(permission.toShort))
  }

  /** The nine rwx bits of `mode` as POSIX permissions; the enum runs
    * OWNER_READ … OTHERS_EXECUTE, i.e. from bit 8 down to bit 0. Read
    * from the bits, not `FsPermission.toString`: an `FsCreateModes`
    * prints its masked and unmasked modes together. */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
      if ((mode & (1 << (8 - i))) != 0) set.add(perm)
    }
    set
  }
}
