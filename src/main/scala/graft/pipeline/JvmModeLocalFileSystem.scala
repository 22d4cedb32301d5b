package graft.pipeline

import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermissions}

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file://` file system [[ParquetFormat]] writes through: Hadoop's
  * checksummed `LocalFileSystem` (`.crc` sidecars written and verified as
  * usual) over a raw file system that sets modes in the JVM.
  *
  * Without libhadoop (Spark ships without it) `RawLocalFileSystem.setPermission`
  * forks a `chmod` process for every directory, data file and `.crc`
  * sidecar a write creates, and the write tasks wait on those forks.
  */
class JvmModeLocalFileSystem extends LocalFileSystem(new JvmModeLocalFileSystem.Raw)

object JvmModeLocalFileSystem {

  /** `setPermission` through `Files.setPosixFilePermissions`, same rwx
    * bits. Two cases keep Hadoop's own path so no bit is lost: a sticky
    * bit (no POSIX file permission carries it) and a file system with no
    * POSIX attribute view.
    */
  private[pipeline] final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val file = pathToFile(p).toPath
      if (permission.getStickyBit ||
          Files.getFileAttributeView(file, classOf[PosixFileAttributeView]) == null)
        super.setPermission(p, permission)
      else Files.setPosixFilePermissions(file, PosixFilePermissions.fromString(
        permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
          permission.getOtherAction.SYMBOL))
    }
  }
}
