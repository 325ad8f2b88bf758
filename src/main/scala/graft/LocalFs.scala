package graft

import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermission}

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local file system over `LocalFs.Raw`, installed
  * as the `file:` file system by every session builder
  * (`Sessions.LocalFsConf`). Files and modes are exactly the stock
  * `LocalFileSystem`'s.
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  /** `RawLocalFileSystem` that sets mode bits through java.nio. Without
    * the native Hadoop library the stock class starts a `chmod` process
    * for every file it creates, every directory it makes and every
    * explicit `setPermission` (`create` and `mkdirs` both end in
    * `setPermission`); a parquet write makes several of each per task.
    * Only a sticky bit (which java.nio cannot set) and a file system with
    * no POSIX view take the stock path.
    */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val view = Files.getFileAttributeView(pathToFile(p).toPath,
                                            classOf[PosixFileAttributeView])
      if (permission.getStickyBit || view == null)
        super.setPermission(p, permission)
      else view.setPermissions(posix(permission.toShort))
    }
  }

  /** The rwx bits of `mode` (owner, group, others) as java.nio sets them. */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    // values() runs OWNER_READ … OTHERS_EXECUTE, i.e. bits 8 … 0
    PosixFilePermission.values().zipWithIndex.foreach { case (b, i) =>
      if ((mode & (1 << (8 - i))) != 0) set.add(b)
    }
    set
  }
}
