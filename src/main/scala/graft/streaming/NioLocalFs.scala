package graft.streaming

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` AbstractFileSystem of the replay rig ([[Replay]]): Hadoop's
  * LocalFs stack — ChecksumFs over a DelegateToFileSystem over a
  * RawLocalFileSystem — minus its process spawns.
  *
  * Without libhadoop (`NativeCodeLoader.isNativeCodeLoaded` false, as in
  * a plain Spark distribution) RawLocalFileSystem shells out twice on
  * the checkpoint path: `chmod` for every file and directory it creates
  * (setPermission), and `readlink` for every link check FileContext's
  * rename makes (getFileLinkStatus): about 440 children per 4-batch
  * replay. Here those two methods run in-process through java.nio;
  * everything else is Hadoop's own: FileContext's atomic rename
  * (no-overwrite throws FileAlreadyExistsException), the `.crc`
  * sidecars, and Spark's checkpoint-file checksums on top. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioLocalFs.Raw(uri, conf))

object NioLocalFs {

  /** RawLocalFs's shape: the raw local FileSystem as an
    * AbstractFileSystem. Like RawLocalFs it leaves name validation to
    * the OS (AbstractFileSystem would reject a ':' in a path part). */
  private class Raw(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
        "file", false) {
    override def isValidName(src: String): Boolean = true
  }

  // PosixFilePermission's declaration order is rwx for owner, group,
  // others: ordinal i is mode bit 8 - i
  private val ModeBits = PosixFilePermission.values.toSeq.zipWithIndex

  private class NioRawLocalFileSystem extends RawLocalFileSystem {
    /** chmod without a child process. The sticky bit has no java.nio
      * form, so that (rare) mode keeps Hadoop's shell path. */
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else {
        val mode = permission.toShort
        val perms = new java.util.HashSet[PosixFilePermission]()
        ModeBits.foreach { case (perm, i) =>
          if ((mode & (1 << (8 - i))) != 0) perms.add(perm)
        }
        Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      }

    /** A path that is not a symlink has the status of the path itself —
      * what Hadoop returns once `readlink` prints nothing. Symlinks (the
      * rig never makes one) keep Hadoop's own answer. */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }
}
