package graft.stream

import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** Hadoop's checksummed local file system, except that it sets the
  * permission bits of the files and directories it creates with
  * `java.nio` instead of a `chmod` process.  Without the Hadoop native
  * library, `RawLocalFileSystem.setPermission` forks `chmod` for every
  * file it creates, `.crc` sidecars included — thousands of launches
  * per `stream` benchmark run (SCALING.md "Checkpoint I/O").
  * The mode bits and the `.crc` sidecars are the same as Hadoop's own
  * `LocalFileSystem` writes (NioLocalFileSystemSpec).
  *
  * [[JobRunner.checkpointManagerFor]] installs it as `fs.file.impl` for
  * stream queries on local paths. */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  private val PosixView = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")
  /** rwxrwxrwx; anything above is setuid, setgid or sticky */
  private val RwxBits = 0x1ff

  /** The nine rwx bits of `mode` as `java.nio` permissions.
    * `PosixFilePermission` declares them owner-read first, so ordinal
    * i is bit 8 − i. */
  def posixPermissions(mode: Int): java.util.Set[PosixFilePermission] = {
    val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach { p =>
      if ((mode & (0x100 >> p.ordinal)) != 0) perms.add(p)
    }
    perms
  }

  /** Overrides only `setPermission`.  Hadoop's own path stays for what
    * `java.nio` cannot do or need not: a loaded native library (no
    * fork to save), setuid/setgid/sticky bits, and a default file
    * system without the `posix` attribute view. */
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if (NativeIO.isAvailable || (mode & ~RwxBits) != 0 || !PosixView)
        super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, posixPermissions(mode))
    }
  }
}
