package perfbench

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FsConstants, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system with `setPermission` made through java.nio.
  *
  * Without Hadoop's native library, `RawLocalFileSystem.setPermission` runs
  * a `chmod` process, and Hadoop calls it for every file and directory it
  * creates with a mode: thousands of process spawns a run, whose cost
  * follows the host's fork speed, not the engine. With the native library
  * Hadoop makes the same change by a chmod system call, which is what
  * java.nio does here. [[Main.session]] installs it for `file:` through
  * both Hadoop APIs: `FileSystem` (parquet writes) and `FileContext`
  * (streaming checkpoints).
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort
    val perms = PosixFilePermission.values().zipWithIndex.collect {
      case (perm, i) if ((mode >> (8 - i)) & 1) == 1 => perm
    }
    Files.setPosixFilePermissions(pathToFile(p).toPath, perms.toSet.asJava)
  }
}

/** `fs.file.impl`: the checksummed local file system over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: the `FileContext` counterpart. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))

class NioRawLocalFs(uri: URI, conf: Configuration) extends DelegateToFileSystem(
    uri, new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def isValidName(src: String): Boolean = true
}
