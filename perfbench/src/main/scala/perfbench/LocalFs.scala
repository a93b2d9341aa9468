package perfbench

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system without a child process per call.
  *
  * Without Hadoop's native library, `RawLocalFileSystem` forks
  * `chmod` for every file and directory that a write creates (about
  * 300 per `buildWarehouse` at sf0.01), and `readlink` for every
  * rename made through `FileContext`, which is how streaming
  * checkpoints are committed (with the `chmod`s, about 80 child
  * processes per stream query at sf0.01). Those processes cost the
  * stream queries about a fifth of their time on 4 cores, and what a
  * fork costs depends on the host's scheduler, not on the program.
  * These two calls do the same here in-process, so
  * every write keeps its files, checksums and permission calls and
  * only the child processes go. Runner.session installs the classes
  * below for the `file` scheme.
  */
final class RawLocalFsInProcess extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort
    val set = EnumSet.noneOf(classOf[PosixFilePermission])
    // values() runs OWNER_READ (0400) down to OTHERS_EXECUTE (0001)
    PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
      if ((bits & (1 << (8 - i))) != 0) set.add(perm)
    }
    Files.setPosixFilePermissions(pathToFile(p).toPath, set)
  }

  /** The inherited call runs `readlink` on the path's string form; for
    * a path that is not a link the answer is always its plain status. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed local file system (the default
  * class) over [[RawLocalFsInProcess]]. */
final class LocalFsInProcess extends LocalFileSystem(new RawLocalFsInProcess)

/** `FileContext`'s raw local file system (Hadoop's `RawLocalFs`, whose
  * constructor is not public) over [[RawLocalFsInProcess]]. */
final class RawLocalAfsInProcess(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new RawLocalFsInProcess, conf, uri.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: the checksummed view over
  * [[RawLocalAfsInProcess]], as Hadoop's `LocalFs` is over `RawLocalFs`. */
final class LocalAfsInProcess(uri: URI, conf: Configuration)
    extends ChecksumFs(new RawLocalAfsInProcess(uri, conf))
