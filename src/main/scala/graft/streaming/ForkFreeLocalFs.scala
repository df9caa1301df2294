package graft.streaming

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.{LocalConfigKeys, LocalFs}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's default `file:` [[org.apache.hadoop.fs.AbstractFileSystem]]
  * (`LocalFs` = `ChecksumFs` over `RawLocalFs`) with two calls that do not
  * start a process. Without libhadoop's native code, `RawLocalFileSystem`
  * forks `chmod` for every permission set and `readlink` for every
  * link-status check; one atomic checkpoint file (`FileContext.create`,
  * then the rename through `ChecksumFs`) costs 10 forks and ~45 ms, and a
  * stateful micro-batch writes several (WAL, commit log, one state delta
  * per shuffle partition).
  *
  *  - `setPermission` is `Files.setPosixFilePermissions` (falls back to the
  *    shell for a sticky bit or a non-POSIX filesystem);
  *  - `getFileLinkStatus` asks `Files.isSymbolicLink` first: a non-link
  *    is its `getFileStatus`, exactly what the shell path returns for it,
  *    and a real link takes the original path.
  *
  * Everything else is `LocalFs`: `ChecksumFs` still writes and verifies
  * the `.crc` sidecars, so checkpoints stay readable by either filesystem.
  * [[RunMode.streaming]] installs it as `fs.AbstractFileSystem.file.impl`. */
final class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeLocalFs.Raw(uri, conf))

object ForkFreeLocalFs {

  /** The Hadoop key naming the `file:` AbstractFileSystem, and its default. */
  val ConfKey = "fs.AbstractFileSystem.file.impl"
  val HadoopDefault: String = classOf[LocalFs].getName

  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** `RawLocalFileSystem` with the two fork-free calls. */
  private final class RawFs extends RawLocalFileSystem {
    override def setPermission(p: Path, perm: FsPermission): Unit =
      if (!posix || perm.getStickyBit) super.setPermission(p, perm)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
        perm.getUserAction.SYMBOL + perm.getGroupAction.SYMBOL + perm.getOtherAction.SYMBOL))

    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** `RawLocalFs` (its constructors are package-private) over [[RawFs]],
    * with its overrides; the symlink-target fix of `getFileLinkStatus` is
    * inherited from `DelegateToFileSystem`. */
  private final class Raw(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new RawFs, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
