package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem (`file:`) without the per-file subprocesses.
  *
  * Without libhadoop (Spark's binary distributions ship none), Hadoop
  * 3.4's `RawLocalFileSystem` starts a `chmod` process in
  * `setPermission` — on every file create and mkdir — and
  * `FileUtil.readLink` starts a `readlink` process in
  * `getFileLinkStatus`, twice per FileContext rename. A streaming
  * checkpoint writes, renames and `.crc`-mirrors a handful of small
  * files per micro-batch per state partition, so those forks, not the
  * bytes, set the batch latency (~85 ms per RocksDB partition commit
  * for 3 changed rows; ~150 ms of offset-log and commit-log writes per
  * batch, measured on a 4-core host, `perfbench` stream workload).
  *
  * [[NoForkRawLocalFileSystem]] overrides exactly those two methods
  * with in-process equivalents; everything else — checksums, `.crc`
  * files, modes, rename atomicity — is the stock code.
  * [[NoForkLocalFileSystem]] (FileSystem API) and [[NoForkLocalFs]]
  * (FileContext API, which Spark's checkpoint file manager uses) are
  * the stock checksummed wrappers over it. [[Session.LocalFileSystemImpl]]
  * registers both for the `file:` scheme.
  */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {

  /** The stock method's mode bits, set with one `chmod(2)` instead of a
    * `chmod` process. The sticky bit (no NIO equivalent) and non-POSIX
    * filesystems keep the stock path.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val mode = permission.toShort
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // enum order is owner r/w/x, group r/w/x, others r/w/x: bit 8 - ordinal
      for (b <- PosixFilePermission.values if (mode & (1 << (8 - b.ordinal))) != 0)
        perms.add(b)
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }

  /** For anything but a symlink the stock method returns
    * `getFileStatus(f)` once its `readlink` process prints nothing, so
    * skip the process. Symlinks, dangling ones included, keep the stock
    * path (and its qualified link target).
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** Checksummed `file:` FileSystem over [[NoForkRawLocalFileSystem]]
  * (`fs.file.impl`): stock `LocalFileSystem`, other raw filesystem.
  */
class NoForkLocalFileSystem extends LocalFileSystem(new NoForkRawLocalFileSystem)

/** FileContext's raw `file:` filesystem over [[NoForkRawLocalFileSystem]]:
  * stock `RawLocalFs` (whose constructors are package-private), with its
  * four overrides repeated.
  */
class NoForkRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new NoForkRawLocalFileSystem,
      conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** Checksummed `file:` FileContext filesystem
  * (`fs.AbstractFileSystem.file.impl`): stock `LocalFs`, other raw
  * filesystem. Like `LocalFs`, it ignores the URI it is created for.
  */
class NoForkLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NoForkRawLocalFs(conf))
