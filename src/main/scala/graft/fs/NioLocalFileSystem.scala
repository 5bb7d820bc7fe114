package graft.fs

import java.net.URI
import java.nio.file.{Files, attribute}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file:` filesystem without its subprocesses. When libhadoop
  * (NativeIO) is not loaded, `RawLocalFileSystem` forks `chmod` for every
  * create and mkdir, and `readlink` for every `getFileLinkStatus` — which
  * `FileContext.rename` calls on both ends. A streaming query's offset,
  * commit and metadata logs and its state-store files paid about 80
  * `readlink` and 30 `chmod` forks per query. This class does both
  * through `java.nio`, and hands anything it cannot express to Hadoop's
  * own path, so every result is the stock one.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** The nine rwx bits through `Files.setPosixFilePermissions`; sticky or
    * setuid bits go to Hadoop's `chmod`.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort & 0xffff
    if ((bits & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      // PosixFilePermission lists owner r/w/x, group r/w/x, others r/w/x:
      // the i-th value is bit 8 - i of the mode
      val perms = java.util.EnumSet.noneOf(classOf[attribute.PosixFilePermission])
      attribute.PosixFilePermission.values().zipWithIndex.foreach { case (v, i) =>
        if ((bits & (0x100 >> i)) != 0) perms.add(v)
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    }
  }

  /** Hadoop's path reads the link target with `readlink` and, for a
    * non-link (an empty target), returns `getFileStatus`. Only a real
    * link, dangling ones included, still takes that path.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed `FileSystem` over [[NioRawLocalFileSystem]];
  * `.crc` files are written and checked as by `LocalFileSystem`.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The `AbstractFileSystem` twin of `org.apache.hadoop.fs.local.RawLocalFs`,
  * delegating to [[NioRawLocalFileSystem]]. `AbstractFileSystem.get`
  * constructs it reflectively from (URI, Configuration); like Hadoop's
  * `LocalFs` it always serves `file:///`.
  */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem,
      conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`, the `FileContext` API (streaming
  * checkpoints rename through it): `LocalFs` over [[NioRawLocalFs]].
  */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))
