package graft.core

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file:` filesystem without a process per file. Without the
  * native libhadoop, `RawLocalFileSystem.setPermission` runs `chmod` for
  * every file and directory it creates, and `getFileLinkStatus` runs
  * `readlink` — Spark's `FileContext` rename (offset/commit logs, the
  * HDFS-backed state store) asks for it several times per file. Here the
  * mode goes through `java.nio` and a path that is not a symlink is
  * answered by `getFileStatus`; sticky-bit modes and real symlinks keep
  * the stock code path. Bytes and `.crc` sidecars come from the unchanged
  * stock code; mode bits and link statuses match it (`LocalFsSpec`). */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.getUserAction.SYMBOL +
        permission.getGroupAction.SYMBOL + permission.getOtherAction.SYMBOL))

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed `FileSystem` over [[ForkFreeRawLocalFileSystem]]. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: the checksummed `FileContext`
  * filesystem over [[ForkFreeRawLocalFileSystem]], answering as Hadoop's
  * `local.RawLocalFs` does where that overrides its delegate. */
class ForkFreeLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(
  new DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path) = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  })
