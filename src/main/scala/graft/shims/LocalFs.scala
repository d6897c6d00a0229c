package graft.shims

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system without its shell-outs. With no libhadoop
  * on the host, `RawLocalFileSystem` forks `chmod` for every file and
  * directory it creates, and FileContext's rename forks `readlink` for
  * both ends, file and `.crc` (4 forks per checkpoint file). Hadoop
  * passes `readlink` the qualified `file:/…` string, so that command
  * fails and Hadoop treats the path as no symlink: the forks buy nothing.
  * This class applies plain rwx modes through NIO and asks NIO whether a
  * path is a symlink; sticky bits, non-POSIX file systems and real
  * symlinks still take Hadoop's own path. Files, modes, `.crc` files and
  * rename semantics are Hadoop's.
  *
  * `GraftSession` registers the two wrappers below for the `file:`
  * scheme. Hadoop caches `FileSystem` instances by scheme and user, not
  * by conf, so a `file:` FileSystem created in this JVM before a graft
  * session keeps Hadoop's class; FileContext (the streaming checkpoint
  * path) is not cached and always gets this one. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // values() runs OWNER_READ … OTHERS_EXECUTE: bit 8 down to bit 0
      for ((b, i) <- PosixFilePermission.values.zipWithIndex if (mode & (0x100 >> i)) != 0)
        perms.add(b)
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }

  /** What Hadoop returns when its `readlink` yields "": the file's status. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed FileSystem over the raw layer above. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: Hadoop's `LocalFs` over the raw layer. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))

/** Hadoop's `RawLocalFs` (whose constructor is package-private) with its
  * overrides copied, delegating to [[NioRawLocalFileSystem]]. */
class NioRawLocalFs(uri: URI, conf: Configuration) extends DelegateToFileSystem(
    uri, new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1 // file:/// has no port
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
