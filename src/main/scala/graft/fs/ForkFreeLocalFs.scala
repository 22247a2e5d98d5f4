package graft.fs

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without its per-file process starts.
  *
  * Without `libhadoop`, stock `RawLocalFileSystem` forks `chmod` for every
  * create and mkdir (`setPermission`), and forks `readlink` for every
  * `getFileLinkStatus` — which `FileContext.rename` calls on source, target
  * and parent, so every streaming checkpoint and state-store commit pays it.
  * The `readlink` argument is the path's URI string (`file:/…`), so on
  * qualified paths the command fails and answers `""` anyway.
  *
  * This subclass answers both from `java.nio.file`, and defers to the stock
  * code wherever NIO cannot give the identical result: a sticky (or any
  * non-rwx) permission bit, a non-POSIX default filesystem, and a path that
  * really is a symlink. `src/main/resources/core-site.xml` binds the `file:`
  * scheme to the wrappers below, so every JVM with the engine on its
  * classpath uses them. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  import ForkFreeRawLocalFileSystem.posix

  override def setPermission(p: Path, permission: FsPermission): Unit =
    // 0x1ff = rwxrwxrwx; anything above it (the sticky bit) goes to chmod
    if (!posix || (permission.toShort & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
      permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
        permission.getOtherAction.SYMBOL))

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object ForkFreeRawLocalFileSystem {
  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")
}

/** `fs.file.impl`: the checksummed `LocalFileSystem` over the fork-free raw
  * filesystem (what `FileSystem.get(file:///)` and `FileSystem.getLocal`
  * return).
  *
  * Without this binding, service loading resolves `file:` on the Spark
  * classpath to Hive's `ProxyLocalFileSystem`, whose one change to
  * `LocalFileSystem` is that `rename` refuses to replace an existing file
  * (as HDFS does). `rename` keeps that rule, so callers see the same
  * answers as before. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean = {
    val dstIsFile =
      try getFileStatus(dst).isFile catch { case _: java.io.FileNotFoundException => false }
    !dstIsFile && super.rename(src, dst)
  }
}

/** `fs.AbstractFileSystem.file.impl`: the `FileContext` side, used by
  * streaming's checkpoint file manager. Same shape as stock `LocalFs`
  * (a `ChecksumFs` over a `RawLocalFs`), whose constructors are not
  * public, so the raw delegate repeats `RawLocalFs`'s four overrides. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))

class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
