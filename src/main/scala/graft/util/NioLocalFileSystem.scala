package graft.util

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** Hadoop's local file system without a process per file.
  *
  * Without libhadoop (`NativeIO` unavailable), `RawLocalFileSystem` runs
  * `chmod` in a child process for every file it creates and every
  * directory it makes, and `readlink` for every link-status lookup
  * (FileContext resolves each path through one). This subclass sets the
  * same rwx bits through `java.nio`, and answers a non-link's link status
  * with its file status, which is what Hadoop returns for one. Anything
  * the NIO call cannot reproduce exactly goes to Hadoop: a sticky bit
  * requested, a set-id or sticky bit already on the target (GNU chmod
  * keeps a directory's set-id bits, NIO would clear them), a symlink, or
  * a platform without the POSIX attribute views. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    if (!NioRawLocalFileSystem.enabled || permission.getStickyBit ||
        (Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & 0xe00) != 0)
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(file, NioRawLocalFileSystem.posix(permission.toShort))
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NioRawLocalFileSystem {
  private val enabled = !NativeIO.isAvailable && {
    val views = FileSystems.getDefault.supportedFileAttributeViews
    views.contains("posix") && views.contains("unix")
  }

  /** The rwx bits of `mode` (enum order is owner-read … others-execute,
    * i.e. bit 8 down to bit 0). */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (b, i) =>
      if ((mode & (0x100 >> i)) != 0) set.add(b)
    }
    set
  }
}

/** `file://` for FileSystem (`fs.file.impl`): checksummed, `.crc` files kept. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `file://` for FileContext (`fs.AbstractFileSystem.file.impl`), which
  * carries Spark's streaming checkpoint logs. Mirrors Hadoop's
  * package-private `RawLocalFs` and `LocalFs`; FileContext instantiates
  * both through their `(URI, Configuration)` constructor. */
class NioRawLocalFs(uri: URI, conf: Configuration) extends DelegateToFileSystem(
    uri, new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** Checksummed [[NioRawLocalFs]]; like `LocalFs`, always at `file:///`. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(FsConstants.LOCAL_FS_URI, conf))
