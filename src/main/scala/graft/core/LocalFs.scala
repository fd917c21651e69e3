package graft.core

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local (`file:`) filesystem without process forks.
  *
  * Without libhadoop (the native library is not shipped with Spark's
  * jars), `RawLocalFileSystem` runs `chmod` for every file and directory
  * it creates, `.crc` siblings included, and `readlink` on every
  * `FileContext` rename. A streaming batch writes state-store deltas,
  * offset and commit log entries and sink files, so it started ~120
  * processes: most of a small batch's fixed cost. The two overrides in
  * [[ForkFreeRawLocalFileSystem]] do the same work through `java.nio`.
  * Everything else, checksums included, is Hadoop's own code.
  * [[Graft.configure]] routes the `file:` scheme here for both the
  * `FileSystem` and the `FileContext` API ([[LocalFs.sparkConfs]]).
  */
object LocalFs {
  val sparkConfs: Seq[(String, String)] = Seq(
    "spark.hadoop.fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[ForkFreeLocalFs].getName)

  /** `PosixFilePermission.values` is owner r/w/x, group r/w/x, others
    * r/w/x: the nine mode bits from 0400 down to 0001.
    */
  private[core] def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((mode & (0x100 >> i)) != 0) s.add(p)
    }
    s
  }
}

class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  /** The mode set in-process; a sticky bit, which `java.nio` cannot set,
    * goes to Hadoop's `chmod`. Like `chmod`, follows a symlink.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, LocalFs.posix(permission.toShort))

  /** Hadoop's `readlink` only matters for a symlink; anything else gets
    * the plain status, as Hadoop returns when `readlink` finds no link.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` over the fork-free raw one. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The `FileContext` raw layer, as Hadoop's `local.RawLocalFs` builds it. */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: checksums over [[ForkFreeRawLocalFs]],
  * as Hadoop's `local.LocalFs`, which also ignores the URI it is built with.
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(FsConstants.LOCAL_FS_URI, conf))
