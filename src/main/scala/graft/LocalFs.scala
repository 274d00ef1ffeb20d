package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{FileSystems, Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file:` filesystem: Hadoop's stock local filesystem
  * minus its two process forks. Without libhadoop (the usual case for
  * a Spark distribution run outside a Hadoop install)
  * `RawLocalFileSystem` runs `chmod` after every create and mkdir, and
  * `readlink` on every `getFileLinkStatus`, which `FileContext.rename`
  * calls on both ends. Streaming offset/commit logs, state-store
  * deltas, the parquet sink's committer and [[operators.Snapshot]]
  * staging all pay that fork per file: task time with no CPU time
  * behind it. Everything else, including every byte written, is the
  * stock code.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  /** `chmod` through java.nio with the same mode bits; a sticky bit
    * (which java.nio cannot set) or a non-POSIX default filesystem
    * keeps the stock code.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (!posix || permission.getStickyBit) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath,
        modeBits(permission))
      catch {
        case e: NoSuchFileException =>
          throw new FileNotFoundException(e.getFile)
      }

  /** For anything but a symlink the stock code runs `readlink`, gets an
    * empty answer and returns `getFileStatus(f)`; skip the fork. A
    * symlink keeps the stock code.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NioRawLocalFileSystem {
  private lazy val posix =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  // PosixFilePermission's declaration order is OWNER_READ (0400) down
  // to OTHERS_EXECUTE (0001)
  private def modeBits(p: FsPermission): java.util.Set[PosixFilePermission] = {
    val mode = p.toShort.toInt
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (b, i) =>
      if ((mode & (1 << (8 - i))) != 0) set.add(b)
    }
    set
  }
}

/** `fs.file.impl`: the checksummed `FileSystem` over the fork-free raw
  * filesystem, as `LocalFileSystem` is over `RawLocalFileSystem`.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `org.apache.hadoop.fs.local.RawLocalFs` over the fork-free raw
  * filesystem (its constructors are package-private, so this copies its
  * four overrides).
  */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl` (what `FileContext`, and so
  * Spark's checkpoint file manager, resolves `file:` to): the
  * `org.apache.hadoop.fs.local.LocalFs` shape, checksums over
  * [[NioRawLocalFs]].
  */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(FsConstants.LOCAL_FS_URI, conf))
