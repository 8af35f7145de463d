package graft.io

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FileSystem, FilterFileSystem, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without its two per-call subprocesses.
  *
  * Without the native libhadoop, stock `RawLocalFileSystem` forks `chmod`
  * in `setPermission` (every file create and mkdir) and `readlink` in
  * `getFileLinkStatus` (every FileContext rename asks for both ends). A
  * streaming commit creates and renames several files: offsets, commits,
  * file-source logs, each state-store delta and its checksum file; a
  * parquet write creates each part file and its `.crc`, and makes each
  * directory of its tree. This class sets the mode through `java.nio` and
  * answers the link status of a non-symlink with `getFileStatus`, which is
  * what Hadoop returns there.
  * Sticky bits, stores without POSIX attributes and real symlinks go to
  * Hadoop's own code, so every file, mode bit and error is unchanged.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  import ForkFreeRawLocalFileSystem.Bits

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val mode = permission.toShort
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      for (i <- Bits.indices if (mode & (1 << (8 - i))) != 0) perms.add(Bits(i))
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object ForkFreeRawLocalFileSystem {
  // rwxrwxrwx from the high bit down, the order `PosixFilePermission` declares
  private val Bits = PosixFilePermission.values
}

/** The `file:` FileContext filesystem over [[ForkFreeRawLocalFileSystem]]:
  * Hadoop's `LocalFs` (a `ChecksumFs`, so `.crc` sidecars are written and
  * verified) over a copy of its `RawLocalFs`, whose constructor is
  * package-private. Bound by `GraftSession.tune` through
  * `fs.AbstractFileSystem.file.impl`; its FileSystem-API twin is
  * [[ForkFreeLocalFileSystem]].
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeLocalFs.Raw(conf))

object ForkFreeLocalFs {
  private[io] class Raw(conf: Configuration)
      extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
        new ForkFreeRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}

/** The `file:` FileSystem-API filesystem over [[ForkFreeRawLocalFileSystem]]:
  * Hadoop's own `LocalFileSystem` (a `ChecksumFileSystem`, so `.crc`
  * sidecars are written, hidden from listings and verified on read). Every
  * parquet and text write to a local path goes through it, so an index
  * append creates the same files, names and mode bits without a `chmod`
  * per file and directory. Bound by [[ForkFreeLocalFileSystem.bind]].
  */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

object ForkFreeLocalFileSystem {
  private val LocalUri = URI.create("file:///")

  /** Binds `file:` in `conf` (`fs.file.impl`) to [[ForkFreeLocalFileSystem]]
    * and evicts the `file:` instance the JVM cached before, which the next
    * `FileSystem.get` would otherwise keep returning whatever the conf says.
    *
    * The eviction is `FileSystem.close()`, which removes the instance from
    * Hadoop's cache and first deletes the paths registered on it with
    * `deleteOnExit`. It runs only when that set is empty, on the instance
    * and on its raw filesystem (read off Hadoop's private field): closing
    * deletes nothing then, and a holder of the old instance keeps a working
    * local filesystem, since a closed local one still reads and writes.
    * With any path registered, or the field unreadable, the stock instance
    * stays bound. A second call finds the fork-free instance and changes
    * nothing.
    */
  def bind(conf: Configuration): Unit = synchronized {
    conf.set("fs.file.impl", classOf[ForkFreeLocalFileSystem].getName)
    FileSystem.get(LocalUri, conf) match {
      case _: ForkFreeLocalFileSystem =>
      case cached => if (deletesNothingOnClose(cached)) cached.close()
    }
  }

  private def deletesNothingOnClose(fs: FileSystem): Boolean = {
    val layers = fs match {
      case f: FilterFileSystem => Seq(f, f.getRawFileSystem)
      case f => Seq(f)
    }
    Try {
      val field = classOf[FileSystem].getDeclaredField("deleteOnExit")
      field.setAccessible(true)
      layers.forall(l => field.get(l).asInstanceOf[java.util.Set[_]].isEmpty)
    }.getOrElse(false)
  }
}
