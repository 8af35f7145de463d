package graft.io

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without its two per-call subprocesses.
  *
  * Without the native libhadoop, stock `RawLocalFileSystem` forks `chmod`
  * in `setPermission` (every file create and mkdir) and `readlink` in
  * `getFileLinkStatus` (every FileContext rename asks for both ends). A
  * streaming commit creates and renames several files: offsets, commits,
  * file-source logs, each state-store delta and its checksum file. This
  * class sets the mode through `java.nio` and answers the link status of a
  * non-symlink with `getFileStatus`, which is what Hadoop returns there.
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
  * `fs.AbstractFileSystem.file.impl`; the FileSystem API's `file:` instance
  * is cached per JVM and stays Hadoop's.
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
