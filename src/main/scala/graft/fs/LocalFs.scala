package graft.fs

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

/** Hadoop's local filesystem without child processes.
  *
  * Spark's jars ship Hadoop without `libhadoop`, so `NativeIO` is off
  * and the stock `RawLocalFileSystem` forks a process for two calls:
  *   - `setPermission` runs `chmod` — on every file and directory it
  *     creates (each create and mkdir applies the umasked default);
  *   - `getFileLinkStatus` runs `readlink` — twice per `FileContext`
  *     rename (source and destination).
  *
  * A streaming trigger's commit protocol creates and renames dozens of
  * such files (offset and commit WAL entries, a delta + checksum per
  * state-store partition, the sink's parquet parts, `.crc`s,
  * `_temporary` dirs and `_SUCCESS`), so those forks were most of a
  * small trigger's fixed cost. Here both calls run in-process with the
  * same result:
  *   - `setPermission` applies the same 9 bits with
  *     `Files.setPosixFilePermissions`; a request with bits beyond
  *     them (the sticky bit) still goes to Hadoop;
  *   - `getFileLinkStatus` of a path that is not a symlink is
  *     `getFileStatus`, exactly what Hadoop returns after `readlink`
  *     prints nothing; a symlink still goes to Hadoop.
  *
  * [[ForkFreeLocalFileSystem]] (`fs.file.impl`) keeps the `.crc`
  * checksums `LocalFileSystem` adds; [[ForkFreeLocalFs]]
  * (`fs.AbstractFileSystem.file.impl`) is the same pair for
  * `FileContext`, which Spark's checkpoint file manager uses.
  * `GraftSession` installs both.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      ForkFreeRawLocalFileSystem.posix(mode))
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object ForkFreeRawLocalFileSystem {
  /** The 9 rwx bits of `mode` as NIO permissions: enum ordinal i is
    * bit 8 - i (OWNER_READ = 0400 … OTHERS_EXECUTE = 0001). */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach { b =>
      if ((mode & (0x100 >> b.ordinal)) != 0) s.add(b)
    }
    s
  }
}

/** `LocalFileSystem` (checksummed) over [[ForkFreeRawLocalFileSystem]]. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** Hadoop's `RawLocalFs` over [[ForkFreeRawLocalFileSystem]]: its
  * constructors are package-private, so its local server defaults
  * and its name check are repeated here. */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** Hadoop's `LocalFs` (checksummed `FileContext` filesystem) over
  * [[ForkFreeRawLocalFs]]. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
  extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))
