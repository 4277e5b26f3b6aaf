package graft.sources

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** The `file:` filesystem of graft sessions (installed by
  * [[graft.GraftSession]]): Hadoop's local filesystem without the
  * processes it forks when libhadoop is absent, which is the case with
  * the jars a Spark distribution ships. There, `RawLocalFileSystem`
  * runs a `chmod` process for every file it creates and directory it
  * makes, and `getFileLinkStatus` (which `FileContext.rename` calls) runs
  * a `readlink` process. Every sink data file and its `.crc`, every
  * state-store delta and every offset/commit-log entry pays for them.
  * This class does the same work in the JVM; checksums, renames and file
  * modes are Hadoop's own. */
class GraftRawLocalFileSystem extends RawLocalFileSystem {

  /** The bits `chmod %04o` would set, applied with one chmod(2) through
    * java.nio — what the libhadoop branch does natively. Hadoop's own
    * path runs when libhadoop is loaded, for a sticky bit (which
    * java.nio cannot set) and on a filesystem with no POSIX view. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (NativeIO.isAvailable || permission.getStickyBit || !GraftRawLocalFileSystem.posix)
      super.setPermission(p, permission)
    else
      Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
        permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
          permission.getOtherAction.SYMBOL))

  /** For a path that is not a symbolic link Hadoop answers with
    * `getFileStatus` once `readlink` has printed nothing; answer so
    * without the process. A link takes Hadoop's path. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object GraftRawLocalFileSystem {
  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")
}

/** `fs.file.impl`: the checksummed [[org.apache.hadoop.fs.FileSystem]]
  * over [[GraftRawLocalFileSystem]]. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** The [[org.apache.hadoop.fs.AbstractFileSystem]] (the `FileContext`
  * API, which Structured Streaming's checkpoint and state store use) over
  * [[GraftRawLocalFileSystem]], with `org.apache.hadoop.fs.local.RawLocalFs`'s
  * overrides. */
class GraftRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new GraftRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: the checksummed
  * [[GraftRawLocalFs]], as `org.apache.hadoop.fs.local.LocalFs` is over
  * `RawLocalFs` (the URI is always `file:///`, as there). */
class GraftLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new GraftRawLocalFs(FsConstants.LOCAL_FS_URI, conf))
