package graft

import java.net.URI
import java.nio.file.Files
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system without its per-call process spawns. On a host
  * without libhadoop, `RawLocalFileSystem` forks `chmod` for every
  * `setPermission` (each created file, `.crc` companion and directory) and
  * `readlink` for every `getFileLinkStatus` (each `FileContext.rename`).
  * This class answers both in-process, with the same results:
  *   - `setPermission` sets the whole mode, special bits included, through
  *     `java.nio`'s `unix:mode` attribute;
  *   - `getFileLinkStatus` of a path that is not a symlink is its
  *     `getFileStatus`, which is what Hadoop's method returns there (it
  *     hands the `file:` URI string to `readlink`, which resolves nothing);
  *     a real symlink goes to Hadoop's method. */
class SpawnFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    Files.setAttribute(pathToFile(p).toPath, "unix:mode", Int.box(permission.toShort.toInt))

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed `FileSystem` API over
  * [[SpawnFreeRawLocalFileSystem]], as `LocalFileSystem` is over Hadoop's. */
class SpawnFreeLocalFileSystem extends LocalFileSystem(new SpawnFreeRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: the checksummed `FileContext` API
  * (Spark's checkpoint WAL and state store), as `local.LocalFs` is. */
class SpawnFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new SpawnFreeRawLocalFs(uri, conf))

/** The raw `FileContext` API, with `local.RawLocalFs`'s overrides. */
class SpawnFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new SpawnFreeRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path) = LocalConfigKeys.getServerDefaults
  override def getServerDefaults() = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
