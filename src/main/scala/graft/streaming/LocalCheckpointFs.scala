package graft.streaming

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSDataInputStream, FileStatus, FsConstants, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `LocalFs` (checksummed local `AbstractFileSystem`, the one
  * `FileContext` serves for `file:` paths) without its per-call subprocesses.
  * Without native `libhadoop`, `RawLocalFileSystem` forks `chmod` for every
  * permission set and `readlink` for every link-status check, and a
  * streaming checkpoint pays both on each state-store delta, offset and
  * commit file. Those two calls change, and `open(Path)` checks the `.crc`
  * sidecar (`LocalFs` writes it but skips it on that read); rename
  * semantics, permission bits and file layout are `LocalFs`'s own.
  * Installed per query through `fs.AbstractFileSystem.file.impl`
  * (`EventsIngest.withStreamingScope`); Hadoop builds it by reflection from
  * this `(URI, Configuration)` constructor and, as for `LocalFs`, the URI is
  * always the local root. */
class LocalCheckpointFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new LocalCheckpointFs.RawFs(conf)) {
  // FileContext.open(Path), which Spark's checkpoint reads call, reaches
  // FilterFs.open(Path), which skips ChecksumFs and never reads the `.crc`;
  // route it through the checked open, as AbstractFileSystem.open(Path) does
  override def open(f: Path): FSDataInputStream =
    open(f, getServerDefaults(f).getFileBufferSize)
}

object LocalCheckpointFs {

  /** Hadoop's `RawLocalFs` (package-private constructor) over [[RawFiles]]. */
  private class RawFs(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new RawFiles, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  private class RawFiles extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val rwx = permission.toString
      if (permission.getStickyBit || rwx.length != 9) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(rwx))
    }

    // what Hadoop's own non-link branch returns, without forking readlink
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }
}
