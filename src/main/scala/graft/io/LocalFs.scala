package graft.io

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, InvalidPathException}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` scheme without child processes.
  *
  * Without libhadoop, Hadoop's `RawLocalFileSystem` forks `chmod` for
  * every file create and mkdir, and `readlink` for every
  * `getFileLinkStatus` (FileContext calls it twice per rename). Every
  * streaming state-store commit, offset/commit-log entry, parquet
  * part and TableLog manifest pays those forks. This class answers the
  * same two calls through java.nio with the same results; everything
  * else, `.crc` sidecars included, is the stock code.
  *
  * `GraftSession` binds it for both Hadoop APIs as `spark.hadoop.*`:
  * `fs.file.impl` = [[NioLocalFileSystem]] (FileSystem) and
  * `fs.AbstractFileSystem.file.impl` = [[NioLocalFs]] (FileContext,
  * which Spark's checkpoint file manager uses).
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** `chmod` through java.nio on the canonical path, as the stock
    * shell command does. Sticky/setuid bits and non-POSIX file systems
    * take the stock path. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if ((permission.toShort & ~0x1ff) != 0) super.setPermission(p, permission) // above 0777
    else
      try Files.setPosixFilePermissions(pathToFile(p).getCanonicalFile.toPath,
        PosixFilePermissions.fromString(permission.toString))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }

  /** The stock (non-`stat`) lookup with `readlink` replaced by
    * `Files.readSymbolicLink` on the same `new File(f.toString)`: a
    * `file:`-qualified path names no link there, exactly as for the
    * forked command, so results match the stock class path for path. */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val target =
      try Files.readSymbolicLink(new File(f.toString).toPath).toString
      catch { case _: IOException | _: InvalidPathException => "" }
    val fi =
      try {
        val st = getFileStatus(f)
        if (target.isEmpty) st
        else new FileStatus(st.getLen, false, st.getReplication, st.getBlockSize,
          st.getModificationTime, st.getAccessTime, st.getPermission, st.getOwner,
          st.getGroup, new Path(target), f)
      } catch {
        // a dangling link: File.exists is false for it
        case _: FileNotFoundException if target.nonEmpty =>
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", new Path(target), f)
      }
    if (fi.isSymlink)
      fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, fi.getPath, fi.getSymlink))
    fi
  }
}

/** `fs.file.impl`: the stock checksummed `LocalFileSystem` over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: the stock `LocalFs` pair
  * (`ChecksumFs` over `RawLocalFs`) over [[NioRawLocalFileSystem]]. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(conf))

private[io] class NioRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  @deprecated("deprecated in AbstractFileSystem", "")
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}
