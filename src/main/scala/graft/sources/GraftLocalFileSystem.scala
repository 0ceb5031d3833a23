package graft.sources

import java.nio.file.{FileSystems, Files}

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The session's `file:` FileSystem (`fs.file.impl`, set by
  * [[graft.GraftSession]]): Hadoop's checksummed [[LocalFileSystem]]
  * over a [[RawLocalFileSystem]] that sets permissions in-process.
  *
  * Without the native `libhadoop`, `RawLocalFileSystem.setPermission`
  * runs `chmod` as a subprocess, and it is called for every file it
  * creates and every directory `mkdirs` makes, `.crc` sidecars
  * included. Here the same mode goes through the `unix:mode` file
  * attribute (the same chmod(2), minus the fork). Hadoop's own code
  * still runs where the two could differ: a set-id or sticky bit in
  * the requested mode or already on the target (GNU chmod keeps a
  * directory's set-id bits, chmod(2) would clear them), and a
  * platform without the unix attribute view.
  *
  * Everything else — checksums, create, rename, listing — is
  * inherited unchanged. In particular rename is `File.renameTo`,
  * which replaces an existing file as rename(2) does;
  * [[graft.streaming.GraftCheckpointFileManager]] relies on that.
  * (Hive's `ProxyLocalFileSystem`, which hive-exec registers for
  * `file:` and which otherwise wins the scheme, refuses to rename
  * onto an existing file.)
  */
class GraftLocalFileSystem extends LocalFileSystem(new GraftLocalFileSystem.Raw)

object GraftLocalFileSystem {

  private val unixAttributes =
    FileSystems.getDefault.supportedFileAttributeViews.contains("unix")

  /** Set-uid, set-gid and sticky: left to Hadoop's `chmod`. */
  private val SpecialBits = 0xe00 // 07000

  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val file = pathToFile(p).toPath
      val mode = permission.toShort.toInt
      if (!unixAttributes ||
          ((mode | Files.getAttribute(file, "unix:mode").asInstanceOf[Int]) & SpecialBits) != 0)
        super.setPermission(p, permission)
      else
        Files.setAttribute(file, "unix:mode", Integer.valueOf(mode))
    }
  }
}
