package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, Path, PathFilter, UnsupportedFileSystemException}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}

import graft.sources.GraftLocalFileSystem

/** The session's checkpoint file manager
  * (`spark.sql.streaming.checkpointFileManagerClass`, set by
  * [[graft.GraftSession]]). Every streaming checkpoint file — offset
  * and commit logs, the file sink's metadata log, RocksDB changelogs
  * and snapshots — is written through it.
  *
  * For a path on the session's local FileSystem
  * ([[graft.sources.GraftLocalFileSystem]]) it uses Spark's
  * `FileSystemBasedCheckpointFileManager`: the same write-temp-file-
  * then-rename protocol as the default FileContext-based manager, but
  * that FileSystem's rename is `File.renameTo`, where FileContext's
  * rename first resolves links with `readlink`, a subprocess when
  * `libhadoop` is absent. Both check for an existing target and then
  * call rename(2), so overwrite semantics match.
  *
  * Every other path gets exactly Spark's default choice:
  * FileContext-based, FileSystem-based when the scheme has no
  * FileContext implementation. The FileSystem-based manager is not
  * safe there in general: `createAtomic(overwriteIfPossible = true)`
  * — how RocksDB rewrites the changelog of a re-executed batch —
  * relies on rename replacing the target, and HDFS `FileSystem.rename`
  * never does. Neither does Hive's `ProxyLocalFileSystem`, which
  * hive-exec registers for `file:` and which wins the scheme when
  * `fs.file.impl` is unset; so the test is the FileSystem class, not
  * the scheme.
  */
class GraftCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[graft] val delegate: CheckpointFileManager =
    if (path.getFileSystem(hadoopConf).isInstanceOf[GraftLocalFileSystem])
      new FileSystemBasedCheckpointFileManager(path, hadoopConf)
    else
      try new FileContextBasedCheckpointFileManager(path, hadoopConf)
      catch {
        case _: UnsupportedFileSystemException =>
          new FileSystemBasedCheckpointFileManager(path, hadoopConf)
      }

  override def createAtomic(path: Path, overwriteIfPossible: Boolean)
      : CheckpointFileManager.CancellableFSDataOutputStream =
    delegate.createAtomic(path, overwriteIfPossible)
  override def open(path: Path): FSDataInputStream = delegate.open(path)
  override def list(path: Path, filter: PathFilter): Array[FileStatus] =
    delegate.list(path, filter)
  override def list(path: Path): Array[FileStatus] = delegate.list(path)
  override def mkdirs(path: Path): Unit = delegate.mkdirs(path)
  override def exists(path: Path): Boolean = delegate.exists(path)
  override def delete(path: Path): Unit = delegate.delete(path)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}
