package graft.streaming

import java.io.IOException
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import java.util.UUID

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, FileSystem, LocalFileSystem, Path, PathFilter, RawLocalFileSystem, UnsupportedFileSystemException}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The `CheckpointFileManager` of every graft stream, registered once in
  * [[graft.GraftSession.builder]] as
  * `spark.sql.streaming.checkpointFileManagerClass`.
  *
  * A micro-batch is made durable by small files written atomically through
  * this interface: its offset and commit log entries and its state-store
  * deltas and snapshots. On a local path Spark's default
  * (`FileContextBasedCheckpointFileManager` over Hadoop's `RawLocalFs`)
  * starts a process for most of them: a `chmod` for each file and
  * directory it creates (unless Hadoop's native library is loaded), and
  * two `readlink`s for each rename (`AbstractFileSystem.renameInternal`
  * → `getFileLinkStatus`). One seed-1 `stream_ingest` benchmark run forked
  * 664 processes, 644 of them under a checkpoint write; with this manager
  * it forks 20, none of them under one (`scripts/fork_census.py`).
  *
  * For a `file:` path (or a path without a scheme on a local default file
  * system) the files are written the same way, in-process: through one
  * private Hadoop `LocalFileSystem`, so each file still gets its `.crc`
  * and every read checks it, over a `RawLocalFileSystem` whose
  * `setPermission` is the same chmod(2) through `java.nio`. An atomic
  * write goes to a `.<name>.<uuid>.tmp` sibling that `close` renames
  * with rename(2), data and `.crc`. The data, the `.crc` and the
  * permission bits are those Spark's default writes, so a checkpoint
  * written by either resumes under the other. The private file system is
  * not Hadoop's cached `file:` one: registering it JVM-wide would make
  * every caller's local file system depend on which caller came first.
  *
  * Any other scheme (HDFS, S3, ...) goes to Spark's own default, chosen
  * exactly as `CheckpointFileManager.create` chooses it, so cluster
  * behaviour does not change.
  */
class LocalCheckpointFiles(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[streaming] val delegate: CheckpointFileManager = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme)
    if (scheme == "file") new LocalCheckpointFiles.Local(path, hadoopConf)
    else
      try new FileContextBasedCheckpointFileManager(path, hadoopConf)
      catch {
        case _: UnsupportedFileSystemException =>
          new FileSystemBasedCheckpointFileManager(path, hadoopConf)
      }
  }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CancellableFSDataOutputStream = delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    delegate.list(p, filter)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object LocalCheckpointFiles {

  /** Hadoop's raw local file system with chmod(2) made in-process. A
    * sticky bit (the one mode bit beyond 0777 an `FsPermission` carries)
    * has no `PosixFilePermission`, so that alone goes to Hadoop's own. */
  private final class InProcessChmod extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if ((permission.toShort & ~0x1ff) != 0) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))
  }

  private final class Local(path: Path, conf: Configuration)
      extends CheckpointFileManager {

    private val fs: FileSystem = {
      val fs = new LocalFileSystem(new InProcessChmod)
      fs.setConf(conf)
      fs.initialize(URI.create("file:///"), conf)
      fs
    }

    override def createAtomic(p: Path, overwriteIfPossible: Boolean)
        : CancellableFSDataOutputStream = {
      val tmp = new Path(p.getParent, s".${p.getName}.${UUID.randomUUID}.tmp")
      new CancellableFSDataOutputStream(fs.create(tmp, true)) {
        private var terminated = false

        override def close(): Unit = synchronized {
          if (!terminated) {
            terminated = true
            try {
              underlyingStream.close()
              // the same check-then-rename as Spark's local FileContext path
              if (!overwriteIfPossible && fs.exists(p))
                throw new FileAlreadyExistsException(s"$p already exists")
              if (!fs.rename(tmp, p)) throw new IOException(s"Failed to rename $tmp to $p")
            } catch {
              case NonFatal(e) => discard(tmp); throw e
            }
          }
        }

        override def cancel(): Unit = synchronized {
          if (!terminated) {
            terminated = true
            try underlyingStream.close() catch { case NonFatal(_) => () }
            discard(tmp)
          }
        }
      }
    }

    /** Delete a temp file and its `.crc`, best effort: the error the
      * caller sees is the one that made it discard the file. */
    private def discard(tmp: Path): Unit =
      try fs.delete(tmp, false) catch { case NonFatal(_) => () }

    override def open(p: Path): FSDataInputStream = fs.open(p)
    override def list(p: Path, filter: PathFilter): Array[FileStatus] =
      fs.listStatus(p, filter)
    override def mkdirs(p: Path): Unit =
      if (!fs.mkdirs(p, FsPermission.getDirDefault))
        throw new IOException(s"Failed to create directory $p")
    override def exists(p: Path): Boolean = fs.exists(p)
    override def delete(p: Path): Unit = fs.delete(p, true)
    override def isLocal: Boolean = true
    override def createCheckpointDirectory(): Path = {
      val qualified = fs.makeQualified(path)
      mkdirs(qualified)
      qualified
    }
  }
}
