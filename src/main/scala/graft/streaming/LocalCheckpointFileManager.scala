package graft.streaming

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, LocalFileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

import graft.sinks.StagedFile

/** The streaming checkpoint's file manager (Spark's
  * `spark.sql.streaming.checkpointFileManagerClass`, which
  * [[LoaderPipeline.stream]] sets). A path on Hadoop's checksummed
  * `LocalFileSystem` (the `file://` default) is served with plain NIO; any
  * other filesystem gets the manager Spark would pick without this class.
  *
  * Why: without the Hadoop native library, Spark's default manager forks
  * processes for every checkpoint file it publishes — a `readlink` in the
  * rename and a `chmod` per created file — about 35 ms for each of a
  * micro-batch's two commits (the offset log's `walCommit` and the commit
  * log's `commitOffsets`), against well under 1 ms for an NIO write and
  * publish.
  *
  * The contract is Spark's. [[createAtomic]] writes a [[StagedFile]] that
  * appears at the path on `close()`: with `overwriteIfPossible` by an
  * atomic rename over what is there, without it by a hard link that fails
  * with Hadoop's `FileAlreadyExistsException` (what the offset and commit
  * logs catch) and never replaces a file; `cancel()` leaves nothing
  * behind. Files are written without Hadoop's `.crc` sidecars and read
  * through the raw local filesystem, so a sidecar that an earlier default
  * manager left beside a replaced file is never checked; listings hide
  * those sidecars as the default manager does.
  *
  * The state stores wrap whichever manager this resolves to in Spark's
  * `ChecksumCheckpointFileManager` when
  * `spark.sql.streaming.checkpoint.fileChecksum.enabled` is on (the 4.1
  * default): it writes each file and its `<name>.crc` checksum file through
  * this manager's `createAtomic`, on its own threads, so this class keeps
  * no mutable state.
  */
final class LocalCheckpointFileManager(path: Path, conf: Configuration)
    extends CheckpointFileManager {

  private[graft] val underlying: CheckpointFileManager = path.getFileSystem(conf) match {
    case fs: LocalFileSystem => new LocalCheckpointFileManager.Nio(fs, path)
    case _ =>
      val withoutKey = new Configuration(conf)
      withoutKey.unset(LocalCheckpointFileManager.ConfKey)
      CheckpointFileManager.create(path, withoutKey)
  }

  def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    underlying.createAtomic(p, overwriteIfPossible)
  def open(p: Path): FSDataInputStream = underlying.open(p)
  def list(p: Path, filter: PathFilter): Array[FileStatus] = underlying.list(p, filter)
  def mkdirs(p: Path): Unit = underlying.mkdirs(p)
  def exists(p: Path): Boolean = underlying.exists(p)
  def delete(p: Path): Unit = underlying.delete(p)
  def isLocal: Boolean = underlying.isLocal
  def createCheckpointDirectory(): Path = underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

object LocalCheckpointFileManager {
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** The NIO manager of one `LocalFileSystem`, rooted at `root`. */
  private final class Nio(fs: LocalFileSystem, root: Path) extends CheckpointFileManager {
    private def file(p: Path) = fs.pathToFile(p).toPath

    def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
      val staged = new StagedFile(file(p), replace = overwriteIfPossible)
      new CancellableFSDataOutputStream(staged.out) {
        private var done = false
        override def close(): Unit = synchronized {
          if (!done) {
            done = true
            try staged.publish()
            catch { case e: java.nio.file.FileAlreadyExistsException =>
              val exists = new FileAlreadyExistsException(s"$p already exists")
              exists.initCause(e)
              throw exists
            }
          }
        }
        override def cancel(): Unit = synchronized {
          if (!done) {
            done = true
            staged.discard()
          }
        }
      }
    }

    def open(p: Path): FSDataInputStream = fs.getRawFileSystem.open(p)
    def list(p: Path, filter: PathFilter): Array[FileStatus] = fs.listStatus(p, filter)
    def mkdirs(p: Path): Unit = Files.createDirectories(file(p))
    def exists(p: Path): Boolean = Files.exists(file(p))
    def delete(p: Path): Unit = fs.delete(p, true)
    def isLocal: Boolean = true
    def createCheckpointDirectory(): Path = {
      val dir = fs.makeQualified(root)
      mkdirs(dir)
      dir
    }
  }
}
