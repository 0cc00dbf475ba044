package graft.sinks

import java.io.{BufferedOutputStream, OutputStream}
import java.nio.file.{Files, StandardCopyOption, StandardOpenOption, Path => JPath}
import java.util.UUID

import scala.util.control.NonFatal

/** A local file that appears whole or not at all, written with plain NIO:
  * the bytes go to a hidden sibling of `target`, `.<name>.<uuid>.tmp`,
  * which [[publish]] then puts at `target`. Hadoop and Spark input formats
  * skip dot-prefixed files and no `*.gz` glob matches them, so a writer
  * killed mid-write leaves no truncated file under the real name; the uuid
  * keeps concurrent writers of one name apart. Missing parent directories
  * are created.
  *
  * Two ways to publish:
  *  - `replace`: an atomic rename over whatever is at `target` (a blob
  *    put, whose overwrite is the retry contract);
  *  - no `replace`: a hard link at `target`, which fails with
  *    `java.nio.file.FileAlreadyExistsException` and leaves an existing
  *    file untouched, then the temp name is removed (a checkpoint file that
  *    must never be replaced).
  *
  * Nothing here forks a process, unlike Hadoop's local filesystem without
  * its native library (a `chmod` per created file, a `readlink` per
  * rename).
  */
private[graft] final class StagedFile(target: JPath, replace: Boolean) {
  Files.createDirectories(target.getParent)
  private val temp: JPath = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID()}.tmp")
  val out: OutputStream = new BufferedOutputStream(
    Files.newOutputStream(temp, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE))

  /** Close the temp file and put it at `target`; on failure nothing is
    * left at the temp name.
    */
  def publish(): Unit =
    try {
      out.close()
      if (replace)
        Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      else {
        Files.createLink(target, temp)
        Files.delete(temp)
      }
    } catch { case e: Throwable =>
      discard()
      throw e
    }

  /** Close and delete the temp file; `target` is left as it was. */
  def discard(): Unit = {
    try out.close() catch { case NonFatal(_) => }
    Files.deleteIfExists(temp)
  }
}
