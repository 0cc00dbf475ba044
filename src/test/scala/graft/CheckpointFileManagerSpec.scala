package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, ChecksumCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.FaultyLocalFileSystem
import graft.streaming.LocalCheckpointFileManager

/** The contract of [[LocalCheckpointFileManager]], Spark's
  * `CheckpointFileManager` for the loader's checkpoints: atomic creates
  * that never replace a file unless asked, cancels that leave nothing
  * behind, and Spark's own manager for every filesystem that is not
  * Hadoop's checksummed local one.
  *
  * Spark 4.1 wraps a configured manager rather than replacing it: the
  * state stores build `ChecksumCheckpointFileManager(CheckpointFileManager
  * .create(...), allowConcurrentDelete = true, numThreads = 4, …)` when
  * `spark.sql.streaming.checkpoint.fileChecksum.enabled` is on (the
  * default). The wrapper writes each file and a `<name>.crc` checksum file
  * through the inner manager's `createAtomic`, on its own threads, and
  * verifies the checksum when it opens the file; the last case runs that
  * stack.
  */
class CheckpointFileManagerSpec extends AnyFunSuite {

  private val conf = new Configuration()

  private def fresh(): (JPath, LocalCheckpointFileManager) = {
    val dir = Files.createTempDirectory("cfm")
    (dir, new LocalCheckpointFileManager(new Path(dir.toUri), conf))
  }

  private def hpath(p: JPath) = new Path(p.toUri)

  private def write(m: CheckpointFileManager, p: JPath, s: String, overwrite: Boolean): Unit = {
    val out = m.createAtomic(hpath(p), overwrite)
    out.write(s.getBytes(UTF_8))
    out.close()
  }

  private def read(m: CheckpointFileManager, p: JPath): String = {
    val in = m.open(hpath(p))
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** Every name in `dir`, hidden ones included. */
  private def names(dir: JPath): Set[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
  }

  test("a file:// path is served with NIO") {
    val (_, m) = fresh()
    assert(m.underlying.getClass.getName.endsWith("LocalCheckpointFileManager$Nio"))
    assert(m.isLocal)
  }

  test("createAtomic without overwrite never replaces a file: it throws and keeps the old bytes") {
    val (dir, m) = fresh()
    val f = dir.resolve("0")
    write(m, f, "first", overwrite = false)
    val out = m.createAtomic(hpath(f), overwriteIfPossible = false)
    out.write("second".getBytes(UTF_8))
    intercept[FileAlreadyExistsException](out.close())
    assert(read(m, f) == "first")
    assert(names(dir) == Set("0"), "no temp file may remain")
  }

  test("createAtomic with overwrite replaces the file") {
    val (dir, m) = fresh()
    val f = dir.resolve("state.delta")
    write(m, f, "old", overwrite = true)
    write(m, f, "new contents", overwrite = true)
    assert(read(m, f) == "new contents")
    assert(names(dir) == Set("state.delta"))
  }

  test("cancel leaves neither the file nor a temp file") {
    val (dir, m) = fresh()
    for (overwrite <- Seq(false, true)) {
      val out = m.createAtomic(hpath(dir.resolve("1")), overwrite)
      out.write("partial".getBytes(UTF_8))
      out.cancel()
      out.close() // a cancelled stream stays cancelled
      assert(names(dir).isEmpty, s"overwrite=$overwrite")
    }
  }

  test("a file appears only when its stream closes, and whole") {
    val (dir, m) = fresh()
    val f = dir.resolve("offsets").resolve("7") // parent created on demand
    val chunks = (0 until 2000).map(i => s"line $i\n")
    val out = m.createAtomic(hpath(f), overwriteIfPossible = false)
    chunks.foreach(c => out.write(c.getBytes(UTF_8)))
    assert(!m.exists(hpath(f)), "visible before close")
    out.close()
    assert(read(m, f) == chunks.mkString)
    assert(names(f.getParent) == Set("7"))
  }

  test("list, exists, open, delete, mkdirs and createCheckpointDirectory") {
    val root = Files.createTempDirectory("cfm").resolve("ckpt")
    val manager = new LocalCheckpointFileManager(hpath(root), conf)
    val made = manager.createCheckpointDirectory()
    assert(made.toUri.getScheme == "file" && made.toUri.getPath == root.toString)
    assert(Files.isDirectory(root))

    val sub = root.resolve("commits")
    manager.mkdirs(hpath(sub))
    assert(manager.exists(hpath(sub)))
    Seq("0", "1", "2").foreach(n => write(manager, sub.resolve(n), s"batch $n", overwrite = false))
    // a sidecar the checksummed default manager leaves is hidden, as there
    Files.write(sub.resolve(".0.crc"), Array[Byte](1, 2, 3))
    val listed = manager.list(hpath(sub)).map(_.getPath.getName).toSet
    assert(listed == Set("0", "1", "2"))
    val odd: PathFilter = p => p.getName.toInt % 2 == 1
    assert(manager.list(hpath(sub), odd).map(_.getPath.getName).toSeq == Seq("1"))
    assert(read(manager, sub.resolve("2")) == "batch 2")

    manager.delete(hpath(sub.resolve("1")))
    manager.delete(hpath(sub.resolve("missing"))) // no error
    assert(!manager.exists(hpath(sub.resolve("1"))))
    assert(manager.exists(hpath(sub.resolve("0"))))
    manager.delete(hpath(sub))
    assert(!Files.exists(sub))
  }

  test("Spark resolves the configured class, and any other filesystem gets Spark's default manager") {
    val dir = Files.createTempDirectory("cfm_s3x")
    val c = new Configuration()
    c.set(LocalCheckpointFileManager.ConfKey, classOf[LocalCheckpointFileManager].getName)
    c.set("fs.s3x.impl", classOf[FaultyLocalFileSystem].getName)
    c.setBoolean("fs.s3x.impl.disable.cache", true)

    val local = CheckpointFileManager.create(new Path(dir.toUri), c)
    assert(local.isInstanceOf[LocalCheckpointFileManager])

    val remote = CheckpointFileManager.create(new Path(s"s3x://${dir}/ckpt"), c)
    val inner = remote.asInstanceOf[LocalCheckpointFileManager].underlying
    // s3x has no FileContext binding, so Spark falls back to its
    // FileSystem-based manager; the key is unset for it, so it does not
    // resolve this class again
    assert(inner.isInstanceOf[FileSystemBasedCheckpointFileManager], inner.getClass)
    val f = new Path(s"s3x://${dir}/ckpt/0")
    val out = remote.createAtomic(f, overwriteIfPossible = false)
    out.write("via hadoop".getBytes(UTF_8))
    out.close()
    assert(new String(Files.readAllBytes(dir.resolve("ckpt").resolve("0")), UTF_8) == "via hadoop")
  }

  test("Spark's checksum wrapper writes and verifies through the NIO manager") {
    val (dir, m) = fresh()
    val checked = new ChecksumCheckpointFileManager(m, allowConcurrentDelete = true,
      numThreads = 4, skipCreationIfFileMissingChecksum = true)
    val f = dir.resolve("1.delta")
    try {
      write(checked, f, "state rows", overwrite = true)
      assert(names(dir) == Set("1.delta", "1.delta.crc"))
      assert(read(checked, f) == "state rows")
      checked.delete(hpath(f))
    } finally checked.close() // waits for the concurrent checksum delete
    assert(names(dir).isEmpty)
  }
}
