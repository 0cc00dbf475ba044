package graft.sinks

import java.io.OutputStream
import java.net.URI
import java.nio.file.{Files, StandardCopyOption, Path => JPath}
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}

/** Blob-store abstraction (reference operator S3 — BlobSink.scala:16-21):
  * one object PUT per (schema, batch) group. Implementations must be
  * serializable: writes happen inside executor tasks.
  */
trait BlobStore extends Serializable {
  def write(path: String, bytes: Array[Byte]): Unit
}

/** Hadoop-FS-backed store — covers file://, hdfs:// and s3a:// URIs with
  * the standard connectors; the production path. One create-write-close
  * per object, no commit protocol (objects are uniquely named by UUID, so
  * task retries at-least-once overwrite idempotently — same contract as
  * the reference's S3 PUT, S3Sink.scala:29-41).
  *
  * LOCAL BRANCH. When the path resolves to Hadoop's checksummed
  * `LocalFileSystem` (the `file://` default; the Spark distribution
  * registers Hive's `ProxyLocalFileSystem`, a subclass that changes only
  * `rename`), the object is written with plain NIO instead: without the
  * Hadoop native library, `LocalFileSystem.create` writes a `.crc` sidecar
  * beside every object and `RawLocalFileSystem.setPermission` forks a
  * `chmod` process for each of the two files — about 11 ms per put against
  * 0.2 ms for one NIO write of a small object. The bytes go to a hidden
  * sibling, `.<name>.<uuid>.tmp`, which is then renamed over the target
  * with `ATOMIC_MOVE`, so a local put appears whole or not at all, like an
  * S3 PUT: a task killed mid-write leaves only a dot-prefixed `.tmp` file,
  * which Hadoop and Spark input formats skip and no `*.gz` glob matches,
  * never a truncated object under the real name. The uuid keeps
  * concurrent attempts at the same idempotent name apart. Every other
  * filesystem — s3a, hdfs, an `fs.file.impl` that is not a
  * `LocalFileSystem` (e.g. `RawLocalFileSystem`), the `s3x://` test
  * double — takes the Hadoop code below, unchanged.
  *
  * Objects larger than `maxSinglePutBytes` take a MULTIPART route on
  * those non-local stores (the reference uploads one buffer per object —
  * at 100 TB a batch shard can exceed the object store's single-PUT limit,
  * 5 GiB on S3; a local file has no such cap): the buffer
  * is staged as `<path>.mpu/part-NNNNN` chunks, each within the cap,
  * then completed by assembling the parts into the final object and
  * deleting the staging dir (the assembly copy models S3's server-side
  * CompleteMultipartUpload — completion is not itself a client PUT). A
  * task death anywhere in the sequence leaves only staging garbage or a
  * partial target; the retry deletes the staging dir, re-stages every
  * part, and re-completes — same at-least-once ⇒ exactly-once-content
  * contract as the single-PUT path, fault-injected in
  * FaultInjectionSpec.
  *
  * The Hadoop `Configuration` (with `confSerde` applied) is built once per
  * store instance, not per put: a fresh one re-parses Hadoop's default
  * XML resources on first lookup, about as costly as a small put. It is
  * transient, so each deserialized copy in a task builds its own. The
  * `FileSystem` is still resolved per path: good and bad paths may use
  * different schemes.
  */
final class HadoopBlobStore(confSerde: Map[String, String],
    maxSinglePutBytes: Long = HadoopBlobStore.S3SinglePutLimit)
    extends BlobStore {
  @transient private lazy val conf: Configuration = {
    val c = new Configuration()
    confSerde.foreach { case (k, v) => c.set(k, v) }
    c
  }

  def write(path: String, bytes: Array[Byte]): Unit = {
    val p = new Path(new URI(path))
    FileSystem.get(p.toUri, conf) match {
      case local: LocalFileSystem =>
        HadoopBlobStore.putLocal(local.pathToFile(p).toPath, bytes)
      case fs => hadoopWrite(fs, p, bytes)
    }
  }

  private def hadoopWrite(fs: FileSystem, p: Path, bytes: Array[Byte]): Unit = {
    def put(target: Path, slice: Array[Byte], off: Int, len: Int): Unit = {
      var out: OutputStream = null
      try { out = fs.create(target, true); out.write(slice, off, len) }
      finally if (out != null) out.close()
    }
    if (bytes.length <= maxSinglePutBytes) {
      put(p, bytes, 0, bytes.length)
    } else {
      val cap = maxSinglePutBytes.min(Int.MaxValue.toLong).toInt
      val staging = new Path(p.getParent, p.getName + ".mpu")
      // a failed previous attempt may have left partial parts behind
      if (fs.exists(staging)) fs.delete(staging, true)
      // bytes.length > maxSinglePutBytes >= 1 on this branch; compute the
      // ceiling as (n-1)/cap+1 — the (n+cap-1) form overflows Int when
      // length + cap exceeds Int.MaxValue, yielding a negative part count
      // and a silently EMPTY final object.
      val nParts = (bytes.length - 1) / cap + 1
      (0 until nParts).foreach { i =>
        val off = i * cap
        put(new Path(staging, f"part-$i%05d"), bytes, off,
          math.min(cap, bytes.length - off))
      }
      // complete: assemble parts into the final object, then drop staging
      var out: OutputStream = null
      try {
        out = fs.create(p, true)
        (0 until nParts).foreach { i =>
          val in = fs.open(new Path(staging, f"part-$i%05d"))
          try org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, false)
          finally in.close()
        }
      } finally if (out != null) out.close()
      fs.delete(staging, true)
    }
  }
}

object HadoopBlobStore {
  /** S3's published single-PUT object limit. */
  val S3SinglePutLimit: Long = 5L * 1024 * 1024 * 1024

  /** Write `bytes` to a hidden sibling of `target`, then rename it over
    * `target` atomically; a failed write removes its temp file.
    */
  private def putLocal(target: JPath, bytes: Array[Byte]): Unit = {
    val dir = target.getParent
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".${target.getFileName}.${UUID.randomUUID()}.tmp")
    try {
      Files.write(tmp, bytes)
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    } catch { case e: Throwable =>
      Files.deleteIfExists(tmp)
      throw e
    }
  }
}

/** In-memory recording store for tests (the analogue of the reference's
  * MockEnvironment action log). Only valid in local mode (executors share
  * the JVM with the driver): task closures serialize the store, and
  * `readResolve` routes the deserialized copy back to the original
  * instance via the JVM-wide registry, so executor writes land in the
  * map the test is looking at.
  */
final class InMemoryBlobStore extends BlobStore {
  val id: String = java.util.UUID.randomUUID().toString
  InMemoryBlobStore.registry.put(id, this)

  @transient lazy val objects = new ConcurrentHashMap[String, Array[Byte]]()
  def write(path: String, bytes: Array[Byte]): Unit =
    InMemoryBlobStore.registry.get(id).objects.put(path, bytes)
  def paths: Seq[String] = {
    import scala.jdk.CollectionConverters._
    objects.keySet().asScala.toSeq.sorted
  }

  private def readResolve(): Object = {
    val orig = InMemoryBlobStore.registry.get(id)
    if (orig != null) orig else this
  }
}

object InMemoryBlobStore {
  private val registry = new ConcurrentHashMap[String, InMemoryBlobStore]()
}
