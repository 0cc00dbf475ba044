package graft.sinks

import java.net.URI
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
  * the standard connectors; the production path. One put per object: a
  * create-write-close, no commit protocol and no staging. Objects are
  * uniquely named (by UUID, or deterministically under idempotent naming),
  * so a retried task overwrites its own objects — the same contract as the
  * reference's single S3 PUT per batch (S3Sink.scala:29-41), where
  * at-least-once delivery rests on the PUT being atomic and its name
  * deterministic.
  *
  * No multipart route is needed: an object arrives as one JVM array, and
  * the writer that builds it rolls at `batching.maxBytes`, which
  * `LoaderConfig.validate` caps at `RollingGzipWriter.MaxObjectBytes`
  * (1 GiB), far below S3's 5 GiB single-PUT limit. A connector that
  * prefers parts for large bodies (Hadoop's S3A) splits the upload itself.
  *
  * LOCAL BRANCH. When the path resolves to Hadoop's checksummed
  * `LocalFileSystem` (the `file://` default; the Spark distribution
  * registers Hive's `ProxyLocalFileSystem`, a subclass that changes only
  * `rename`), the object is written with plain NIO instead: without the
  * Hadoop native library, `LocalFileSystem.create` writes a `.crc` sidecar
  * beside every object and `RawLocalFileSystem.setPermission` forks a
  * `chmod` process for each of the two files — about 11 ms per put against
  * 0.2 ms for one NIO write of a small object. The put is a [[StagedFile]]
  * published by an atomic rename over the target, so a local put appears
  * whole or not at all, like an S3 PUT: a task killed mid-write leaves
  * only a dot-prefixed `.tmp` file, never a truncated object under the
  * real name. Every other
  * filesystem — s3a, hdfs, an `fs.file.impl` that is not a
  * `LocalFileSystem` (e.g. `RawLocalFileSystem`), the `s3x://` test
  * double — takes the Hadoop put; a task death there leaves at most a
  * partial object under the real name, which the retry overwrites
  * (fault-injected in FaultInjectionSpec).
  *
  * The Hadoop `Configuration` (with `confSerde` applied) is built once per
  * JVM and `confSerde`, not per put nor per task: a fresh one re-parses
  * Hadoop's default XML resources on first lookup, 15–30 ms, which each
  * write task of every micro-batch paid on its first put while the store
  * (deserialized per task) built its own. The `FileSystem` is still
  * resolved per path: good and bad paths may use different schemes.
  */
final class HadoopBlobStore(confSerde: Map[String, String]) extends BlobStore {
  @transient private lazy val conf: Configuration = HadoopBlobStore.conf(confSerde)

  def write(path: String, bytes: Array[Byte]): Unit = {
    val p = new Path(new URI(path))
    FileSystem.get(p.toUri, conf) match {
      case local: LocalFileSystem =>
        val file = new StagedFile(local.pathToFile(p).toPath, replace = true)
        try file.out.write(bytes) catch { case e: Throwable => file.discard(); throw e }
        file.publish()
      case fs =>
        val out = fs.create(p, true)
        try out.write(bytes) finally out.close()
    }
  }
}

object HadoopBlobStore {
  private val confs = new ConcurrentHashMap[Map[String, String], Configuration]()

  /** The JVM's one read-only `Configuration` for `confSerde`. */
  private def conf(confSerde: Map[String, String]): Configuration =
    confs.computeIfAbsent(confSerde, _ => {
      val c = new Configuration()
      confSerde.foreach { case (k, v) => c.set(k, v) }
      c
    })
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
