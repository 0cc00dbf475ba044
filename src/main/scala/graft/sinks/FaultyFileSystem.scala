package graft.sinks

import java.io.IOException
import java.net.URI
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** A local filesystem registered under `s3x://` that injects transient
  * write faults — the closest an offline sandbox can get to exercising
  * the object-store failure mode the loader's idempotent naming exists
  * for (a task dies mid-PUT, leaving a partial object at the target key,
  * and the retried task must converge to exactly-once CONTENT without
  * any rename/commit ceremony — reference S3Sink.scala:29-41 relies on
  * S3 PUT-overwrite the same way).
  *
  * While armed, each faulted `create` call first writes a partial
  * garbage object at the real target path (simulating the bytes that
  * reached the store before the failure) and then throws, failing the
  * Spark task. Registration is config-only:
  * `fs.s3x.impl = graft.sinks.FaultyLocalFileSystem` — the same
  * mechanism that would swap in a real S3 connector in production.
  */
class FaultyLocalFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "s3x"
  override def getUri: URI = URI.create("s3x:///")

  private def maybeFault(f: Path, write: Boolean =>
      org.apache.hadoop.fs.FSDataOutputStream): Unit =
    if (FaultyLocalFileSystem.takeFault()) {
      // leave a partial garbage object behind, like an interrupted PUT
      val out = write(true)
      out.write("partial-garbage".getBytes("UTF-8"))
      out.close()
      FaultyLocalFileSystem.faultsFired.incrementAndGet()
      throw new IOException(s"injected transient fault on $f")
    }

  // RawLocalFileSystem implements BOTH create chains (with and without
  // FsPermission) as first-class entry points — intercept both.
  override def create(
      f: Path,
      permission: FsPermission,
      overwrite: Boolean,
      bufferSize: Int,
      replication: Short,
      blockSize: Long,
      progress: Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    maybeFault(f, ow => super.create(f, permission, ow, bufferSize,
      replication, blockSize, progress))
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  override def create(
      f: Path,
      overwrite: Boolean,
      bufferSize: Int,
      replication: Short,
      blockSize: Long,
      progress: Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    maybeFault(f, ow => super.create(f, ow, bufferSize, replication,
      blockSize, progress))
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object FaultyLocalFileSystem {
  private val faultsRemaining = new AtomicInteger(0)
  val faultsFired = new AtomicInteger(0)

  /** Arm the next `n` creates (JVM-wide — executors share the JVM in
    * local mode) to fail after writing a partial object.
    */
  def armFaults(n: Int): Unit = {
    faultsFired.set(0)
    faultsRemaining.set(n)
  }

  private def takeFault(): Boolean =
    faultsRemaining.getAndUpdate(x => math.max(0, x - 1)) > 0
}
