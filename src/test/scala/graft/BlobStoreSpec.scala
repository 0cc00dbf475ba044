package graft

import java.io.ByteArrayInputStream
import java.nio.file.{Files, Path}
import java.time.Instant
import java.util.zip.GZIPInputStream

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.config._
import graft.sinks.{BlobStore, HadoopBlobStore}
import graft.streaming.LoaderPipeline

/** `HadoopBlobStore` on `file://`: the local branch writes each object with
  * one NIO write to a hidden temp sibling and an atomic rename, so an
  * object is whole or absent and no `.crc` sidecar or temp file is left
  * behind. Non-local stores keep the Hadoop path (FaultInjectionSpec).
  */
class BlobStoreSpec extends AnyFunSuite with SparkSuite {

  override protected def sparkConf = Map("spark.app.name" -> "blob-store-spec")

  private def files(root: Path): Seq[Path] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq.sortBy(_.toString)
    finally s.close()
  }

  private def bytesOf(n: Int, seed: Int): Array[Byte] = {
    val r = new scala.util.Random(seed)
    Array.fill(n)(r.nextInt(256).toByte)
  }

  test("a file:// write creates missing parent directories and stores the exact bytes") {
    val dir = Files.createTempDirectory("blob_local")
    val store = new HadoopBlobStore(Map.empty)
    val bytes = bytesOf(1000, 1)
    val target = dir.resolve("a/b/c/obj.gz")
    store.write(target.toUri.toString, bytes)
    assert(Files.readAllBytes(target).sameElements(bytes))
    assert(files(dir) == Seq(target))
  }

  test("a second file:// write to the same path replaces the object whole") {
    val dir = Files.createTempDirectory("blob_replace")
    val store = new HadoopBlobStore(Map.empty)
    val target = dir.resolve("x/obj.gz")
    store.write(target.toUri.toString, bytesOf(5000, 2))
    val second = bytesOf(10, 3)
    store.write(target.toUri.toString, second)
    assert(Files.readAllBytes(target).sameElements(second))
    assert(files(dir) == Seq(target))
  }

  test("a failed file:// put leaves no temp file behind") {
    val dir = Files.createTempDirectory("blob_fail")
    // a non-empty directory at the target name: the rename must fail
    val target = dir.resolve("obj.gz")
    Files.createDirectories(target)
    Files.write(target.resolve("keep"), Array[Byte](1))
    val store = new HadoopBlobStore(Map.empty)
    intercept[java.io.IOException](store.write(target.toUri.toString, bytesOf(100, 4)))
    assert(files(dir) == Seq(target.resolve("keep")))
  }

  test("a file:// runBatch leaves only .gz objects: no .crc sidecar, no .tmp file") {
    val dir = Files.createTempDirectory("blob_batch")
    val cfg = LoaderConfig.validate(LoaderConfig(Purpose.Sdj,
      Output(dir.resolve("good").toUri.toString),
      BadOutput(dir.resolve("bad").toUri.toString))).toOption.get
    val payloads = (1 to 40).map(i =>
      s"""{"schema":"iglu:com.example/event${i % 5}/jsonschema/1-0-0","data":{"i":$i}}""") ++
      Seq("not json at all", """{"data":{"f":"no-schema"}}""")
    import spark.implicits._
    val metrics = new LoaderPipeline.Metrics
    LoaderPipeline.runBatch(payloads.map(_.getBytes("UTF-8")).toDF("value"), cfg,
      new HadoopBlobStore(Map.empty), metrics,
      () => Instant.parse("1970-01-01T00:00:00Z"))

    val written = files(dir)
    assert(written.nonEmpty)
    assert(written.forall(_.getFileName.toString.endsWith(".gz")), written.mkString("\n"))
    val lines = written.flatMap { p =>
      new String(new GZIPInputStream(new ByteArrayInputStream(Files.readAllBytes(p)))
        .readAllBytes(), "UTF-8").linesIterator
    }
    assert(lines.size == payloads.size)
    assert(metrics.count.get() == 40 && metrics.badCount.get() == 2)
    assert(metrics.objectsWritten.get() == written.count(_.startsWith(dir.resolve("good"))))
  }

  test("put time reaches the metrics: the driver sums each sink's task-measured puts") {
    val cfg = LoaderConfig.validate(LoaderConfig(Purpose.Sdj,
      Output("slow://good"), BadOutput("slow://bad"))).toOption.get
    val payloads = (1 to 6).map(i =>
      s"""{"schema":"iglu:com.example/event$i/jsonschema/1-0-0","data":{"i":$i}}""") :+
      "not json at all"
    import spark.implicits._
    val metrics = new LoaderPipeline.Metrics
    LoaderPipeline.runBatch(payloads.map(_.getBytes("UTF-8")).toDF("value"), cfg,
      new SleepingStore(20), metrics)
    assert(metrics.objectsWritten.get() == 6)
    assert(metrics.putMillis.get() >= 6 * 20)
    assert(metrics.badPutMillis.get() >= 20)
  }
}

/** Discards every object after sleeping `millis`: a store with a known
  * minimum put time.
  */
final class SleepingStore(millis: Long) extends BlobStore {
  def write(path: String, bytes: Array[Byte]): Unit = Thread.sleep(millis)
}
