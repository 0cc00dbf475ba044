package graft

import java.io.ByteArrayInputStream
import java.nio.file.{Files, Path}
import java.time.Instant
import java.util.zip.GZIPInputStream

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkEnv
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.config._
import graft.sinks.HadoopBlobStore
import graft.streaming.LoaderPipeline

/** The loader across JVMs: `runBatch` on a standalone cluster whose
  * executors are separate JVMs, writing through the Hadoop store to a
  * local directory that the driver reads back. The `local[N]` suites run
  * the executor in the driver's JVM and cannot see what a multi-JVM
  * deployment decides differently: here, how many threads a hot schema
  * group deflates on.
  */
object LocalClusterSpec {
  val fixedNow: Instant = Instant.parse("1970-01-01T00:00:00Z")

  def gunzip(b: Array[Byte]): String =
    new String(new GZIPInputStream(new ByteArrayInputStream(b)).readAllBytes(), "UTF-8")

  def rawDf(spark: SparkSession, payloads: Seq[String]): DataFrame = {
    import spark.implicits._
    payloads.map(_.getBytes("UTF-8")).toDF("value")
  }

  /** Enriched TSV lines, about 360 bytes each, that all map to the one
    * atomic schema key.
    */
  def enrichedLines(n: Int): Seq[String] = (0 until n).map(i =>
    f"app\tweb\t\t1970-01-01 00:${i / 60 % 60}%02d:${i % 60}%02d.000\t\tpage_view\tid-$i" +
      (0 until 80).map(j => (i * 31 + j * j * 7) % 1000).mkString("\t", "\t", ""))

  /** Every object written under `dir` (staged files excluded): path → bytes. */
  def objects(dir: Path): Map[String, Array[Byte]] =
    if (!Files.exists(dir)) Map.empty
    else Files.walk(dir).iterator.asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
      .map(p => p.toString -> Files.readAllBytes(p)).toMap

  /** Per executor JVM that ran one of `slots` tasks: its processor count
    * and the number of deflate-pool threads alive in it. A pool thread is
    * started to run a submitted block and exits after 30 s idle, so right
    * after a write this counts the threads that write deflated on.
    */
  def deflateThreads(spark: SparkSession, slots: Int): Map[String, (Int, Int)] =
    spark.sparkContext.parallelize(0 until slots, slots).map { _ =>
      val live = Thread.getAllStackTraces.keySet.asScala.count(_.getName.startsWith("gzip-deflate-"))
      SparkEnv.get.executorId -> (Runtime.getRuntime.availableProcessors, live)
    }.collect().toMap
}

/** One executor of 4 cores, `spark.executor.cores` unset. */
class LocalClusterSpec extends AnyFunSuite with LocalClusterSuite {
  import LocalClusterSpec._

  protected def executors = 1
  protected def coresPerExecutor = 4
  protected def workerMemoryMb = 2048

  private def runEnriched(name: String, lines: Seq[String], maxBytes: Long)
      : (LoaderPipeline.Metrics, Map[String, Array[Byte]]) = {
    val cfg = LoaderConfig(Purpose.Enriched, Output(tmp.resolve(s"$name/good").toUri.toString),
      BadOutput(tmp.resolve(s"$name/bad").toUri.toString), Batching(maxBytes = maxBytes))
    val metrics = new LoaderPipeline.Metrics
    LoaderPipeline.runBatch(rawDf(spark, lines), cfg, new HadoopBlobStore(Map.empty), metrics,
      () => fixedNow)
    (metrics, objects(tmp.resolve(s"$name/good")))
  }

  test("a one-schema enriched batch writes every line once, each object within maxBytes plus one record") {
    assert(!spark.sparkContext.isLocal)
    assert(spark.sparkContext.getConf.getOption("spark.executor.cores").isEmpty)
    val lines = enrichedLines(12000)
    val maxBytes = 256L * 1024
    val (metrics, written) = runEnriched("roll", lines, maxBytes)

    assert(written.size > 1, s"${written.size} objects")
    assert(metrics.count.get == lines.size && metrics.badCount.get == 0)
    val maxRecord = lines.map(_.length + 1).max
    written.foreach { case (p, b) =>
      assert(b.length <= maxBytes + maxRecord + 64, s"$p: ${b.length} bytes")
    }
    assert(written.values.toSeq.flatMap(b => gunzip(b).linesIterator).sorted == lines.sorted)
  }

  test("a hot schema group deflates on the executor's 4 cores") {
    val lines = enrichedLines(25000) // about 9 MB: nine deflate blocks
    val (metrics, written) = runEnriched("hot", lines, 64L * 1024 * 1024)
    assert(written.size == 1 && metrics.count.get == lines.size)

    val byExecutor = deflateThreads(spark, cores)
    assert(byExecutor.size == 1, s"$byExecutor")
    val (procs, live) = byExecutor.values.head
    // one thread per core of the executor, as far as the host has them
    assert(live == math.min(coresPerExecutor, procs),
      s"the write deflated on $live threads of an executor of $coresPerExecutor cores ($procs cpus)")
    assert(gunzip(written.values.head).linesIterator.toSeq.sorted == lines.sorted)
  }
}

/** Two executors of 2 cores each, `spark.executor.cores` unset. */
class LocalClusterSdjSpec extends AnyFunSuite with LocalClusterSuite {
  import LocalClusterSpec._

  protected def executors = 2
  protected def coresPerExecutor = 2
  protected def workerMemoryMb = 1024

  test("SDJ golden: 20,000 lines over 37 schemas plus 1 bad line") {
    val good = (0 until 20000).map(i =>
      s"""{"schema":"iglu:com.example/event${i % 37}/jsonschema/1-0-0","data":{"i":$i}}""")
    val cfg = LoaderConfig.validate(LoaderConfig(Purpose.Sdj,
      Output(tmp.resolve("good").toUri.toString), BadOutput(tmp.resolve("bad").toUri.toString)))
      .toOption.get
    val metrics = new LoaderPipeline.Metrics
    LoaderPipeline.runBatch(rawDf(spark, good :+ "not json"), cfg, new HadoopBlobStore(Map.empty),
      metrics, () => fixedNow)

    assert(metrics.count.get == 20000)
    assert(metrics.badCount.get == 1)
    val goodObjects = objects(tmp.resolve("good"))
    val badObjects = objects(tmp.resolve("bad"))
    assert(goodObjects.size == 37)
    assert(badObjects.size == 1)
    assert(goodObjects.values.toSeq.flatMap(b => gunzip(b).linesIterator).sorted == good.sorted)
  }
}
