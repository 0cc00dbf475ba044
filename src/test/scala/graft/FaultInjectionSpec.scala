package graft

import java.io.ByteArrayInputStream
import java.nio.file.Files
import java.time.Instant
import java.util.zip.GZIPInputStream

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.config._
import graft.sinks.{FaultyLocalFileSystem, HadoopBlobStore}
import graft.streaming.LoaderPipeline

/** Write-path fault injection through a real Hadoop FileSystem: a task
  * dies mid-object-PUT (partial bytes land at the target key, then the
  * task fails), Spark retries the task, and under idempotent naming the
  * retry must converge to exactly the expected object set — no duplicate
  * lines, no missing lines, no surviving partial garbage. This is the
  * claim the loader makes about object-store semantics (PUT-overwrite +
  * deterministic names ⇒ at-least-once execution, exactly-once content)
  * tested beyond file:// — the `s3x://` scheme goes through the same
  * `fs.<scheme>.impl` registration a production S3 connector uses.
  */
class FaultInjectionSpec extends AnyFunSuite with SparkSuite {

  // local[4, 2]: allow ONE task retry — the fault must fail the attempt,
  // not the job.
  override protected def sparkConf = Map(
    "spark.master" -> "local[4, 2]", "spark.app.name" -> "fault-injection-spec")

  private val fixedNow = Instant.parse("1970-01-01T00:00:00Z")

  private def gunzip(b: Array[Byte]): String =
    new String(new GZIPInputStream(new ByteArrayInputStream(b)).readAllBytes())

  private def tsv(ts: String, id: String): String =
    s"app\tweb\t\t$ts\t\tpage_view\t$id"

  private def rawDf(payloads: Seq[String]): DataFrame = {
    import spark.implicits._
    payloads.map(_.getBytes("UTF-8")).toDF("value")
  }

  private val fsConf = Map(
    "fs.s3x.impl" -> classOf[FaultyLocalFileSystem].getName)

  test("a mid-PUT task death + retry yields no duplicate/missing lines under idempotent naming") {
    val dir = Files.createTempDirectory("s3x_fault").toString
    val cfg = LoaderConfig(Purpose.Enriched,
      Output(s"s3x://$dir/good", idempotentNames = true),
      BadOutput(s"s3x://$dir/bad"))
    val lines = (1 to 50).map(i => tsv(f"1970-01-01 00:00:$i%02.0f.000", s"id-$i"))

    val store = new HadoopBlobStore(fsConf)
    val metrics = new LoaderPipeline.Metrics
    FaultyLocalFileSystem.armFaults(1)
    LoaderPipeline.runBatch(rawDf(lines), cfg, store, metrics, () => fixedNow,
      batchId = Some(42L))

    // the fault genuinely fired (so a task DID die and retry)
    assert(FaultyLocalFileSystem.faultsFired.get() == 1,
      "expected the injected fault to hit the write path")

    // every input line present exactly once across the good objects
    val goodFiles = new java.io.File(s"$dir/good").listFiles().toSeq
      .filter(_.getName.endsWith(".gz"))
    assert(goodFiles.nonEmpty)
    val written = goodFiles
      .flatMap(f => gunzip(Files.readAllBytes(f.toPath)).linesIterator)
    assert(written.sorted == lines.sorted,
      s"expected ${lines.size} unique lines, got ${written.size} " +
        s"(${written.distinct.size} distinct)")
    // no partial garbage object survived the retry
    assert(!written.exists(_.contains("partial-garbage")))
    assert(metrics.count.get() == lines.size)
  }

  test("a store-level mid-PUT death: the retry stores exact bytes") {
    // the Hadoop put without Spark: the faulted create leaves partial
    // garbage at the key and throws, and the retried write() must replace
    // it with the exact bytes, leaving nothing else in the store
    val dir = Files.createTempDirectory("s3x_put_unit").toString
    val store = new HadoopBlobStore(fsConf)
    val bytes = Array.tabulate[Byte](1000)(i => (i % 251).toByte)
    val target = java.nio.file.Paths.get(s"$dir/big.bin")
    FaultyLocalFileSystem.armFaults(1)
    intercept[java.io.IOException] {
      store.write(s"s3x://$dir/big.bin", bytes)
    }
    assert(FaultyLocalFileSystem.faultsFired.get() == 1)
    // the failed attempt left its partial object at the key
    assert(new String(Files.readAllBytes(target), "UTF-8") == "partial-garbage")
    // at-least-once retry
    store.write(s"s3x://$dir/big.bin", bytes)
    assert(java.util.Arrays.equals(Files.readAllBytes(target), bytes),
      "retried content differs")
    def walkAll(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walkAll) else Seq(f)
    val listing = walkAll(new java.io.File(dir)).map(_.getName).sorted
    assert(listing == Seq("big.bin"), s"unexpected objects: $listing")
  }

  test("the same batch replayed end-to-end after a fault overwrites, never duplicates") {
    // Simulates the streaming at-least-once path: the WHOLE batch re-runs
    // (checkpoint not yet committed when the first run's job failed).
    val dir = Files.createTempDirectory("s3x_replay").toString
    val cfg = LoaderConfig(Purpose.Enriched,
      Output(s"s3x://$dir/good", idempotentNames = true),
      BadOutput(s"s3x://$dir/bad"))
    val lines = (1 to 20).map(i => tsv(f"1970-01-01 00:00:$i%02.0f.000", s"id-$i"))
    val store = new HadoopBlobStore(fsConf)

    // first delivery fails the JOB: more faults than the retry budget
    FaultyLocalFileSystem.armFaults(10)
    intercept[Exception] {
      LoaderPipeline.runBatch(rawDf(lines), cfg, store,
        new LoaderPipeline.Metrics, () => fixedNow, batchId = Some(7L))
    }
    FaultyLocalFileSystem.armFaults(0)

    // redelivery of the SAME batch id (at-least-once) must converge
    val metrics = new LoaderPipeline.Metrics
    LoaderPipeline.runBatch(rawDf(lines), cfg, store, metrics, () => fixedNow,
      batchId = Some(7L))
    val written = new java.io.File(s"$dir/good").listFiles().toSeq
      .filter(_.getName.endsWith(".gz"))
      .flatMap(f => gunzip(Files.readAllBytes(f.toPath)).linesIterator)
    assert(written.sorted == lines.sorted,
      s"expected ${lines.size} unique lines, got ${written.size}")
    assert(metrics.count.get() == lines.size)
  }

  test("a mid-PUT death inside micro-batch N: query restart replays N from the checkpoint to exactly-once content") {
    // The REAL streaming path (r6 punch item 9): the two cases above
    // fault the batch writeBatch flow; this one arms the fault inside a
    // running Structured Streaming query, kills micro-batch N's job
    // (beyond the task-retry budget), RESTARTS the query on the same
    // checkpoint, and proves (a) the restart resumes AT batch N — replay,
    // never skip — and (b) the object store converges to exactly-once
    // content across the failed attempt and the replay.
    import scala.concurrent.duration._
    import graft.sources.RecordSources
    val streamDir = Files.createTempDirectory("s3x_stream_src")
    val outDir = Files.createTempDirectory("s3x_stream_out").toString
    val ckpt = Files.createTempDirectory("s3x_stream_ckpt")
    def tsvAt(i: Int) = tsv(f"1970-01-01 00:00:$i%02d.000", s"id-$i")
    def appendShard(lines: Seq[String]): Unit =
      Files.write(streamDir.resolve("shard-0000"),
        lines.mkString("", "\n", "\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    val batch0 = (1 to 10).map(tsvAt)
    val batchN = (11 to 25).map(tsvAt)
    appendShard(batch0)
    val cfg = LoaderConfig(Purpose.Enriched,
      Output(s"s3x://$outDir/good", idempotentNames = true),
      BadOutput(s"s3x://$outDir/bad"),
      batching = Batching(maxDelay = 50.millis),
      checkpointLocation = Some(ckpt.toString))
    val store = new HadoopBlobStore(fsConf)
    val src = RecordSources.Kinesis(streamName = streamDir.toString,
      region = "local", initialPosition = "TRIM_HORIZON",
      connectorFormat = "graft-kinesis")

    // batch 0 commits cleanly
    val m1 = new LoaderPipeline.Metrics
    val q1 = LoaderPipeline.stream(
      RecordSources.build(spark, src), cfg, store, m1, () => fixedNow).start()
    val (failedBatch, fired) = try {
      q1.processAllAvailable()
      assert(m1.count.get() == batch0.size)
      val committed = q1.lastProgress.batchId
      // now batch N arrives and every write attempt dies mid-PUT
      appendShard(batchN)
      FaultyLocalFileSystem.armFaults(100)
      intercept[Exception] { q1.processAllAvailable(); q1.awaitTermination() }
      (committed + 1, FaultyLocalFileSystem.faultsFired.get()) // read BEFORE disarm resets it
    } finally {
      FaultyLocalFileSystem.armFaults(0)
      q1.stop()
    }
    assert(fired > 0, "expected the injected fault to kill micro-batch N")

    // restart on the same checkpoint: must REPLAY batch N, not skip it
    val m2 = new LoaderPipeline.Metrics
    val q2 = LoaderPipeline.stream(
      RecordSources.build(spark, src), cfg, store, m2, () => fixedNow).start()
    try {
      q2.processAllAvailable()
      val replayed = q2.recentProgress.filter(_.numInputRows > 0).map(_.batchId)
      assert(replayed.nonEmpty && replayed.min == failedBatch,
        s"restart must resume at the failed batch $failedBatch, got ${replayed.mkString(",")}")
      assert(m2.count.get() == batchN.size,
        s"the replay must process exactly batch N's ${batchN.size} records")
    } finally q2.stop()

    // exactly-once content across the failure + replay
    val written = new java.io.File(s"$outDir/good").listFiles().toSeq
      .filter(_.getName.endsWith(".gz"))
      .flatMap(f => gunzip(Files.readAllBytes(f.toPath)).linesIterator)
    assert(written.sorted == (batch0 ++ batchN).sorted,
      s"expected ${(batch0 ++ batchN).size} unique lines, got ${written.size} " +
        s"(${written.distinct.size} distinct)")
  }
}
