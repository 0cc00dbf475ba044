package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Instant
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.model.SchemaKey
import graft.sinks.{BlobStore, InMemoryBlobStore, RollingGzipWriter}

/** The rolling gzip writer on its own, without Spark: content, roll
  * points against the compressed size bound and the record bound, per-object
  * metrics, and compression against one gzip stream over the same lines.
  */
class RollingGzipWriterSpec extends AnyFunSuite {

  private val now = Instant.parse("2024-01-01T00:00:00Z")

  private val words = Vector("page_view", "web", "app", "1.0.0", "en-GB",
    "https://example.com/", "Mozilla/5.0", "1970-01-01 00:00:00.000",
    "iglu:com.snowplowanalytics", "jsonschema", "éèü", "日本")

  /** Seeded lines: enriched-TSV-like ones that compress well, and random
    * ones that barely compress; each with an event time, or none.
    */
  private def lines(seed: Long, n: Int): Seq[(String, java.lang.Long)] = {
    val rnd = new Random(seed)
    (0 until n).map { i =>
      val line =
        if (rnd.nextInt(3) > 0)
          Seq.fill(20 + rnd.nextInt(100))(words(rnd.nextInt(words.size))).mkString("\t") + s"\t$i"
        else rnd.alphanumeric.take(20 + rnd.nextInt(400)).mkString
      val ts = if (rnd.nextInt(5) == 0) null else java.lang.Long.valueOf(rnd.nextInt(1000000).toLong)
      (line, ts)
    }
  }

  private def gunzip(b: Array[Byte]): String =
    new String(new GZIPInputStream(new ByteArrayInputStream(b)).readAllBytes(), UTF_8)

  private def oneShotGzip(content: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos)
    gz.write(content.getBytes(UTF_8)); gz.close()
    bos.toByteArray
  }

  /** Worst-case deflate output of one record (its line plus '\n'). */
  private def recordBound(line: String): Long = {
    val n = line.getBytes(UTF_8).length + 1L
    n + (n >>> 10) + 64
  }

  private def write(maxBytes: Long, maxRecords: Long, in: Seq[(String, java.lang.Long)],
      threads: Int = 1) = {
    val store = new InMemoryBlobStore
    val cfg = RollingGzipWriter.SinkConfig("mem://out", maxBytes = maxBytes, maxRecords = maxRecords)
    val actions = RollingGzipWriter.writeGroup(store, cfg, SchemaKey.Atomic, now, in.iterator,
      threads = threads)
    (actions, actions.map(a => store.objects.get(a.path)))
  }

  /** Content, roll points and per-object metrics of one write of `in`. */
  private def checkObjects(maxBytes: Long, maxRecords: Long, in: Seq[(String, java.lang.Long)],
      actions: Seq[RollingGzipWriter.WriteAction], objects: Seq[Array[Byte]]): Unit = {
    assert(objects.map(gunzip).mkString == in.map(_._1 + "\n").mkString)
    assert(actions.map(_.compressedBytes) == objects.map(_.length.toLong))

    // objects hold consecutive runs of the input, in order
    val runs = actions.scanLeft(0L)(_ + _.recordCount).sliding(2).map {
      case Seq(from, until) => in.slice(from.toInt, until.toInt)
    }.toSeq
    assert(runs.map(_.size.toLong).sum == in.size)
    actions.zip(objects).zip(runs).zipWithIndex.foreach { case (((a, bytes), run), i) =>
      assert(a.recordCount > 0 && a.recordCount <= maxRecords)
      val ts = run.flatMap(r => Option(r._2)).map(_.longValue)
      assert(a.minTstampMicros == ts.reduceOption(_ min _), s"object $i")
      // no size roll comes early: only the last object, or one cut by the
      // record bound, may stay within maxBytes
      if (i < actions.size - 1 && a.recordCount < maxRecords)
        assert(bytes.length > maxBytes, s"object $i rolled early")
      // no roll comes late: at most one record past the bound
      assert(bytes.length <= maxBytes + recordBound(run.last._1) + 32,
        s"object $i (${bytes.length} bytes) rolled late")
    }
  }

  for {
    maxBytes <- Seq(64L, 150L, 4096L, 64L * 1024 * 1024)
    maxRecords <- Seq(3L, Long.MaxValue)
  } test(s"maxBytes=$maxBytes maxRecords=$maxRecords: content, roll points and metrics") {
    val in = lines(maxBytes * 31 + maxRecords % 1000, 600)
    val (actions, objects) = write(maxBytes, maxRecords, in)
    checkObjects(maxBytes, maxRecords, in, actions, objects)
    if (maxBytes == 64L * 1024 * 1024 && maxRecords == Long.MaxValue) assert(actions.size == 1)
  }

  test("under a bound it never reaches, the object is as small as one gzip stream") {
    val in = lines(7, 2000)
    val (actions, objects) = write(64L * 1024 * 1024, Long.MaxValue, in)
    assert(actions.size == 1)
    val oneShot = oneShotGzip(in.map(_._1 + "\n").mkString).length
    assert(objects.head.length <= oneShot + 64,
      s"${objects.head.length} bytes vs $oneShot for one gzip stream")
  }

  /** 16 MiB of seeded lines: sixteen deflate blocks, about 3 MB gzipped. */
  private lazy val bigGroup: Seq[(String, java.lang.Long)] = {
    val in = lines(11, 40000)
    val sizes = in.map(_._1.getBytes(UTF_8).length + 1L).scanLeft(0L)(_ + _)
    in.take(sizes.indexWhere(_ >= 16L * 1024 * 1024))
  }

  test("a multi-block group: the same bytes at 1, 2 and 4 threads, within 0.1 % of one gzip stream") {
    val byThreads = Seq(1, 2, 4).map { t =>
      val (actions, objects) = write(64L * 1024 * 1024, Long.MaxValue, bigGroup, t)
      assert(actions.size == 1, s"threads=$t")
      assert(gunzip(objects.head) == bigGroup.map(_._1 + "\n").mkString, s"threads=$t")
      objects.head
    }
    assert(byThreads.forall(java.util.Arrays.equals(_, byThreads.head)))
    val oneShot = oneShotGzip(bigGroup.map(_._1 + "\n").mkString).length
    assert(byThreads.head.length <= oneShot * 1.001,
      s"${byThreads.head.length} bytes vs $oneShot for one gzip stream")
  }

  test("a multi-block group under a bound inside it: roll points and metrics at 1, 2 and 4 threads") {
    val maxBytes = 1536L * 1024
    val byThreads = Seq(1, 2, 4).map { t =>
      val (actions, objects) = write(maxBytes, Long.MaxValue, bigGroup, t)
      assert(actions.size >= 2, s"threads=$t")
      checkObjects(maxBytes, Long.MaxValue, bigGroup, actions, objects)
      (actions.map(_.recordCount), objects)
    }
    byThreads.tail.foreach { case (counts, objects) =>
      assert(counts == byThreads.head._1)
      assert(objects.zip(byThreads.head._2).forall { case (a, b) => java.util.Arrays.equals(a, b) })
    }
  }

  test("concurrent writers at 1, 2, 4 and 64 threads share the one pool and write the inline bytes") {
    val inline = write(64L * 1024 * 1024, Long.MaxValue, bigGroup)._2.head
    val callers = java.util.concurrent.Executors.newFixedThreadPool(4)
    val byThreads =
      try Seq(1, 2, 4, 64)
        .map(t => t -> callers.submit(() => write(64L * 1024 * 1024, Long.MaxValue, bigGroup, t)))
        .map { case (t, f) => t -> f.get() }
      finally callers.shutdown()
    byThreads.foreach { case (t, (actions, objects)) =>
      assert(actions.size == 1, s"threads=$t")
      assert(java.util.Arrays.equals(objects.head, inline), s"threads=$t")
    }
    assert(RollingGzipWriter.DeflatesPending.get == 0)
    val pool = RollingGzipWriter.DeflatePool
    assert(pool.pool.getLargestPoolSize <= pool.size && pool.pool.getMaximumPoolSize == pool.size)
  }

  test("a failure with blocks in flight: the same exception, no deflate left behind, the pool reusable") {
    val refused = new java.io.IOException("put refused")
    val refusing = new BlobStore {
      def write(path: String, bytes: Array[Byte]): Unit = throw refused
    }
    val cfg = RollingGzipWriter.SinkConfig("mem://out")
    val thrown = intercept[java.io.IOException] {
      RollingGzipWriter.writeGroup(refusing, cfg, SchemaKey.Atomic, now, bigGroup.iterator,
        threads = 4)
    }
    assert(thrown eq refused)
    assert(RollingGzipWriter.DeflatesPending.get == 0)

    // the input fails half way, with blocks queued and running
    val broken = new IllegalStateException("source failed")
    val half = bigGroup.take(bigGroup.size / 2).iterator ++ Iterator.continually[(String, java.lang.Long)](throw broken)
    val store = new InMemoryBlobStore
    assert(intercept[IllegalStateException] {
      RollingGzipWriter.writeGroup(store, cfg, SchemaKey.Atomic, now, half, threads = 4)
    } eq broken)
    assert(RollingGzipWriter.DeflatesPending.get == 0)
    assert(store.paths.isEmpty)

    val (actions, objects) = write(64L * 1024 * 1024, Long.MaxValue, bigGroup, 4)
    assert(actions.size == 1)
    assert(gunzip(objects.head) == bigGroup.map(_._1 + "\n").mkString)
  }
}
