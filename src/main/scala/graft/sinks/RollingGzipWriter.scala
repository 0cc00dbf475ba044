package graft.sinks

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.time.Instant
import java.util.UUID
import java.util.concurrent.{ExecutionException, FutureTask, LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import java.util.zip.{CRC32, Deflater}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkEnv

import graft.model.SchemaKey

/** Rolling gzip batch writer (reference operators T2 + F14 + S5).
  *
  * Semantics preserved from the reference:
  *  - file content = each line + '\n', concatenated in arrival order,
  *    gzip-compressed (CompressedStream.scala:27-33; golden
  *    ProcessingSpec.scala:71 expects "line\nline\n")
  *  - the size bound is a soft limit on COMPRESSED bytes, checked after
  *    append — a file may overshoot by one record (Processing.scala:249).
  *    The check is exact: deflate is sync-flushed on demand, only when the
  *    bytes compressed since the last flush could carry the stream past the
  *    bound, so a file rolls after the first record at which its own
  *    flushed size passes the bound
  *  - every file gets a templated partition path + UUID filename
  *    (DynamicPath.scala:54-108)
  *
  * Block-parallel deflate (pigz's method, https://zlib.net/pigz/): an
  * object's raw bytes are cut at record boundaries into blocks of at least
  * [[BlockSize]]. Each block is deflated by its own raw `Deflater`, primed
  * with the last 32 KiB of input before it (`setDictionary`, so matches
  * still reach back across the cut) and ended with a sync flush, except the
  * object's last block, which finishes the stream. The blocks are appended
  * in order behind one gzip header; the trailer's CRC32 and length are
  * computed serially over the raw bytes. A writer given `threads` > 1
  * deflates its blocks on the JVM's one daemon pool, sized to the cores of
  * the executor it runs in, with at most 2 × min(`threads`, pool size) in
  * flight; with 1 (or a one-thread pool) they are deflated inline, by the
  * same code.
  *
  * Near the bound: while the object's size so far plus the worst-case
  * deflate output of every byte not yet appended (blocks in flight and the
  * open block) stays within maxBytes, no block can carry the object past
  * it, so blocks may be deflated anywhere. Once that sum could pass
  * maxBytes, the blocks in flight are drained and the open block is cut at
  * this record and deflated inline — the sync flush on demand — so the roll
  * point stays exact.
  *
  * Every cut depends only on the input and the bounds (the near-bound test
  * drains before it decides), never on the thread count or on timing, so an
  * object's bytes are the same at any `threads`, and replays with
  * idempotent names rewrite identical objects.
  *
  * The reference sync-flushes after every record, which makes each line its
  * own deflate block; here blocks span many records, so the object bytes
  * differ from the reference's (and are smaller) while the gunzipped
  * content is identical.
  *
  * Scale and memory: the reference bounds the whole in-flight batch
  * because it is a single-node loader, and keeps one open writer per schema
  * group per window (Processing.scala:69-77). Here a write task keeps one
  * open [[GroupWriter]] per schema key of its partition, plus one for its
  * bad rows, and pushes each row to its key's writer as it arrives — the
  * partition is never sorted. A writer holds at most one object: its gzip
  * bytes so far, the open block's raw bytes (up to [[BlockSize]]), and for
  * a hot group the capped blocks in flight. A task's memory is that, summed
  * over the keys it holds open, which is the reference's memory model; each
  * group still rolls its own files at maxBytes with no coordination, which
  * is what matters at 1000 executors. A hot group's blocks deflate on the
  * executor's cores that its sibling tasks leave idle.
  */
object RollingGzipWriter {

  /** One object written. `putMillis` is the wall time of its
    * `store.write` call, measured in the writing task.
    */
  final case class WriteAction(
      path: String,
      recordCount: Long,
      compressedBytes: Long,
      minTstampMicros: Option[Long] = None,
      putMillis: Double = 0.0)

  /** The largest `maxBytes` a writer can honour. An object is built in one
    * `ByteArrayOutputStream` and copied once by `toByteArray`, and a JVM
    * array holds under 2 GiB, so a bound near that fails with
    * `OutOfMemoryError` instead of rolling. `LoaderConfig.validate`
    * rejects a larger `batching.maxBytes`.
    */
  val MaxObjectBytes: Long = 1L << 30

  final case class SinkConfig(
      basePath: String,
      prefix: String = "",
      partitionFormat: Option[String] = None,
      maxBytes: Long = 64L * 1024 * 1024,
      // record-count bound per object — the bad sink's chunking contract
      // (reference recordLimit=500 per PutRecords request,
      // Processing.scala:315-331); Long.MaxValue = unbounded (good output)
      maxRecords: Long = Long.MaxValue,
      // false = idempotent naming: no wall-clock prefix in filenames, the
      // (deterministic) uuid alone names the object
      timestampedNames: Boolean = true)

  /** One schema group's rolling writer, fed one record at a time: `add`
    * each record in arrival order, then `finish` to put the last object and
    * get one action per object written; after a failure, `cancel` drops the
    * open object and its blocks in flight. An object is put as soon as its
    * gzip stream's byte count passes maxBytes (or it holds maxRecords), so
    * the writer holds at most one object at a time. `threads` > 1 deflates
    * a large group's blocks on the JVM's [[DeflatePool]], with at most
    * 2 × min(`threads`, pool size) in flight; the objects are the same at
    * any value.
    *
    * Count and min-event-time metrics accumulate as records arrive, so the
    * caller never needs a separate aggregation job over the batch — at
    * 100 TB a stats pre-pass would be a second full scan+parse of the input.
    */
  final class GroupWriter(
      store: BlobStore,
      cfg: SinkConfig,
      schema: SchemaKey,
      now: Instant,
      newUuid: () => UUID = () => UUID.randomUUID(),
      threads: Int = 1) {
    private val lanes = if (threads > 1) math.min(threads, DeflatePool.size) else 1
    private val pool = if (lanes > 1) Some(DeflatePool.pool) else None
    private val actions = ArrayBuffer.empty[WriteAction]
    private var obj: GzipObject = null // null between objects
    private var count = 0L
    private var minTs = Long.MaxValue

    /** Append one record: its UTF-8 line (without '\n') and its event
      * time in microseconds, or [[NoTstamp]].
      */
    def add(line: Array[Byte], tsUs: Long): Unit = {
      if (obj == null) {
        obj = new GzipObject(cfg.maxBytes, pool, 2 * lanes)
        count = 0L
        minTs = Long.MaxValue
      }
      obj.add(line)
      count += 1
      if (tsUs < minTs) minTs = tsUs
      if (obj.size > cfg.maxBytes || count >= cfg.maxRecords) emit()
    }

    /** Put the open object, if any; the actions of every object written. */
    def finish(): Seq[WriteAction] = {
      if (obj != null) emit()
      actions.toSeq
    }

    /** Drop the open object, if any, and its blocks in flight. */
    def cancel(): Unit = if (obj != null) {
      obj.cancel()
      obj = null
    }

    private def emit(): Unit = {
      val bytes = obj.finish()
      obj = null
      val path = DynamicPath.getFullPath(
        cfg.basePath, cfg.prefix, cfg.partitionFormat, now, schema, newUuid(),
        cfg.timestampedNames)
      val t0 = System.nanoTime()
      store.write(path, bytes)
      val putMillis = (System.nanoTime() - t0) / 1e6
      actions += WriteAction(path, count, bytes.length.toLong,
        if (minTs == NoTstamp) None else Some(minTs), putMillis)
    }
  }

  /** The event time of a record that has none. */
  val NoTstamp: Long = Long.MaxValue

  /** Write one schema group's lines through a [[GroupWriter]]; each
    * record's second element is its event time in microseconds, or null.
    * On a failure the blocks in flight are cancelled or awaited before the
    * exception propagates.
    */
  def writeGroup(
      store: BlobStore,
      cfg: SinkConfig,
      schema: SchemaKey,
      now: Instant,
      records: Iterator[(String, java.lang.Long)],
      newUuid: () => UUID = () => UUID.randomUUID(),
      threads: Int = 1): Seq[WriteAction] = {
    val writer = new GroupWriter(store, cfg, schema, now, newUuid, threads)
    try {
      records.foreach { case (line, tsUs) =>
        writer.add(line.getBytes(StandardCharsets.UTF_8), if (tsUs == null) NoTstamp else tsUs)
      }
      writer.finish()
    } catch { case e: Throwable => writer.cancel(); throw e }
  }

  /** Raw bytes per deflate block, at least: a block ends at the first
    * record boundary past it. Smaller blocks cost compression (each cut
    * restarts deflate's block statistics), larger ones parallelism.
    */
  private val BlockSize = 1 << 20

  /** Deflate's window: the input before a block that its matches can reach. */
  private val Window = 32 * 1024

  /** The gzip header `GZIPOutputStream` writes: deflate, no flags, no
    * mtime, unknown OS.
    */
  private val Header = Array[Byte](0x1f, 0x8b.toByte, 8, 0, 0, 0, 0, 0, 0, 0xff.toByte)

  /** One gzip object being built: the bytes so far (header and the blocks
    * appended in order), the open block's raw bytes, the blocks in flight
    * on `pool` (at most `maxInFlight`), and the last [[Window]] bytes of raw
    * input before the open block. Buffers start at 1 KiB and double as
    * they fill, since a partition holds one open object per schema key and
    * most keys of a small batch hold a few records.
    */
  private final class GzipObject(
      maxBytes: Long,
      pool: Option[ThreadPoolExecutor],
      maxInFlight: Int) {
    private val buf = new ByteArrayOutputStream(1024)
    buf.write(Header)
    private val crc = new CRC32
    private var rawBytes = 0L
    private var blk = new Array[Byte](1024)
    private var blkLen = 0
    private var window: Array[Byte] = null // allocated at the first cut with a successor
    private var winLen = 0
    private val inFlight = mutable.Queue.empty[(FutureTask[ByteArrayOutputStream], Long)]
    private var inFlightBound = 0L // deflateBound of the blocks in flight

    /** Bytes appended so far: exact whenever it could pass the bound. */
    def size: Long = buf.size().toLong

    def add(line: Array[Byte]): Unit = {
      val n = line.length + 1
      if (blkLen + n > blk.length)
        blk = java.util.Arrays.copyOf(blk,
          math.max(blkLen + n, math.min(2 * blk.length, BlockSize + 64 * 1024)))
      System.arraycopy(line, 0, blk, blkLen, line.length)
      blk(blkLen + line.length) = '\n'
      blkLen += n
      if (couldCross()) cut(finish = false, onPool = false)
      else if (blkLen >= BlockSize) cut(finish = false, onPool = true)
    }

    /** Whether flushing every byte not yet appended could carry the object
      * past maxBytes. Blocks in flight count at their worst case until they
      * are appended, and are awaited only while that leaves the answer
      * open, so the answer is the one full knowledge gives: independent of
      * timing and of the thread count.
      */
    private def couldCross(): Boolean = {
      def upper = buf.size() + inFlightBound + deflateBound(blkLen.toLong)
      while (upper > maxBytes && inFlight.nonEmpty) appendHead()
      upper > maxBytes
    }

    /** End the open block here: deflate it on the pool, or inline while
      * the blocks in flight finish, and append it after them.
      */
    private def cut(finish: Boolean, onPool: Boolean): Unit = {
      val dict = if (winLen == 0) Array.emptyByteArray else java.util.Arrays.copyOf(window, winLen)
      val data = blk
      val len = blkLen
      crc.update(data, 0, len)
      rawBytes += len
      if (!finish) slideWindow(data, len)
      pool match {
        case Some(p) if onPool =>
          if (inFlight.size >= maxInFlight) appendHead()
          val task = new FutureTask[ByteArrayOutputStream](() =>
            try deflateBlock(dict, data, len, finish)
            finally DeflatesPending.decrementAndGet())
          DeflatesPending.incrementAndGet()
          p.execute(task)
          inFlight.enqueue((task, deflateBound(len.toLong)))
          inFlightBound += deflateBound(len.toLong)
          blk = new Array[Byte](BlockSize + 64 * 1024)
        case _ =>
          val out = deflateBlock(dict, data, len, finish)
          drain()
          out.writeTo(buf)
      }
      blkLen = 0
    }

    private def slideWindow(data: Array[Byte], len: Int): Unit = {
      if (window == null) window = new Array[Byte](Window)
      if (len >= Window) {
        System.arraycopy(data, len - Window, window, 0, Window)
        winLen = Window
      } else {
        val keep = math.min(winLen, Window - len)
        System.arraycopy(window, winLen - keep, window, 0, keep)
        System.arraycopy(data, 0, window, keep, len)
        winLen = keep + len
      }
    }

    private def appendHead(): Unit = {
      val (task, bound) = inFlight.dequeue()
      inFlightBound -= bound
      val out =
        try task.get()
        catch { case e: ExecutionException => throw e.getCause }
      out.writeTo(buf)
    }

    private def drain(): Unit = while (inFlight.nonEmpty) appendHead()

    /** The whole object: the last block finishes the stream, then the
      * trailer (CRC32 and length mod 2^32, little-endian).
      */
    def finish(): Array[Byte] = {
      cut(finish = true, onPool = false)
      val trailer = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .putInt(crc.getValue.toInt).putInt(rawBytes.toInt)
      buf.write(trailer.array())
      buf.toByteArray
    }

    /** Drop the blocks in flight: a queued one never starts, a running one
      * is awaited, so no deflate outlives the writer.
      */
    def cancel(): Unit = {
      inFlight.foreach { case (task, _) =>
        if (pool.exists(_.remove(task))) DeflatesPending.decrementAndGet()
        else try task.get() catch { case _: ExecutionException => }
      }
      inFlight.clear()
    }
  }

  /** Deflate one block with a fresh raw `Deflater` at the default level,
    * primed with `dict`; sync-flushed, or finishing the stream. Input goes
    * in 64 KiB slices, which keeps each native call short.
    */
  private def deflateBlock(
      dict: Array[Byte],
      data: Array[Byte],
      len: Int,
      finish: Boolean): ByteArrayOutputStream = {
    val d = new Deflater(Deflater.DEFAULT_COMPRESSION, true)
    try {
      if (dict.nonEmpty) d.setDictionary(dict)
      val out = new ByteArrayOutputStream(len / 4 + 64)
      val chunk = new Array[Byte](math.min(64 * 1024, len + 64))
      var off = 0
      while (off < len) {
        val n = math.min(64 * 1024, len - off)
        d.setInput(data, off, n)
        while (!d.needsInput()) out.write(chunk, 0, d.deflate(chunk, 0, chunk.length, Deflater.NO_FLUSH))
        off += n
      }
      if (finish) {
        d.finish()
        while (!d.finished()) out.write(chunk, 0, d.deflate(chunk))
      } else {
        var n = chunk.length
        while (n == chunk.length) {
          n = d.deflate(chunk, 0, chunk.length, Deflater.SYNC_FLUSH)
          out.write(chunk, 0, n)
        }
      }
      out
    } finally d.end()
  }

  /** Deflate blocks submitted to the pool and not yet finished or removed:
    * 0 whenever no writer has blocks in flight.
    */
  private[graft] val DeflatesPending = new AtomicInteger

  /** One daemon deflate pool per JVM, shared by every writer, so
    * concurrent write tasks share its threads instead of multiplying them.
    * It is built on first use with one thread per core of the executor it
    * runs in: the executor's `spark.executor.cores` when set, else the
    * JVM's processor count (also outside Spark). Idle threads exit after
    * 30 s.
    */
  private[graft] object DeflatePool {
    val size: Int = Option(SparkEnv.get).flatMap(_.conf.getOption("spark.executor.cores"))
      .map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    private val ids = new AtomicInteger
    val pool = new ThreadPoolExecutor(size, size, 30, TimeUnit.SECONDS,
      new LinkedBlockingQueue[Runnable], { (r: Runnable) =>
        val t = new Thread(r, s"gzip-deflate-${ids.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
    pool.allowCoreThreadTimeOut(true)
  }

  /** Upper bound on the deflate output for `n` input bytes, sync flush
    * included: zlib's worst case (stored blocks) adds about 5 bytes per
    * 16 KiB block plus a few bytes of block and flush framing.
    */
  private def deflateBound(n: Long): Long = n + (n >>> 10) + 64

  /** Convenience for callers without per-record event time. */
  def writeLines(
      store: BlobStore,
      cfg: SinkConfig,
      schema: SchemaKey,
      now: Instant,
      lines: Iterator[String],
      newUuid: () => UUID = () => UUID.randomUUID()): Seq[WriteAction] =
    writeGroup(store, cfg, schema, now,
      lines.map(l => (l, null: java.lang.Long)), newUuid)
}
