package graft.streaming

import java.nio.charset.StandardCharsets
import java.time.Instant
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.Row

import graft.config.{LoaderConfig, Purpose}
import graft.model.{BadRow, SchemaKey}
import graft.operators.EventParser
import graft.sinks.{BlobStore, RollingGzipWriter}
import graft.sources.Decompression

/** The loader dataflow — the Spark-native re-expression of the reference's
  * fixed pipeline (Processing.scala:69-77):
  *
  *   decompress → parse → good/bad split → grouped gzip write → metrics
  *
  * Stage mapping:
  *  - decompressedStream + parseBytes → `classify`, one pass per record:
  *    `decode` (Dataset.flatMap over binary rows), then
  *    [[EventParser.parse]] (codegen'd column ops) over every decoded row;
  *    a decompression error takes the place of the parser's `bad_error`,
  *    so both failure kinds reach the same bad-row output
  *  - batchUpAndCompress  → micro-batch boundary + RollingGzipWriter
  *    (maxDelay ⇒ Trigger.ProcessingTime; maxBytes ⇒ compressed rolling)
  *  - writeToStorage + sendBadEvents → one shared write, 2 Spark jobs per
  *    batch: good and bad rows share one `repartitionById` shuffle (map
  *    job, then write job) into `defaultParallelism` partitions — a good
  *    row at hash(schema), a bad row at hash(payload) — and each partition
  *    writes its schema runs as rolling gzip objects and its bad rows as
  *    size-capped bad-row JSON to the bad store. The distributed analogue
  *    of the reference's parTraverse per group (Processing.scala:287-289):
  *    a batch's schema groups spread over every core, each group is
  *    written by one task that rolls at maxBytes, and a hot group (the
  *    enriched path maps EVERY event to atomic) deflates its blocks on the
  *    slots its siblings leave idle
  *  - emitTokens          → Structured Streaming checkpoint commit: offsets
  *    commit only after foreachBatch returns ⇒ same at-least-once contract
  *    (reference Processing.scala:74-77,333-336)
  *
  * Batch mode falls out for free: [[runBatch]] applies the identical
  * transforms to a static DataFrame (an upgrade over the streaming-only
  * reference).
  */
object LoaderPipeline {

  /** Pluggable metrics (reference Metrics.scala:35-49): counts, stream
    * latency (micro-batch triggerExecution, via
    * [[MetricsEmitter.StreamLatencyListener]]) and e2e lag. Emission to
    * statsd/prometheus is [[MetricsEmitter]]'s job. Good objects are
    * counted over the life of the metrics; only the last batch's
    * [[RollingGzipWriter.WriteAction]]s are kept, so a long-running stream
    * holds a bounded amount. `putMillis` and `badPutMillis` total the
    * good and bad sinks' put time in whole milliseconds (each batch's sum
    * rounded); the driver sums them from the actions its write tasks
    * return, so they hold on a multi-JVM cluster too.
    */
  final class Metrics extends Serializable {
    val count = new AtomicLong(0)
    val badCount = new AtomicLong(0)
    val objectsWritten = new AtomicLong(0)
    val putMillis = new AtomicLong(0)
    val badPutMillis = new AtomicLong(0)
    val lastActions = new AtomicReference[Seq[RollingGzipWriter.WriteAction]](Seq.empty)
    val latencyMillis = new AtomicReference[Option[Long]](None)
    val e2eLatencyMillis = new AtomicReference[Option[Long]](None)
  }

  /** Decompression front-end: binary `value` column → one row per framed
    * record (`payload`, `decompressError`); a corrupt frame becomes one row
    * of its raw bytes with a non-null error.
    */
  private def decode(df: DataFrame, limits: Decompression.Limits): DataFrame = {
    import df.sparkSession.implicits._
    df.select(col("value").cast("binary")).as[Array[Byte]].flatMap { bytes =>
      val d = Decompression.decode(bytes, limits)
      d.records.map((_, null: String)) ++ d.error.map((bytes, _))
    }.toDF("payload", "decompressError")
  }

  /** Decode and classify each record in one pass: every decoded row is
    * parsed once, and a decompression error takes the place of the
    * parser's verdict (reference Processing.scala:101-134,156-165: one
    * fold, one bad-row output). A corrupt frame starts with gzip or zstd
    * magic bytes, never `{`, so the SDJ parser cannot call it good either.
    */
  private def classify(df: DataFrame, cfg: LoaderConfig): DataFrame =
    EventParser.parse(
        decode(df, cfg.decompression).withColumn("line", col("payload").cast("string")),
        cfg.purpose == Purpose.Enriched)
      .withColumn("bad_error", coalesce(col("decompressError"), col("bad_error")))
      .drop("decompressError")

  /** One micro-batch (or one whole batch run): write grouped gzip objects
    * and bad rows in one write job, update metrics. `now` is injectable for
    * deterministic tests (reference tests pin the clock, ProcessingSpec e4).
    */
  private def writeBatch(
      parsed: DataFrame,
      cfg: LoaderConfig,
      store: BlobStore,
      metrics: Metrics,
      now: () => Instant,
      health: ServiceHealth,
      batchId: Option[Long]): Unit = {
    import parsed.sparkSession.implicits._
    val wallClock = now()
    // deterministic object names per (batch, partition, group, file):
    // replays overwrite instead of duplicating (Output.idempotentNames)
    val nameSeed: Option[String] =
      if (cfg.output.idempotentNames) batchId.map(id => s"b$id") else None

    val sinkCfg = RollingGzipWriter.SinkConfig(
      cfg.output.path, cfg.output.prefix, cfg.output.partitionFormat,
      cfg.batching.maxBytes, timestampedNames = nameSeed.isEmpty)
    // Chunking contract (reference Processing.scala:315-331): the bad sink
    // bounds each emission to recordLimit records / byteLimit bytes — the
    // Kinesis PutRecords limits (config.aws.reference.hocon). Here each
    // chunk is one object: the record bound is exact, and the byte bound
    // applies to the object's COMPRESSED size (soft, like maxBytes: it may
    // overshoot by one record), so an object's raw content can exceed
    // byteLimit by the gzip ratio.
    val badSinkCfg = RollingGzipWriter.SinkConfig(
      cfg.bad.path, "bad-", None,
      math.min(cfg.batching.maxBytes, cfg.bad.byteLimit),
      cfg.bad.recordLimit.toLong, timestampedNames = nameSeed.isEmpty)

    // Write parallelism. The shuffle always has `maxTasks` partitions: an
    // explicit count is one adaptive execution does not coalesce, so a
    // batch's schema groups hash over every core even when the batch is
    // small (left to coalesce, a small batch's shuffle collapses to one
    // task that makes every put in turn). Each schema group is one task's
    // run, rolling at maxBytes like the reference's one writer per group
    // per window; a hot group (the enriched path maps EVERY event to one
    // key, SURVEY §1.2) deflates its blocks on a pool sized to one
    // executor JVM's task slots, shared by its write tasks, so it uses the
    // cores its empty siblings leave idle. Read per batch, so a local[1]
    // session deflates inline.
    val sc = parsed.sparkSession.sparkContext
    val maxTasks = math.max(1, sc.defaultParallelism)
    val deflateThreads =
      if (sc.isLocal) maxTasks
      else sc.getConf.getInt("spark.executor.cores", 1) / sc.getConf.getInt("spark.task.cpus", 1)

    // Good and bad rows share one shuffle and one write job (reference
    // Processing.scala:101-134,315-331: one fold writes both), so a batch
    // runs 2 Spark jobs — the shuffle-map job, which decodes and parses
    // each record once, then the write job. A good row goes to
    // hash(schema key) mod maxTasks, a bad row to hash(payload) mod
    // maxTasks. The shuffle carries `line` only for good rows and `payload`
    // only for bad ones (a corrupt frame's bytes are not UTF-8, and a bad
    // row must carry them unchanged to be replayable). Count + earliest
    // tstamp accumulate inside the write itself (reference A2/A3,
    // Processing.scala:108,167-173) — no stats pre-job. Each partition,
    // sorted with its bad rows last, streams consecutive same-schema runs
    // straight into the rolling writer and its bad run into the
    // size-capped bad writer.
    val isBad = col("bad_error").isNotNull
    val toWrite = parsed.select(col("vendor"), col("name"), col("format"),
      col("model"), when(!isBad, col("line")).as("line"),
      unix_micros(col("collector_tstamp")).as("ts_us"),
      when(isBad, col("payload")).as("payload"), col("bad_error"))
    val partition = pmod(
      when(isBad, hash(col("payload")))
        .otherwise(hash(col("vendor"), col("name"), col("format"), col("model"))),
      lit(maxTasks))
    val processor = BadRow.Processor("graft-loader", "0.1.0")
    val maxSize = cfg.bad.maxRecordSize
    def badJson(payload: Array[Byte], err: String): String =
      BadRow.sizeCapped(BadRow.GenericError(processor, List(err), payload, wallClock),
        maxSize, wallClock, processor)

    // Per-service health (reference RuntimeService, Processing.scala:
    // 327-329): a put failure degrades ONLY the sink that refused it —
    // tasks tag it ([[SinkFailure]]) and the tag travels in the job's
    // SparkException cause chain; a successful write marks both healthy.
    val actions: Array[(String, RollingGzipWriter.WriteAction)] =
      try {
        toWrite
          .repartitionById(maxTasks, partition)
          .sortWithinPartitions(isBad, col("vendor"), col("name"),
            col("format"), col("model"))
          .mapPartitions { rows =>
            writePartition(rows, store, sinkCfg, badSinkCfg, badJson,
              wallClock, nameSeed, deflateThreads)
          }
          .collect()
      } catch { case e: Throwable =>
        Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
          .collectFirst { case f: SinkFailure => f.sink }
          .foreach(health.markUnhealthy(_, String.valueOf(e.getMessage)))
        throw e
      }
    health.markHealthy(ServiceHealth.BlobSink)
    health.markHealthy(ServiceHealth.BadSink)

    val good = actions.collect { case (ServiceHealth.BlobSink, a) => a }
    val bad = actions.collect { case (ServiceHealth.BadSink, a) => a }
    metrics.objectsWritten.addAndGet(good.length.toLong)
    metrics.putMillis.addAndGet(math.round(good.map(_.putMillis).sum))
    metrics.lastActions.set(good.toSeq)
    metrics.count.addAndGet(good.map(_.recordCount).sum)
    metrics.badCount.addAndGet(bad.map(_.recordCount).sum)
    metrics.badPutMillis.addAndGet(math.round(bad.map(_.putMillis).sum))
    val earliest = good.flatMap(_.minTstampMicros)
    if (earliest.nonEmpty) {
      metrics.e2eLatencyMillis.set(
        Some(wallClock.toEpochMilli - earliest.min / 1000))
    }
  }

  /** A put that `sink` (a [[ServiceHealth]] service name) refused, thrown
    * from a write task so the driver can tell which sink failed.
    */
  private final class SinkFailure(val sink: String, cause: Throwable)
      extends java.io.IOException(s"$sink put failed: $cause", cause)

  /** Deterministic per-run UUID factory for idempotent naming: named from
    * (seed=batchId, shuffle partition, schema key, file ordinal); the bad
    * run of a partition uses the key ("bad", "", "", 0). Same batch data +
    * same partitioning ⇒ same names on replay. The write shuffle's
    * partition count follows `defaultParallelism`, so names are stable
    * across replays only while it stays fixed.
    */
  private def uuidFactory(
      nameSeed: Option[String],
      key: (String, String, String, Int)): () => java.util.UUID =
    nameSeed match {
      case Some(seed) =>
        val base = s"$seed/p${org.apache.spark.TaskContext.getPartitionId()}/$key"
        var n = 0
        () => {
          n += 1
          java.util.UUID.nameUUIDFromBytes(
            s"$base/$n".getBytes(StandardCharsets.UTF_8))
        }
      case None => () => java.util.UUID.randomUUID()
    }

  /** Stream one shuffle partition (good rows sorted by schema key, then the
    * bad rows) into the writers: each consecutive same-key run becomes its
    * own writeGroup call, and the bad run one size-capped bad write, so
    * memory stays one object buffer plus the capped blocks in flight
    * regardless of partition size. Only the good writer deflates on
    * `deflateThreads`; bad objects are small. Each action is returned with
    * the sink that wrote it.
    */
  private def writePartition(
      rows: Iterator[Row],
      store: BlobStore,
      sinkCfg: RollingGzipWriter.SinkConfig,
      badSinkCfg: RollingGzipWriter.SinkConfig,
      badJson: (Array[Byte], String) => String,
      wallClock: Instant,
      nameSeed: Option[String],
      deflateThreads: Int): Iterator[(String, RollingGzipWriter.WriteAction)] = {
    if (rows.isEmpty) Iterator.empty
    else {
      val it = rows.buffered
      val s = it.head.schema
      val vIdx = s.fieldIndex("vendor"); val nIdx = s.fieldIndex("name")
      val fIdx = s.fieldIndex("format"); val mIdx = s.fieldIndex("model")
      val lIdx = s.fieldIndex("line"); val tIdx = s.fieldIndex("ts_us")
      val pIdx = s.fieldIndex("payload"); val eIdx = s.fieldIndex("bad_error")
      // a good row's schema key; None for a bad row
      def keyOf(r: Row) =
        if (!r.isNullAt(eIdx)) None
        else Some((r.getString(vIdx), r.getString(nIdx), r.getString(fIdx), r.getInt(mIdx)))
      def sinkStore(sink: String): BlobStore = new BlobStore {
        def write(path: String, bytes: Array[Byte]): Unit =
          try store.write(path, bytes)
          catch { case scala.util.control.NonFatal(e) => throw new SinkFailure(sink, e) }
      }
      Iterator.continually(()).takeWhile(_ => it.hasNext).flatMap { _ =>
        val key = keyOf(it.head)
        def run[A](f: Row => A): Iterator[A] = new Iterator[A] {
          def hasNext: Boolean = it.hasNext && keyOf(it.head) == key
          def next(): A = f(it.next())
        }
        // each writer drains its run fully before the outer iterator advances
        key match {
          case None =>
            RollingGzipWriter.writeLines(
              sinkStore(ServiceHealth.BadSink), badSinkCfg, SchemaKey.Atomic,
              wallClock, run(r => badJson(r.getAs[Array[Byte]](pIdx), r.getString(eIdx))),
              uuidFactory(nameSeed, ("bad", "", "", 0))).map((ServiceHealth.BadSink, _))
          case Some(k @ (vendor, name, format, model)) =>
            RollingGzipWriter.writeGroup(
              sinkStore(ServiceHealth.BlobSink), sinkCfg,
              SchemaKey(vendor, name, format, model, 0, 0), wallClock,
              run(r => (r.getString(lIdx),
                if (r.isNullAt(tIdx)) null else java.lang.Long.valueOf(r.getLong(tIdx)))),
              uuidFactory(nameSeed, k), deflateThreads).map((ServiceHealth.BlobSink, _))
        }
      }
    }
  }

  /** Batch-mode entry: run the whole pipeline over a static DataFrame. */
  def runBatch(
      df: DataFrame,
      cfg: LoaderConfig,
      store: BlobStore,
      metrics: Metrics,
      now: () => Instant = () => Instant.now(),
      batchId: Option[Long] = None): Unit =
    writeBatch(classify(df, cfg), cfg, store, metrics, now, new ServiceHealth, batchId)

  /** Streaming entry: micro-batches flush at maxDelay — the reference's
    * time-bound batch emission (T3); offsets commit after each batch ⇒
    * at-least-once (T7).
    */
  def stream(
      df: DataFrame,
      cfg: LoaderConfig,
      store: BlobStore,
      metrics: Metrics,
      now: () => Instant = () => Instant.now(),
      health: ServiceHealth = new ServiceHealth): DataStreamWriter[Row] = {
    val w = df.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        writeBatch(classify(batch, cfg), cfg, store, metrics, now, health, Some(id))
      }
      .trigger(Trigger.ProcessingTime(cfg.batching.maxDelay.toMillis))
    cfg.checkpointLocation.fold(w)(p => w.option("checkpointLocation", p))
  }
}
