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
  *  - writeToStorage      → `repartitionById` into `defaultParallelism`
  *    partitions, id = hash(schema) + salt, + per-partition rolling writes —
  *    the distributed analogue of the reference's parTraverse per group
  *    (Processing.scala:287-289): a batch's schema groups spread over every
  *    core, and the salt splits one hot schema key (the enriched path maps
  *    EVERY event to atomic) over distinct partitions once its volume
  *    passes maxBytes
  *  - sendBadEvents       → size-capped bad-row JSON to the bad store
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

  /** One micro-batch (or one whole batch run): write grouped gzip objects,
    * bad rows, update metrics. `now` is injectable for deterministic tests
    * (reference tests pin the clock, ProcessingSpec e4).
    */
  def writeBatch(
      parsed: DataFrame,
      cfg: LoaderConfig,
      store: BlobStore,
      metrics: Metrics,
      now: () => Instant = () => Instant.now(),
      health: ServiceHealth = new ServiceHealth,
      batchId: Option[Long] = None): Unit = {
    import parsed.sparkSession.implicits._
    val wallClock = now()
    // deterministic object names per (batch, partition, group, file):
    // replays overwrite instead of duplicating (Output.idempotentNames)
    val nameSeed: Option[String] =
      if (cfg.output.idempotentNames) batchId.map(id => s"b$id") else None

    // One decode+parse materialization serves both writer jobs — without
    // this, the good write, and the bad write would each re-scan and
    // re-parse the entire batch (at 100 TB: two full extra passes).
    parsed.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val good = EventParser.good(parsed)
        .select(col("vendor"), col("name"), col("format"), col("model"),
          col("line"), unix_micros(col("collector_tstamp")).as("ts_us"))

      val sinkCfg = RollingGzipWriter.SinkConfig(
        cfg.output.path, cfg.output.prefix, cfg.output.partitionFormat,
        cfg.batching.maxBytes, timestampedNames = nameSeed.isEmpty)

      // Write parallelism. The shuffle always has `maxTasks` partitions:
      // an explicit count is one adaptive execution does not coalesce, so
      // a batch's schema groups hash over every core even when the batch is
      // small (left to coalesce, a small batch's shuffle collapses to one
      // task that makes every put in turn).
      // Enriched batches all map to ONE schema key (SURVEY §1.2), which
      // would still funnel through a single task, so one cheap agg over the
      // (already persisted) batch estimates the compressed output volume,
      // and each row gains a salt sized so each task writes roughly
      // maxBytes. Small batches keep targetFiles=1, preserving the
      // reference's one-object-per-group-per-window behavior (T2/F14).
      // `repartitionById` places salt s of a key at partition
      // (hash(key, 0) + s) mod maxTasks, so the targetFiles ≤ maxTasks salts
      // of one key land on distinct partitions (hash partitioning on the
      // salt column could collide them). hash(key, lit(0)) is the hash
      // partitioner's own murmur3 of (key, salt = 0), so salt 0 — every
      // small group — keeps the partition, and with it the idempotent
      // object names, that plain hash partitioning gave it.
      val totalLineBytes: Long = Option(
        good.agg(sum(octet_length(col("line")))).first().get(0))
        .fold(0L)(_.asInstanceOf[Long])
      val maxTasks = math.max(1, parsed.sparkSession.sparkContext.defaultParallelism)
      val targetFiles: Int = math.min(
        maxTasks.toLong,
        totalLineBytes / EstGzipRatio / math.max(1L, cfg.batching.maxBytes) + 1).toInt

      // Count + earliest tstamp accumulate inside the write pass itself
      // (reference A2/A3, Processing.scala:108,167-173) — no stats pre-job.
      // The shuffle keys are plain columns (codegen'd hash partitioning, no
      // row-deserializing lambda); each partition then streams consecutive
      // same-schema runs straight into the rolling writer.
      // Per-service health (reference RuntimeService, Processing.scala:
      // 327-329): a failed write job degrades ONLY its sink's health flag;
      // a later success marks it healthy again.
      val actions: Array[RollingGzipWriter.WriteAction] =
        try {
          val keyHash = hash(col("vendor"), col("name"), col("format"),
            col("model"), lit(0)).cast("long")
          val salt = pmod(hash(col("line")), lit(targetFiles))
          val a = good
            .repartitionById(maxTasks,
              pmod(keyHash + salt, lit(maxTasks)).cast("int"))
            .sortWithinPartitions("vendor", "name", "format", "model")
            .mapPartitions { rows =>
              writePartition(rows, store, sinkCfg, wallClock, nameSeed)
            }
            .collect()
          health.markHealthy(ServiceHealth.BlobSink)
          a
        } catch { case e: Throwable =>
          health.markUnhealthy(ServiceHealth.BlobSink, String.valueOf(e.getMessage))
          throw e
        }

      metrics.objectsWritten.addAndGet(actions.length.toLong)
      metrics.putMillis.addAndGet(math.round(actions.map(_.putMillis).sum))
      metrics.lastActions.set(actions.toSeq)
      metrics.count.addAndGet(actions.map(_.recordCount).sum)
      val earliest = actions.flatMap(_.minTstampMicros)
      if (earliest.nonEmpty) {
        metrics.e2eLatencyMillis.set(
          Some(wallClock.toEpochMilli - earliest.min / 1000))
      }
      try {
        writeBad(parsed, cfg, store, metrics, wallClock, nameSeed)
        health.markHealthy(ServiceHealth.BadSink)
      } catch { case e: Throwable =>
        health.markUnhealthy(ServiceHealth.BadSink, String.valueOf(e.getMessage))
        throw e
      }
    } finally parsed.unpersist()
  }

  /** Conservative gzip ratio for sizing the write fan-out: underestimating
    * compression means slightly more, smaller tasks — never a single fat one.
    */
  private val EstGzipRatio = 3L

  /** Deterministic per-run UUID factory for idempotent naming: named from
    * (seed=batchId, shuffle partition, schema key, file ordinal). Same
    * batch data + same partitioning ⇒ same names on replay. The write
    * shuffle's partition count and `targetFiles` both follow
    * `defaultParallelism`, so names are stable across replays only while
    * it stays fixed.
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

  /** Stream one shuffle partition (sorted by schema key) into the rolling
    * writer: consecutive same-key runs each become their own writeGroup
    * call, so memory stays one gzip buffer regardless of partition size.
    */
  private def writePartition(
      rows: Iterator[Row],
      store: BlobStore,
      sinkCfg: RollingGzipWriter.SinkConfig,
      wallClock: Instant,
      nameSeed: Option[String]): Iterator[RollingGzipWriter.WriteAction] = {
    if (rows.isEmpty) Iterator.empty
    else {
      val it = rows.buffered
      val s = it.head.schema
      val vIdx = s.fieldIndex("vendor"); val nIdx = s.fieldIndex("name")
      val fIdx = s.fieldIndex("format"); val mIdx = s.fieldIndex("model")
      val lIdx = s.fieldIndex("line"); val tIdx = s.fieldIndex("ts_us")
      def keyOf(r: Row) = (r.getString(vIdx), r.getString(nIdx),
        r.getString(fIdx), r.getInt(mIdx))
      Iterator.continually(()).takeWhile(_ => it.hasNext).flatMap { _ =>
        val key = keyOf(it.head)
        val run = new Iterator[(String, java.lang.Long)] {
          def hasNext: Boolean = it.hasNext && keyOf(it.head) == key
          def next(): (String, java.lang.Long) = {
            val r = it.next()
            (r.getString(lIdx),
              if (r.isNullAt(tIdx)) null else java.lang.Long.valueOf(r.getLong(tIdx)))
          }
        }
        // writeGroup drains `run` fully before the outer iterator advances
        RollingGzipWriter.writeGroup(
          store, sinkCfg, SchemaKey(key._1, key._2, key._3, key._4, 0, 0),
          wallClock, run, uuidFactory(nameSeed, key))
      }
    }
  }

  private def writeBad(
      parsed: DataFrame,
      cfg: LoaderConfig,
      store: BlobStore,
      metrics: Metrics,
      wallClock: Instant,
      nameSeed: Option[String] = None): Unit = {
    import parsed.sparkSession.implicits._

    // Bad rows: serialize with the size cap (reference P6,
    // BadRowsSerializer.scala:24-44). Written from executor tasks — one
    // object per non-empty partition — never collected to the driver
    // (the reference's bad sink also streams in chunks,
    // Processing.scala:315-331).
    val processor = BadRow.Processor("graft-loader", "0.1.0")
    val maxSize = cfg.bad.maxRecordSize
    val badPath = cfg.bad.path
    // Chunking contract (reference Processing.scala:315-331): the bad sink
    // bounds each emission to recordLimit records / byteLimit bytes — the
    // Kinesis PutRecords limits (config.aws.reference.hocon). Here each
    // chunk is one object: the byte bound applies to the compressed stream
    // (conservative — compressed ≤ raw), the record bound exactly.
    val badSinkCfg = RollingGzipWriter.SinkConfig(
      badPath, "bad-", None,
      math.min(cfg.batching.maxBytes, cfg.bad.byteLimit),
      cfg.bad.recordLimit.toLong, timestampedNames = nameSeed.isEmpty)
    // the payload column, not `line`: a corrupt frame's bytes are not
    // UTF-8, and a bad row must carry them unchanged to be replayable
    val badWritten = EventParser.bad(parsed)
      .select(col("payload"), col("bad_error"))
      .as[(Array[Byte], String)]
      .mapPartitions { rows =>
        val jsons = rows.map { case (payload, err) =>
          BadRow.sizeCapped(BadRow.GenericError(processor, List(err), payload, wallClock),
            maxSize, wallClock, processor)
        }
        val actions = RollingGzipWriter.writeLines(
          store, badSinkCfg, SchemaKey.Atomic, wallClock, jsons,
          uuidFactory(nameSeed, ("bad", "", "", 0)))
        Iterator.single((actions.map(_.recordCount).sum, actions.map(_.putMillis).sum))
      }
      .collect()
    metrics.badCount.addAndGet(badWritten.map(_._1).sum)
    metrics.badPutMillis.addAndGet(math.round(badWritten.map(_._2).sum))
  }

  /** Batch-mode entry: run the whole pipeline over a static DataFrame. */
  def runBatch(
      df: DataFrame,
      cfg: LoaderConfig,
      store: BlobStore,
      metrics: Metrics,
      now: () => Instant = () => Instant.now(),
      batchId: Option[Long] = None): Unit =
    writeBatch(classify(df, cfg), cfg, store, metrics, now, batchId = batchId)

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
        writeBatch(classify(batch, cfg), cfg, store, metrics, now, health,
          batchId = Some(id))
      }
      .trigger(Trigger.ProcessingTime(cfg.batching.maxDelay.toMillis))
    cfg.checkpointLocation.fold(w)(p => w.option("checkpointLocation", p))
  }
}
