package graft.streaming

import java.nio.charset.StandardCharsets
import java.time.Instant
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.jdk.CollectionConverters._

import org.apache.spark.Partitioner
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution, UnsafeRowSerializer}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.{BinaryType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

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
  *  - decompressedStream + parseBytes → [[PreparedWrite]], one pass per
  *    record in the write job's map side: plain-Scala
  *    [[Decompression.decode]] of each source row's `value`, then the
  *    compiled layers of [[writeRows]] — [[EventParser.parse]] (one select
  *    per level of dependency) and the select that adds each row's shuffle
  *    partition; a decompression error takes the place of the parser's
  *    `bad_error`, so both failure kinds reach the same bad-row output.
  *    Catalyst plans [[writeRows]] once per query (once per [[runBatch]]
  *    call); a micro-batch plans only its own source rows
  *  - batchUpAndCompress  → micro-batch boundary + RollingGzipWriter
  *    (maxDelay ⇒ Trigger.ProcessingTime; maxBytes ⇒ compressed rolling)
  *  - writeToStorage + sendBadEvents → one shared write, 1 Spark job per
  *    batch: good and bad rows share one shuffle by the partition id they
  *    carry (map stage, then write stage) into `defaultParallelism`
  *    partitions — a good row at hash(schema), a bad row at hash(payload).
  *    Each write task, without sorting, keeps one open rolling gzip writer
  *    per schema key of its partition plus one size-capped bad-row writer,
  *    and pushes each row to its writer, like the reference's one open
  *    writer per group per window. The distributed analogue of the
  *    reference's parTraverse per group (Processing.scala:287-289): a
  *    batch's schema groups spread over every core, each group is written
  *    by one task that rolls at maxBytes, and a hot group (the enriched
  *    path maps EVERY event to atomic) deflates its blocks on the cores its
  *    siblings leave idle, through a pool that each executor sizes itself
  *  - emitTokens          → Structured Streaming checkpoint commit: offsets
  *    commit only after foreachBatch returns ⇒ same at-least-once contract
  *    (reference Processing.scala:74-77,333-336). A local checkpoint's
  *    files are written by [[LocalCheckpointFileManager]], without the
  *    process forks of Hadoop's local filesystem
  *
  * Batch mode falls out for free: [[runBatch]] applies the identical
  * transforms to a static DataFrame (an upgrade over the streaming-only
  * reference).
  */
object LoaderPipeline {

  /** Pluggable metrics (reference Metrics.scala:35-49): counts, stream
    * latency (micro-batch triggerExecution, set by [[HealthProbe]]) and
    * e2e lag. Emission to
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

  /** The decoded record [[writeRows]] reads: `payload`, `decompressError`
    * (NULL unless the frame is corrupt) and `line`, the payload read as
    * UTF-8; a corrupt frame is one record of its raw bytes.
    */
  private val Decoded = StructType(Seq(StructField("payload", BinaryType),
    StructField("decompressError", StringType), StructField("line", StringType)))

  /** The rows one batch writes, each with the shuffle partition it goes
    * to: [[EventParser.parse]] over the decoded records, then this select,
    * which the optimizer folds into the parser's last layer. Every decoded
    * row is parsed once, and a decompression error takes the place of the
    * parser's verdict (reference Processing.scala:101-134,156-165: one
    * fold, one bad-row output); a corrupt frame starts with gzip or zstd
    * magic bytes, never `{`, so the SDJ parser cannot call it good either.
    *
    * A good row goes to hash(schema key) mod `maxTasks`, a bad row to
    * hash(payload) mod `maxTasks`. A row carries `line` only if good and
    * `payload` only if bad (a corrupt frame's bytes are not UTF-8, and a bad
    * row must carry them unchanged to be replayable). The columns are in
    * [[WriteRow]]'s order.
    */
  private def writeRows(decoded: DataFrame, cfg: LoaderConfig, maxTasks: Int): DataFrame = {
    val parsed = EventParser.parse(decoded, cfg.purpose == Purpose.Enriched)
    val badError = coalesce(col("decompressError"), col("bad_error"))
    val isBad = badError.isNotNull
    val key = Seq(col("vendor"), col("name"), col("format"), col("model"))
    parsed.select(key ++ Seq(
      when(!isBad, col("line")).as("line"),
      unix_micros(col("collector_tstamp")).as("ts_us"),
      when(isBad, col("payload")).as("payload"),
      badError.as("bad_error"),
      pmod(when(isBad, hash(col("payload"))).otherwise(hash(key: _*)), lit(maxTasks))
        .as("partition")): _*)
  }

  /** [[writeRows]], planned once: the bound expressions of each `Project`
    * layer of its optimized plan, innermost first. [[rows]] runs them over
    * a batch's decoded records as compiled projections, so a batch plans
    * nothing but its own source: Catalyst analyzes, optimizes and plans the
    * decode → parse → route plan once per query ([[stream]]) or per
    * [[runBatch]] call, not per micro-batch. The layers keep the plan's
    * shape, so each `get_json_object` and `rlike` still runs once per row.
    */
  private[graft] final class PreparedWrite(
      val layers: Seq[Seq[Expression]],
      val maxTasks: Int,
      limits: Decompression.Limits) extends Serializable {
    private val id = java.util.UUID.randomUUID()

    /** The layers as compiled projections, built by a task thread's first
      * task of this write and reused by its later ones: an executor's task
      * threads outlive their tasks, so a micro-batch's tasks neither
      * generate nor compile code (about 15 ms a task otherwise). A thread
      * keeps one prepared write's projections; they hold no row state.
      */
    private def projections(index: Int): Seq[UnsafeProjection] = {
      val held = PreparedWrite.compiled.get
      val ps = if (held != null && held._1 == id) held._2 else {
        val built = layers.map(UnsafeProjection.create(_))
        PreparedWrite.compiled.set((id, built))
        built
      }
      ps.foreach(_.initialize(index))
      ps
    }

    /** The batch's rows to write: each source row's `value` is decoded in
      * plain Scala, then every record goes through the layers. Read once.
      * A `foreachBatch` frame is a `LogicalRDD` over the micro-batch's
      * already planned rows, which are read as they are; any other frame
      * is planned to its RDD.
      */
    def rows(batch: DataFrame): RDD[InternalRow] = {
      val source = if (batch.schema("value").dataType == BinaryType) batch
        else batch.select(col("value").cast("binary").as("value"))
      val value = source.schema.fieldIndex("value")
      val limits = this.limits
      val input = source.queryExecution.analyzed match {
        case planned: LogicalRDD => planned.rdd
        case _ => source.queryExecution.toRdd
      }
      input.mapPartitionsWithIndex { (index, rows) =>
        val projections = this.projections(index)
        val record = new GenericInternalRow(Decoded.length)
        def project(payload: Array[Byte], error: String): InternalRow = {
          record.update(0, payload)
          record.update(1, UTF8String.fromString(error))
          record.update(2, UTF8String.fromBytes(payload))
          projections.foldLeft(record: InternalRow)((r, p) => p(r))
        }
        rows.flatMap { r =>
          val bytes = r.getBinary(value)
          val d = Decompression.decode(bytes, limits)
          d.records.iterator.map(project(_, null)) ++ d.error.iterator.map(project(bytes, _))
        }
      }
    }
  }

  private object PreparedWrite {
    private val compiled = new ThreadLocal[(java.util.UUID, Seq[UnsafeProjection])]
  }

  /** Plans [[writeRows]] once over a placeholder relation of [[Decoded]]
    * records (an empty RDD, which the optimizer cannot fold away).
    */
  private[graft] def prepare(spark: SparkSession, cfg: LoaderConfig): PreparedWrite = {
    val maxTasks = math.max(1, spark.sparkContext.defaultParallelism)
    val placeholder = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Decoded)
    def layers(plan: LogicalPlan): Vector[Seq[Expression]] = plan match {
      case Project(list, child) => layers(child) :+ BindReferences.bindReferences(list, child.output)
      case _: LogicalRDD => Vector.empty
      case other => throw new IllegalStateException(
        s"the loader's write plan has a ${other.nodeName} node:\n${plan.treeString}")
    }
    new PreparedWrite(layers(writeRows(placeholder, cfg, maxTasks).queryExecution.optimizedPlan),
      maxTasks, cfg.decompression)
  }

  /** Column ordinals of a [[writeRows]] row. */
  private object WriteRow {
    val Vendor = 0; val Name = 1; val Format = 2; val Model = 3; val Line = 4
    val TsUs = 5; val Payload = 6; val BadError = 7; val Partition = 8
  }

  /** Sends each row to the partition id it carries. */
  private final class PartitionIdPassthrough(val numPartitions: Int) extends Partitioner {
    def getPartition(key: Any): Int = key.asInstanceOf[Int]
  }

  /** One micro-batch (or one whole batch run): write grouped gzip objects
    * and bad rows in one Spark job, update metrics. `now` is injectable for
    * deterministic tests (reference tests pin the clock, ProcessingSpec e4).
    */
  private def writeBatch(
      df: DataFrame,
      prepared: PreparedWrite,
      cfg: LoaderConfig,
      store: BlobStore,
      metrics: Metrics,
      now: () => Instant,
      health: ServiceHealth,
      batchId: Option[Long]): Unit = {
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

    val processor = BadRow.Processor("graft-loader", "0.1.0")
    val maxSize = cfg.bad.maxRecordSize
    def badJson(payload: Array[Byte], err: String): String =
      BadRow.sizeCapped(BadRow.GenericError(processor, List(err), payload, wallClock),
        maxSize, wallClock, processor)

    // Good and bad rows share one shuffle and one Spark job (reference
    // Processing.scala:101-134,315-331: one fold writes both): the map
    // stage decodes and parses each record once, the result stage writes.
    // The prepared rows are shuffled as an RDD by the partition id they
    // carry, so adaptive execution, whatever the session's setting, has no
    // exchange to re-plan and submits no job of its own. The rows stay
    // UnsafeRows end to end; each is serialized as the shuffle writer takes
    // it (bypass or serialized sort), so the reused row need not be copied.
    // The shuffle always has `maxTasks` partitions (the default parallelism
    // when the write was prepared), so a batch's schema groups hash over
    // every core even when the batch is small.
    // The job runs with the session's SQL conf in its tasks' properties, so
    // the projections compile under the session's codegen settings.
    // Count + earliest tstamp accumulate inside the write itself (reference
    // A2/A3, Processing.scala:108,167-173) — no stats pre-job.
    //
    // Per-service health (reference RuntimeService, Processing.scala:
    // 327-329): a put failure degrades ONLY the sink that refused it —
    // tasks tag it ([[SinkFailure]]) and the tag travels in the job's
    // SparkException cause chain; a successful write marks both healthy.
    val actions: Array[(String, RollingGzipWriter.WriteAction)] =
      try {
        val rows = prepared.rows(df).map(r => (r.getInt(WriteRow.Partition), r))
        SQLExecution.withSQLConfPropagated(df.queryExecution.sparkSession) {
          new ShuffledRDD[Int, InternalRow, InternalRow](rows, new PartitionIdPassthrough(prepared.maxTasks))
            .setSerializer(new UnsafeRowSerializer(WriteRow.Partition + 1))
            .mapPartitions { rows =>
              writePartition(rows.map(_._2), store, sinkCfg, badSinkCfg, badJson,
                wallClock, nameSeed)
            }
            .collect()
        }
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

  /** Deterministic per-writer UUID factory for idempotent naming: named from
    * (seed=batchId, shuffle partition, schema key, file ordinal); the bad
    * writer of a partition uses the key ("bad", "", "", 0). Same batch data +
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

  /** Write one shuffle partition, unsorted: each good row is pushed to
    * its schema key's open [[RollingGzipWriter.GroupWriter]], and each bad
    * row, as size-capped bad-row JSON, to the partition's bad writer. A
    * writer puts each object as it passes its bound and the last ones when
    * the partition ends, so memory is one open object per key held (the
    * reference's one writer per group per window). A good writer may
    * deflate on as many threads as the write has tasks, within its
    * executor's [[RollingGzipWriter.DeflatePool]], so a hot group (the
    * enriched path maps EVERY event to one key, SURVEY §1.2) uses the cores
    * its empty siblings leave idle, and a one-task write (`local[1]`)
    * deflates inline; bad objects are small. Each action is returned with
    * the sink that wrote it; on a failure every open writer is cancelled.
    */
  private def writePartition(
      rows: Iterator[InternalRow],
      store: BlobStore,
      sinkCfg: RollingGzipWriter.SinkConfig,
      badSinkCfg: RollingGzipWriter.SinkConfig,
      badJson: (Array[Byte], String) => String,
      wallClock: Instant,
      nameSeed: Option[String]): Iterator[(String, RollingGzipWriter.WriteAction)] = {
    import WriteRow._
    val threads = org.apache.spark.TaskContext.get().numPartitions()
    def sinkStore(sink: String): BlobStore = new BlobStore {
      def write(path: String, bytes: Array[Byte]): Unit =
        try store.write(path, bytes)
        catch { case scala.util.control.NonFatal(e) => throw new SinkFailure(sink, e) }
    }
    val goodStore = sinkStore(ServiceHealth.BlobSink)
    // keyed by the row's own strings while looking up, by copies once stored
    val writers = new java.util.HashMap[(UTF8String, UTF8String, UTF8String, Int),
      RollingGzipWriter.GroupWriter]
    var badWriter: RollingGzipWriter.GroupWriter = null
    try {
      rows.foreach { r =>
        if (r.isNullAt(BadError)) {
          val key = (r.getUTF8String(Vendor), r.getUTF8String(Name),
            r.getUTF8String(Format), r.getInt(Model))
          var w = writers.get(key)
          if (w == null) {
            val k = (key._1.toString, key._2.toString, key._3.toString, key._4)
            w = new RollingGzipWriter.GroupWriter(goodStore, sinkCfg,
              SchemaKey(k._1, k._2, k._3, k._4), wallClock,
              uuidFactory(nameSeed, k), threads)
            writers.put((key._1.clone(), key._2.clone(), key._3.clone(), key._4), w)
          }
          w.add(r.getUTF8String(Line).getBytes,
            if (r.isNullAt(TsUs)) RollingGzipWriter.NoTstamp else r.getLong(TsUs))
        } else {
          if (badWriter == null) badWriter = new RollingGzipWriter.GroupWriter(
            sinkStore(ServiceHealth.BadSink), badSinkCfg, SchemaKey.Atomic, wallClock,
            uuidFactory(nameSeed, ("bad", "", "", 0)))
          badWriter.add(badJson(r.getBinary(Payload), r.getUTF8String(BadError).toString)
            .getBytes(StandardCharsets.UTF_8), RollingGzipWriter.NoTstamp)
        }
      }
      val actions = writers.values.asScala.toVector.flatMap(_.finish().map((ServiceHealth.BlobSink, _)))
      (actions ++ Option(badWriter).toSeq.flatMap(_.finish().map((ServiceHealth.BadSink, _)))).iterator
    } catch { case e: Throwable =>
      (writers.values.asScala ++ Option(badWriter)).foreach(_.cancel())
      throw e
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
    writeBatch(df, prepare(df.sparkSession, cfg), cfg, store, metrics, now, new ServiceHealth,
      batchId)

  /** Streaming entry: micro-batches flush at maxDelay — the reference's
    * time-bound batch emission (T3); offsets commit after each batch ⇒
    * at-least-once (T7). The write is prepared once for the query. Unless
    * the session already names one, its checkpoint file manager becomes
    * [[LocalCheckpointFileManager]], so a `file://` checkpoint commits
    * without forking processes.
    */
  def stream(
      df: DataFrame,
      cfg: LoaderConfig,
      store: BlobStore,
      metrics: Metrics,
      now: () => Instant = () => Instant.now(),
      health: ServiceHealth = new ServiceHealth): DataStreamWriter[Row] = {
    val spark = df.sparkSession
    if (spark.conf.getOption(LocalCheckpointFileManager.ConfKey).isEmpty)
      spark.conf.set(LocalCheckpointFileManager.ConfKey, classOf[LocalCheckpointFileManager].getName)
    val prepared = prepare(spark, cfg)
    val w = df.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        writeBatch(batch, prepared, cfg, store, metrics, now, health, Some(id))
      }
      .trigger(Trigger.ProcessingTime(cfg.batching.maxDelay.toMillis))
    cfg.checkpointLocation.fold(w)(p => w.option("checkpointLocation", p))
  }
}
