package graft.config

import scala.concurrent.duration._
import scala.util.Try

import graft.sinks.{DynamicPath, RollingGzipWriter}
import graft.sources.{Decompression, RecordSources}
import graft.streaming.MetricsEmitter

/** Typed config tree — same shape and defaults as the reference's HOCON
  * surface (reference Config.scala:38-92 and reference.conf:21-29), with
  * the same cross-field validation (Config.scala:122,
  * DynamicPath.scala:38-51).
  */
sealed trait Purpose
object Purpose {
  case object Enriched extends Purpose
  case object Sdj extends Purpose

  /** Decoder accepting the reference's spellings (Config.scala:109-114). */
  def parse(s: String): Either[String, Purpose] = s.toUpperCase match {
    case "ENRICHED_EVENTS" => Right(Enriched)
    case "SELF_DESCRIBING" => Right(Sdj)
    case other             => Left(s"Unknown purpose: $other")
  }
}

final case class Batching(
    maxBytes: Long = 64L * 1024 * 1024,
    maxDelay: FiniteDuration = 2.minutes)

final case class Output(
    path: String,
    prefix: String = "",
    partitionFormat: Option[String] = None,
    // true = deterministic object names per (batchId, partition, group):
    // a replayed micro-batch overwrites its own objects (exactly-once
    // OUTPUT on atomic-put stores) instead of duplicating them. Requires
    // a replay-stable partition path (no wall-clock tokens) to hold
    // across restarts; filenames drop the timestamp prefix.
    idempotentNames: Boolean = false)

final case class BadOutput(
    path: String,
    maxRecordSize: Int = 1000000,
    // per-object chunk bounds (reference PutRecords limits,
    // config.aws.reference.hocon output.bad): recordLimit records, and
    // byteLimit bytes of the object's gzip-COMPRESSED size (a soft bound,
    // like maxBytes; the raw content may exceed it by the gzip ratio)
    recordLimit: Int = 500,
    byteLimit: Long = 5242880L)

final case class LoaderConfig(
    purpose: Purpose,
    output: Output,
    bad: BadOutput,
    batching: Batching = Batching(),
    decompression: Decompression.Limits = Decompression.Limits(),
    checkpointLocation: Option[String] = None,
    input: Option[RecordSources.Kinesis] = None,
    statsd: Option[MetricsEmitter.StatsdConfig] = None,
    healthProbe: HealthProbeConfig = HealthProbeConfig())

final case class HealthProbeConfig(
    port: Int = 8000,
    unhealthyLatency: FiniteDuration = 2.minutes)

object LoaderConfig {

  /** Cross-field validation — enriched may only partition by date/time
    * tokens; SDJ defaults to "{vendor}.{schema}" (reference
    * DynamicPath.scala:38-51, ConfigSpec.scala:42-87). `batching.maxBytes`
    * may not exceed what one in-memory object can hold
    * (`RollingGzipWriter.MaxObjectBytes`), and every size or limit must be
    * positive: a negative `maxRecordSize` fails every bad row, and a zero
    * object bound writes one object per record.
    */
  def validate(c: LoaderConfig): Either[String, LoaderConfig] =
    for {
      _ <- Seq(
        "batching.maxBytes" -> c.batching.maxBytes,
        "output.bad.maxRecordSize" -> c.bad.maxRecordSize.toLong,
        "output.bad.recordLimit" -> c.bad.recordLimit.toLong,
        "output.bad.byteLimit" -> c.bad.byteLimit,
        "decompression.maxBytesInBatch" -> c.decompression.maxBytesInBatch,
        "decompression.maxBytesSinglePayload" -> c.decompression.maxBytesSinglePayload)
        .collectFirst { case (k, v) if v <= 0 => s"$k must be positive, got $v" }
        .toLeft(())
      _ <- Either.cond(c.batching.maxBytes <= RollingGzipWriter.MaxObjectBytes, (),
        s"batching.maxBytes ${c.batching.maxBytes} exceeds " +
          s"${RollingGzipWriter.MaxObjectBytes}: each object is built in one " +
          "in-memory buffer, which cannot hold a larger one")
      pf <- DynamicPath
        .validatePartitionFormat(c.output.partitionFormat, c.purpose == Purpose.Enriched)
    } yield c.copy(output = c.output.copy(partitionFormat = pf))

  /** Decode the reference's HOCON surface (config.aws.*.hocon shape) into
    * the typed tree in one parse, applying the reference.conf defaults
    * (reference modules/core/src/main/resources/reference.conf:19-42) and
    * the cross-field validation. Every default is the case classes' own.
    * Optional blocks: `input` (the Kinesis polling surface; the starting
    * position is checked by [[RecordSources.startingPosition]]),
    * `monitoring.metrics.statsd` (absent = no metrics push) and
    * `monitoring.healthProbe`.
    */
  def fromHocon(
      text: String,
      env: String => Option[String] = sys.env.get): Either[String, LoaderConfig] = {
    val root =
      try Hocon.parse(text, env)
      catch { case e: Exception => return Left(s"HOCON parse error: ${e.getMessage}") }
    val output = Output("")
    val bad = BadOutput("")
    val batching = Batching()
    val limits = Decompression.Limits()
    val probe = HealthProbeConfig()

    for {
      purposeStr <- root.str("purpose").toRight("Missing required field: purpose")
      purpose <- Purpose.parse(purposeStr)
      goodPath <- root.str("output", "good", "path")
        .orElse(root.str("output", "good"))
        .toRight("Missing required field: output.good.path")
      badPath <- root.str("output", "bad", "path")
        .orElse(root.str("output", "bad", "streamName"))
        .toRight("Missing required field: output.bad.path")
      maxDelay <- duration(root, "batching", "maxDelay")
      input <- kinesis(root)
      statsd <- statsdConfig(root)
      unhealthyLatency <- duration(root, "monitoring", "healthProbe", "unhealthyLatency")
      cfg <- validate(LoaderConfig(
        purpose = purpose,
        output = Output(
          path = goodPath,
          prefix = root.str("output", "good", "filenamePrefix").getOrElse(output.prefix),
          partitionFormat = root.str("output", "good", "partitionFormat"),
          idempotentNames = root.bool("output", "good", "idempotentNames")
            .getOrElse(output.idempotentNames)),
        bad = BadOutput(
          path = badPath,
          maxRecordSize = root.num("output", "bad", "maxRecordSize")
            .map(_.toInt).getOrElse(bad.maxRecordSize),
          recordLimit = root.num("output", "bad", "recordLimit")
            .map(_.toInt).getOrElse(bad.recordLimit),
          byteLimit = root.num("output", "bad", "byteLimit")
            .map(_.toLong).getOrElse(bad.byteLimit)),
        batching = Batching(
          maxBytes = root.num("batching", "maxBytes")
            .map(_.toLong).getOrElse(batching.maxBytes),
          maxDelay = maxDelay.getOrElse(batching.maxDelay)),
        decompression = Decompression.Limits(
          maxBytesInBatch = root.num("decompression", "maxBytesInBatch")
            .map(_.toLong).getOrElse(limits.maxBytesInBatch),
          maxBytesSinglePayload = root.num("decompression", "maxBytesSinglePayload")
            .map(_.toLong).getOrElse(limits.maxBytesSinglePayload)),
        input = input,
        statsd = statsd,
        healthProbe = HealthProbeConfig(
          port = root.num("monitoring", "healthProbe", "port").map(_.toInt).getOrElse(probe.port),
          unhealthyLatency = unhealthyLatency.getOrElse(probe.unhealthyLatency))))
    } yield cfg
  }

  /** The duration at `path`, if set; a Left naming the key if it does not
    * parse.
    */
  private def duration(root: Hocon.Obj, path: String*)
      : Either[String, Option[FiniteDuration]] =
    Try(root.duration(path: _*)).toEither.left.map(_.getMessage)

  /** The `input` block (streamName, initialPosition{type,timestamp},
    * retrievalMode{maxRecords, idleTimeBetweenReads}); None without one.
    */
  private def kinesis(root: Hocon.Obj): Either[String, Option[RecordSources.Kinesis]] =
    if (root.get("input").isEmpty) Right(None)
    else {
      val d = RecordSources.Kinesis(streamName = "")
      for {
        stream <- root.str("input", "streamName")
          .toRight("Missing required field: input.streamName")
        pos = root.str("input", "initialPosition", "type").getOrElse(d.initialPosition)
        ts = root.str("input", "initialPosition", "timestamp")
        _ <- RecordSources.startingPosition(
          pos, ts, "initialPosition.type", "input.initialPosition.timestamp")
        idle <- duration(root, "input", "retrievalMode", "idleTimeBetweenReads")
      } yield Some(d.copy(
        streamName = stream,
        initialPosition = pos,
        initialTimestamp = ts,
        maxRecords = root.num("input", "retrievalMode", "maxRecords")
          .map(_.toInt).getOrElse(d.maxRecords),
        idleTimeBetweenReadsMs = idle.map(_.toMillis).getOrElse(d.idleTimeBetweenReadsMs)))
    }

  /** The `monitoring.metrics.statsd` block (reference
    * config.aws.reference.hocon metrics block); None without a hostname
    * (metrics push off).
    */
  private def statsdConfig(root: Hocon.Obj)
      : Either[String, Option[MetricsEmitter.StatsdConfig]] =
    root.str("monitoring", "metrics", "statsd", "hostname") match {
      case None => Right(None)
      case Some(host) =>
        val d = MetricsEmitter.StatsdConfig(host)
        duration(root, "monitoring", "metrics", "statsd", "period").map(period => Some(d.copy(
          port = root.num("monitoring", "metrics", "statsd", "port")
            .map(_.toInt).getOrElse(d.port),
          tags = root.get("monitoring", "metrics", "statsd", "tags") match {
            case Some(o: Hocon.Obj) =>
              o.fields.keys.map(k => k -> o.str(k).getOrElse("")).toMap
            case _ => d.tags
          },
          period = period.getOrElse(d.period),
          prefix = root.str("monitoring", "metrics", "statsd", "prefix").getOrElse(d.prefix))))
    }
}
