package graft.sources

import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Source construction (reference operator S1). The reference consumes
  * Kinesis via the KCL (config surface at
  * config/config.aws.reference.hocon:7-64); in Spark the same stream
  * arrives as a streaming DataFrame with a binary `value` column — the
  * shape shared by Kinesis DSv2 connectors and the in-repo file/memory
  * sources. Everything downstream of [[build]] is source-agnostic.
  */
object RecordSources {

  sealed trait SourceConfig

  /** Kinesis (production): requires a Kinesis DSv2 connector on the
    * classpath (e.g. spark-sql-kinesis). Options mirror the reference's
    * polling surface: maxRecords per poll, idle time between reads,
    * initial position (config.aws.reference.hocon input block).
    */
  final case class Kinesis(
      streamName: String,
      region: String,
      initialPosition: String = "LATEST",
      initialTimestamp: Option[String] = None, // AT_TIMESTAMP only
      maxRecords: Int = 750,
      idleTimeBetweenReadsMs: Long = 1500,
      connectorFormat: String = "aws-kinesis") extends SourceConfig

  /** The connector option map — split from [[build]] so the mapping is
    * unit-testable without a connector on the classpath.
    *
    * ==Option-name conformance (production swap is config-only)==
    *
    * The published AWS Structured Streaming connector
    * (awslabs/spark-sql-kinesis-connector, format `aws-kinesis`) prefixes
    * every option with `kinesis.`; the offline `graft-kinesis` double
    * accepts BOTH spellings (KinesisFileTable.opt), so swapping formats
    * needs no code change. Mapping, graft → connector:
    *
    *  | graft option              | aws-kinesis connector option       |
    *  |---------------------------|------------------------------------|
    *  | streamName                | kinesis.streamName                 |
    *  | region                    | kinesis.region                     |
    *  | initialPosition           | kinesis.startingPosition           |
    *  | initialTimestamp          | kinesis.startingPosition (JSON ts) |
    *
    * The JSON form is DECODED, not just documented: a `kinesis.
    * startingPosition` whose value is a JSON object (the connector's
    * AT_TIMESTAMP rendering, e.g. `{"at_timestamp": "2024-01-01T00:00:00Z"}`)
    * yields position AT_TIMESTAMP with that timestamp
    * (KinesisFileTable.jsonTimestamp) — never a silent horizon fallback.
    *  | maxFetchRecordsPerShard   | kinesis.maxFetchRecordsPerShard    |
    *  | minFetchPeriodMillis      | kinesis.minFetchPeriod (duration)  |
    *
    * Position VALUES (LATEST / TRIM_HORIZON / AT_TIMESTAMP) are spelled
    * identically in both. The KCL lease/DynamoDB knobs the reference
    * tunes (config.aws.reference.hocon:39-57 leaseDuration,
    * maxLeasesToStealAtOneTimeFactor, checkpointThrottledBackoffPeriod)
    * have no DSv2 equivalent — the micro-batch offset log replaces the
    * lease table entirely, which is the architectural point of the
    * Spark-first re-expression.
    */
  def kinesisOptions(k: Kinesis): Map[String, String] =
    Map(
      "streamName" -> k.streamName,
      "region" -> k.region,
      "initialPosition" -> k.initialPosition,
      "maxFetchRecordsPerShard" -> k.maxRecords.toString,
      "minFetchPeriodMillis" -> k.idleTimeBetweenReadsMs.toString) ++
      k.initialTimestamp.map("initialTimestamp" -> _)

  /** Decode the reference's `input` HOCON block (streamName,
    * initialPosition{type,timestamp}, retrievalMode{maxRecords,
    * idleTimeBetweenReads}) into a [[Kinesis]] config.
    */
  def kinesisFromHocon(
      text: String,
      region: String,
      env: String => Option[String] = sys.env.get): Either[String, Kinesis] = {
    val root = graft.config.Hocon.parse(text, env)
    val d = Kinesis(streamName = "", region = region)
    for {
      stream <- root.str("input", "streamName")
        .toRight("Missing required field: input.streamName")
      pos = root.str("input", "initialPosition", "type").getOrElse(d.initialPosition)
      ts = root.str("input", "initialPosition", "timestamp")
      _ <- pos match {
        case "LATEST" | "TRIM_HORIZON" => Right(())
        case "AT_TIMESTAMP" =>
          Either.cond(ts.exists(t => Try(java.time.Instant.parse(t)).isSuccess), (),
            "AT_TIMESTAMP needs an ISO-8601 input.initialPosition.timestamp, got: " +
              ts.getOrElse("none"))
        case other => Left(s"Unknown initialPosition.type: $other")
      }
      idle <- Try(root.duration("input", "retrievalMode", "idleTimeBetweenReads"))
        .toEither.left.map(_.getMessage)
    } yield d.copy(
      streamName = stream,
      initialPosition = pos,
      initialTimestamp = ts,
      maxRecords = root.num("input", "retrievalMode", "maxRecords")
        .map(_.toInt).getOrElse(d.maxRecords),
      idleTimeBetweenReadsMs = idle.map(_.toMillis).getOrElse(d.idleTimeBetweenReadsMs))
  }

  /** Line files (text): each line of a file dropped into `path` becomes
    * one record payload — the replay path.
    */
  final case class TextFiles(path: String) extends SourceConfig

  def build(spark: SparkSession, conf: SourceConfig): DataFrame = conf match {
    case k: Kinesis =>
      spark.readStream
        .format(k.connectorFormat)
        .options(kinesisOptions(k))
        .load()
        .select(col("data").cast("binary").as("value"))
    case t: TextFiles =>
      spark.readStream.format("text").load(t.path)
        .select(encode(col("value"), "utf-8").as("value"))
  }
}
