package graft.sources

import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Source construction (reference operator S1). The reference consumes
  * Kinesis via the KCL (config surface at
  * config/config.aws.reference.hocon:7-64); in Spark the same stream
  * arrives as a streaming DataFrame with a binary `value` column, the
  * shape of the Kinesis DSv2 connectors and of the in-repo `graft-kinesis`
  * double. The HOCON `input` block decodes to a [[Kinesis]] in
  * `LoaderConfig.fromHocon`; everything downstream of [[build]] is
  * source-agnostic.
  */
object RecordSources {

  /** Kinesis (production): requires a Kinesis DSv2 connector on the
    * classpath (e.g. spark-sql-kinesis). Options mirror the reference's
    * polling surface: maxRecords per poll, idle time between reads,
    * initial position (config.aws.reference.hocon input block). An empty
    * `region` is left to the connector (the AWS SDK resolves it, as the
    * reference's HOCON, which has no region key, does).
    */
  final case class Kinesis(
      streamName: String,
      region: String = "",
      initialPosition: String = "LATEST",
      initialTimestamp: Option[String] = None, // AT_TIMESTAMP only
      maxRecords: Int = 750,
      idleTimeBetweenReadsMs: Long = 1500,
      connectorFormat: String = "aws-kinesis")

  /** Where a shard's reading starts when the query has no checkpoint. */
  sealed trait StartingPosition
  object StartingPosition {
    case object Latest extends StartingPosition
    case object TrimHorizon extends StartingPosition
    final case class AtTimestamp(epochMs: Long) extends StartingPosition
  }

  /** The one decoder of a starting position: `LATEST`, `TRIM_HORIZON`, or
    * `AT_TIMESTAMP` with an ISO-8601 `timestamp`, spelled exactly so. Any
    * other value, and AT_TIMESTAMP without a parseable timestamp, is a
    * `Left` naming `positionKey` or `timestampKey`: a position that is not
    * understood must never quietly become a full replay.
    */
  def startingPosition(
      position: String,
      timestamp: Option[String],
      positionKey: String,
      timestampKey: String): Either[String, StartingPosition] = position match {
    case "LATEST" => Right(StartingPosition.Latest)
    case "TRIM_HORIZON" => Right(StartingPosition.TrimHorizon)
    case "AT_TIMESTAMP" =>
      timestamp.flatMap(t => Try(java.time.Instant.parse(t).toEpochMilli).toOption)
        .map(StartingPosition.AtTimestamp(_))
        .toRight(s"AT_TIMESTAMP needs an ISO-8601 $timestampKey, got: " +
          timestamp.getOrElse("none"))
    case other => Left(s"Unknown $positionKey: $other")
  }

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
    * identically in both, and both sides decode them with
    * [[startingPosition]]. The KCL lease/DynamoDB knobs the reference
    * tunes (config.aws.reference.hocon:39-57 leaseDuration,
    * maxLeasesToStealAtOneTimeFactor, checkpointThrottledBackoffPeriod)
    * have no DSv2 equivalent — the micro-batch offset log replaces the
    * lease table entirely, which is the architectural point of the
    * Spark-first re-expression.
    */
  def kinesisOptions(k: Kinesis): Map[String, String] =
    Map(
      "streamName" -> k.streamName,
      "initialPosition" -> k.initialPosition,
      "maxFetchRecordsPerShard" -> k.maxRecords.toString,
      "minFetchPeriodMillis" -> k.idleTimeBetweenReadsMs.toString) ++
      Some(k.region).filter(_.nonEmpty).map("region" -> _) ++
      k.initialTimestamp.map("initialTimestamp" -> _)

  def build(spark: SparkSession, k: Kinesis): DataFrame =
    spark.readStream
      .format(k.connectorFormat)
      .options(kinesisOptions(k))
      .load()
      .select(col("data").cast("binary").as("value"))
}
