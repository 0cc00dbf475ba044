package graft.sources.kinesis

import java.nio.file.{Files, Path, Paths}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.RecordSources
import graft.sources.RecordSources.StartingPosition

/** File-backed Kinesis emulator — a real DataSource V2 `MicroBatchStream`
  * registered under the short name `graft-kinesis`, shaped like the public
  * Kinesis connectors so [[graft.sources.RecordSources.build]] (the
  * reference's only production source,
  * /root/reference/config/config.aws.reference.hocon:7-64) executes for
  * real in an offline environment:
  *
  *  - `streamName` is a DIRECTORY; each regular file in it is one shard
  *    (shardId = file name), each line that ends in `\n` one record, its
  *    bytes passed through undecoded — the record model the reference
  *    documents (README.md:11-12, records are lines). A final line
  *    without its `\n` is an append in progress and is not read yet.
  *  - sequence numbers are per-shard line indexes; offsets are the
  *    per-shard next-line cursor, checkpointed/restored through the
  *    standard offset log (at-least-once replay contract T7).
  *  - `initialPosition` is decoded by
  *    [[graft.sources.RecordSources.startingPosition]], as the HOCON
  *    `input` block is: TRIM_HORIZON starts every shard at 0; LATEST
  *    (the default when no position is given) starts at the line count
  *    observed when the query starts; AT_TIMESTAMP (+ `initialTimestamp`,
  *    ISO-8601) keys off each shard FILE's mtime — the arrival granularity
  *    the file backing has: a shard touched at/after the timestamp
  *    replays from its horizon, an older one reads only future appends.
  *    Any other value, and AT_TIMESTAMP without a parseable timestamp,
  *    fails at `load()`.
  *  - `maxFetchRecordsPerShard` bounds each micro-batch via the
  *    admission-control API ([[SupportsAdmissionControl]]) — the same
  *    mechanism the Kafka source uses for maxOffsetsPerTrigger.
  *  - shards appearing mid-query (resharding) are picked up at the next
  *    trigger and read from their beginning, like Kinesis child shards.
  *
  * Output schema mirrors a Kinesis connector record: `data` (binary,
  * the payload the loader consumes), stream/partitionKey/sequenceNumber
  * metadata, approximate arrival timestamp, shardId.
  */
class KinesisFileProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-kinesis"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    KinesisFileSource.Schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new KinesisFileTable(new CaseInsensitiveStringMap(properties))
}

object KinesisFileSource {
  val Schema: StructType = StructType(Seq(
    StructField("data", BinaryType),
    StructField("streamName", StringType),
    StructField("partitionKey", StringType),
    StructField("sequenceNumber", StringType),
    StructField("approximateArrivalTimestamp", TimestampType),
    StructField("shardId", StringType)))

  /** Per-shard next-line cursors. Serialized `shard=n;shard=n` (sorted),
    * one line — the offset-log-friendly rendering.
    */
  final case class ShardOffsets(cursors: Map[String, Long]) extends Offset {
    override def json(): String =
      cursors.toSeq.sorted.map { case (s, n) => s"$s=$n" }.mkString(";")
  }

  def parseOffsets(json: String): ShardOffsets =
    ShardOffsets(
      json.split(";").iterator.filter(_.nonEmpty).map { part =>
        val i = part.lastIndexOf('=')
        part.substring(0, i) -> part.substring(i + 1).toLong
      }.toMap)

  /** The complete records of a shard file's bytes, as (start, end) byte
    * ranges without the `\n`: only a line that ends in `\n` is a record.
    * A final line without one is an append still being written; it
    * becomes a record, whole, once its `\n` lands, so the same offsets
    * always name the same bytes. Records are raw bytes, never decoded
    * here: a payload that is not UTF-8 reaches the loader's parser.
    */
  def records(bytes: Array[Byte]): Iterator[(Int, Int)] =
    Iterator.iterate((0, newline(bytes, 0))) { case (_, end) => (end + 1, newline(bytes, end + 1)) }
      .takeWhile(_._2 < bytes.length)

  private def newline(bytes: Array[Byte], from: Int): Int = {
    var i = from
    while (i < bytes.length && bytes(i) != '\n') i += 1
    i
  }

  /** Current per-shard record counts — one directory listing + byte scan
    * (the double's analogue of DescribeStream + GetRecords).
    */
  def shardEnds(dir: Path): Map[String, Long] = {
    if (!Files.isDirectory(dir)) return Map.empty
    val files = Files.list(dir).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    files.map { f =>
      f.getFileName.toString -> records(Files.readAllBytes(f)).size.toLong
    }.toMap
  }
}

class KinesisFileTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {

  /** Option lookup that accepts BOTH this engine's bare spelling and the
    * published AWS `spark-sql-kinesis-connector` spelling (`kinesis.`-
    * prefixed, case-insensitive) — see the conformance table on
    * [[graft.sources.RecordSources.kinesisOptions]]. A production swap to
    * the real connector is then config-only in either direction.
    */
  private def opt(bare: String, connector: String): Option[String] =
    Option(options.get(bare)).orElse(Option(options.get(connector)))
      .filter(_.nonEmpty)

  private val streamName: String =
    opt("streamName", "kinesis.streamName").getOrElse(
      throw new IllegalArgumentException(
        "Missing required option: streamName (or kinesis.streamName)"))

  /** The position as given, kept when empty: an empty position is
    * rejected by [[RecordSources.startingPosition]], not defaulted.
    */
  private val rawStartingPosition: Option[String] =
    Option(options.get("initialPosition")).orElse(Option(options.get("kinesis.startingPosition")))

  /** The published connector embeds the starting position as a JSON
    * object INSIDE `kinesis.startingPosition` (see the conformance table
    * on [[graft.sources.RecordSources.kinesisOptions]]); a config-only
    * swap must not silently fall back to the horizon, so a `{...}` value
    * is decoded here: an `at_timestamp`/`atTimestamp` field (ISO-8601
    * instant — the double's timestamp rendering) makes the position
    * AT_TIMESTAMP; a `latest` or `trim_horizon`/`trimHorizon` key maps
    * to the bare position of the same name (r7 advice: these fell
    * through to the horizon, silently replaying the full backlog for
    * LATEST). Any OTHER `{...}` value is rejected loudly — an
    * unrecognized JSON position must never quietly become a full
    * replay.
    */
  private def jsonTimestamp(v: String): Option[String] =
    if (!v.trim.startsWith("{")) None
    else """"(?:at_timestamp|atTimestamp)"\s*:\s*"([^"]+)"""".r
      .findFirstMatchIn(v).map(_.group(1))

  private def jsonBarePosition(v: String): Option[String] = {
    // anchor to a KEY position ("latest": / "latest"}) — matching the
    // quoted token anywhere would accept e.g. {"foo": "latest"} as
    // LATEST instead of rejecting it as unrecognized (r8 advice)
    if (!v.trim.startsWith("{")) None
    else if (""""latest"\s*:""".r.findFirstIn(v.toLowerCase).isDefined)
      Some("LATEST")
    else if (""""(?:trim_horizon|trimhorizon)"\s*:""".r
        .findFirstIn(v.toLowerCase).isDefined)
      Some("TRIM_HORIZON")
    else None
  }

  private val jsonTs: Option[String] = rawStartingPosition.flatMap(jsonTimestamp)

  private val initialPosition: String =
    if (jsonTs.isDefined) "AT_TIMESTAMP"
    else rawStartingPosition match {
      case Some(v) if v.trim.startsWith("{") =>
        jsonBarePosition(v).getOrElse(throw new IllegalArgumentException(
          s"Unrecognized JSON kinesis.startingPosition: $v (expected " +
            "an at_timestamp/atTimestamp field, or a latest / " +
            "trim_horizon key)"))
      case Some(v) => v
      case None => "LATEST"
    }

  private val initialTimestamp: Option[String] =
    opt("initialTimestamp", "kinesis.startingPosition.timestamp")
      .orElse(jsonTs)

  /** Decided by [[RecordSources.startingPosition]], as the HOCON `input`
    * block is; anything it rejects fails here, at `load()`, and never
    * becomes a full replay.
    */
  private val startingPosition: StartingPosition =
    RecordSources.startingPosition(initialPosition, initialTimestamp,
      "initialPosition (or kinesis.startingPosition)",
      "initialTimestamp (or kinesis.startingPosition.timestamp)")
      .fold(e => throw new IllegalArgumentException(e), identity)

  private val maxFetchRecordsPerShard: Int =
    opt("maxFetchRecordsPerShard", "kinesis.maxFetchRecordsPerShard")
      .map(_.toInt).getOrElse(Int.MaxValue)

  override def name(): String = s"graft-kinesis:$streamName"
  override def schema(): StructType = KinesisFileSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = KinesisFileSource.Schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new KinesisFileMicroBatchStream(
            streamName, startingPosition, maxFetchRecordsPerShard)
      }
    }
}

class KinesisFileMicroBatchStream(
    streamName: String,
    position: StartingPosition,
    maxRecordsPerShard: Int)
    extends MicroBatchStream with SupportsAdmissionControl {
  import KinesisFileSource._

  private val dir = Paths.get(streamName)

  override def initialOffset(): Offset = position match {
    // AT_TIMESTAMP: the double's arrival time is the shard file's mtime
    // (one arrival stamp per shard — the granularity the file backing
    // has): a shard whose records arrived at/after the timestamp replays
    // from its horizon; one whose records predate it starts at its
    // current end (only future appends are read) — per-shard, exactly
    // how the real position filters by approximateArrivalTimestamp.
    case StartingPosition.AtTimestamp(cut) =>
      ShardOffsets(shardEnds(dir).map { case (s, end) =>
        val mtime = Files.getLastModifiedTime(dir.resolve(s)).toMillis
        s -> (if (mtime >= cut) 0L else end)
      })
    case StartingPosition.Latest => ShardOffsets(shardEnds(dir))
    case StartingPosition.TrimHorizon => ShardOffsets(shardEnds(dir).map { case (s, _) => s -> 0L })
  }

  override def deserializeOffset(json: String): Offset = parseOffsets(json)

  override def getDefaultReadLimit: ReadLimit =
    if (maxRecordsPerShard == Int.MaxValue) ReadLimit.allAvailable()
    else ReadLimit.maxRows(maxRecordsPerShard.toLong)

  /** Admission control: each trigger advances every shard by at most
    * maxFetchRecordsPerShard — the reference's per-poll maxRecords bound
    * (config.aws.reference.hocon retrievalMode.maxRecords).
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[ShardOffsets].cursors
    val ends = shardEnds(dir)
    ShardOffsets(ends.map { case (shard, end) =>
      // unseen shard (resharding): read from its beginning
      val cur = from.getOrElse(shard, 0L)
      shard -> math.min(end, cur + maxRecordsPerShard.toLong)
    })
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[ShardOffsets].cursors
    val to = end.asInstanceOf[ShardOffsets].cursors
    to.toSeq.sorted.flatMap { case (shard, endLine) =>
      val startLine = from.getOrElse(shard, 0L)
      if (endLine > startLine)
        Some(KinesisShardPartition(
          dir.resolve(shard).toString, streamName, shard, startLine, endLine))
      else None
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new KinesisShardReaderFactory

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

final case class KinesisShardPartition(
    filePath: String,
    streamName: String,
    shardId: String,
    startLine: Long,
    endLine: Long) extends InputPartition

class KinesisShardReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[KinesisShardPartition]
    new PartitionReader[InternalRow] {
      private val file = Paths.get(p.filePath)
      private val arrivalMicros = Files.getLastModifiedTime(file).toMillis * 1000L
      private val bytes = Files.readAllBytes(file)
      private val lines = KinesisFileSource.records(bytes).slice(p.startLine.toInt, p.endLine.toInt)
      private var seq = p.startLine - 1

      override def next(): Boolean = lines.hasNext
      override def get(): InternalRow = {
        val (start, end) = lines.next()
        seq += 1
        InternalRow(
          java.util.Arrays.copyOfRange(bytes, start, end),
          UTF8String.fromString(p.streamName),
          UTF8String.fromString(p.shardId),
          UTF8String.fromString(seq.toString),
          arrivalMicros,
          UTF8String.fromString(p.shardId))
      }
      override def close(): Unit = ()
    }
  }
}
