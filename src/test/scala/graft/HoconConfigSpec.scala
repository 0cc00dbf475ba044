package graft

import java.nio.file.{Files, Paths}

import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

import graft.config._

/** Config decode goldens — the port of the reference's ConfigSpec /
  * AwsConfigSpec layer: decode the reference's shipped sample configs
  * (read from the read-only reference checkout when present) plus inline
  * fixtures for validation failures and defaulting.
  */
class HoconConfigSpec extends AnyFunSuite {

  private val refDir = "/root/reference/config"
  private def refConfig(name: String): Option[String] = {
    val p = Paths.get(refDir, name)
    if (Files.exists(p)) Some(Files.readString(p)) else None
  }

  test("minimal sample config decodes with reference.conf defaults") {
    refConfig("config.aws.minimal.hocon") match {
      case None => cancel("reference checkout not present")
      case Some(text) =>
        val c = LoaderConfig.fromHocon(text).toOption.get
        assert(c.purpose == Purpose.Enriched)
        assert(c.output.path == "s3://snowplow-enriched/")
        assert(c.output.partitionFormat.isEmpty) // enriched: no partition dir
        assert(c.bad.path == "snowplow-bad")
        assert(c.batching.maxBytes == 67108864L)
        assert(c.batching.maxDelay == 2.minutes)
        assert(c.bad.maxRecordSize == 1000000)
        assert(c.decompression.maxBytesInBatch == 5242880L)
    }
  }

  test("reference sample config decodes its full surface") {
    refConfig("config.aws.reference.hocon") match {
      case None => cancel("reference checkout not present")
      case Some(text) =>
        val c = LoaderConfig.fromHocon(text, _ => Some("testWorkerId")).toOption.get
        assert(c.purpose == Purpose.Sdj)
        assert(c.output.path == "s3://snowplow-events/")
        assert(c.output.prefix == "pre-")
        assert(c.output.partitionFormat.contains(
          "{vendor}.{schema}/model={model}/date={yyyy}-{MM}-{dd}/time={HH}{mm}{ss}"))
        assert(c.batching.maxDelay == 1.minute)
        assert(c.batching.maxBytes == 67108864L)
        val hp = c.healthProbe
        assert(hp.port == 8000)
        assert(hp.unhealthyLatency == 2.minutes)
        // bad-sink chunking limits (PutRecords bounds)
        assert(c.bad.recordLimit == 500)
        assert(c.bad.byteLimit == 5242880L)
        // statsd metrics block
        val sd = c.statsd.get
        assert(sd.hostname == "127.0.0.1")
        assert(sd.port == 8125)
        assert(sd.tags == Map("env" -> "prod"))
        assert(sd.period == 1.minute)
        assert(sd.prefix == "snowplow.blob.loader.aws")
        // kinesis input block (polling surface)
        val k = c.input.get
        assert(k.streamName == "snowplow-sdjs")
        assert(k.initialPosition == "TRIM_HORIZON")
        assert(k.maxRecords == 750)
        assert(k.idleTimeBetweenReadsMs == 1500L)
    }
  }

  test("enriched purpose rejects schema tokens in partitionFormat") {
    val bad =
      """{"purpose": "ENRICHED_EVENTS",
        | "output": {"good": {"path": "s3://x/", "partitionFormat": "{vendor}/x"},
        |            "bad": {"streamName": "b"}}}""".stripMargin
    assert(LoaderConfig.fromHocon(bad) ==
      Left("Enriched events can only get partitioned by date and time"))
  }

  test("SDJ purpose defaults partitionFormat to {vendor}.{schema}") {
    val c = LoaderConfig.fromHocon(
      """{"purpose": "SELF_DESCRIBING",
        | "output": {"good": {"path": "s3://x/"}, "bad": {"streamName": "b"}}}""".stripMargin)
      .toOption.get
    assert(c.output.partitionFormat.contains("{vendor}.{schema}"))
  }

  test("batching.maxBytes above 1 GiB is rejected when read; 64 MiB decodes") {
    def withMaxBytes(n: Long) = LoaderConfig.fromHocon(
      s"""{"purpose": "ENRICHED_EVENTS", "batching": {"maxBytes": $n},
         | "output": {"good": {"path": "s3://x/"}, "bad": {"streamName": "b"}}}""".stripMargin)
    val tooBig = withMaxBytes(1L << 31)
    assert(tooBig.isLeft)
    assert(tooBig.left.toOption.get.contains("batching.maxBytes 2147483648"))
    assert(withMaxBytes(64L << 20).map(_.batching.maxBytes) == Right(64L << 20))
  }

  /** The fields every config must set, as the body of a HOCON object. */
  private val Required =
    """"purpose": "ENRICHED_EVENTS",
      | "output": {"good": {"path": "s3://x/"}, "bad": {"streamName": "b"}}""".stripMargin

  private def withMaxDelay(v: String) = LoaderConfig.fromHocon(
    s"""{"purpose": "ENRICHED_EVENTS", "batching": {"maxDelay": $v},
       | "output": {"good": {"path": "s3://x/"}, "bad": {"streamName": "b"}}}""".stripMargin)

  test("a duration given as a bare number is milliseconds") {
    assert(withMaxDelay("1000").map(_.batching.maxDelay) == Right(1.second))
    assert(withMaxDelay("\"250\"").map(_.batching.maxDelay) == Right(250.millis))
    assert(withMaxDelay("\"90 seconds\"").map(_.batching.maxDelay) == Right(90.seconds))
    assert(Hocon.parseDuration("15") == 15.millis)
  }

  test("an unparseable duration is a Left that names its key, not an exception") {
    assert(withMaxDelay("\"soon\"") == Left("batching.maxDelay: Cannot parse duration: soon"))
    assert(withMaxDelay("1.5") == Left("batching.maxDelay: Cannot parse duration: 1.5"))
    assert(withMaxDelay("\"3 fortnights\"") ==
      Left("batching.maxDelay: Unknown duration unit: fortnights"))
    assert(LoaderConfig.fromHocon(
      s"""{$Required, "input": {"streamName": "s",
         | "retrievalMode": {"idleTimeBetweenReads": "soon"}}}""".stripMargin) ==
      Left("input.retrievalMode.idleTimeBetweenReads: Cannot parse duration: soon"))
  }

  test("a config without output.bad is rejected, not written to the working directory") {
    assert(LoaderConfig.fromHocon(
      """{"purpose": "ENRICHED_EVENTS", "output": {"good": {"path": "s3://x/"}}}""") ==
      Left("Missing required field: output.bad.path"))
  }

  test("AT_TIMESTAMP without a parseable input.initialPosition.timestamp is a Left") {
    def at(ts: String) = LoaderConfig.fromHocon(
      s"""{$Required, "input": {"streamName": "s",
         |  "initialPosition": {"type": "AT_TIMESTAMP"$ts}}}""".stripMargin)
    assert(at("") == Left(
      "AT_TIMESTAMP needs an ISO-8601 input.initialPosition.timestamp, got: none"))
    assert(at(""", "timestamp": "yesterday"""") == Left(
      "AT_TIMESTAMP needs an ISO-8601 input.initialPosition.timestamp, got: yesterday"))
    assert(at(""", "timestamp": "2020-07-17T10:00:00Z"""").map(_.input.get.initialTimestamp) ==
      Right(Some("2020-07-17T10:00:00Z")))
  }

  test("a config with only the required fields decodes to the case-class defaults") {
    val text =
      """{"purpose": "ENRICHED_EVENTS",
        | "output": {"good": {"path": "s3://x/"}, "bad": {"streamName": "b"}},
        | "input": {"streamName": "s"},
        | "monitoring": {"metrics": {"statsd": {"hostname": "h"}}}}""".stripMargin
    val c = LoaderConfig.fromHocon(text).toOption.get
    assert(c == LoaderConfig(Purpose.Enriched, Output("s3://x/"), BadOutput("b"),
      input = Some(graft.sources.RecordSources.Kinesis("s")),
      statsd = Some(graft.streaming.MetricsEmitter.StatsdConfig("h"))))
    assert(c.healthProbe == HealthProbeConfig())
    // the defaults are the reference.conf values
    assert(c.batching.maxBytes == 67108864L && c.batching.maxDelay == 2.minutes)
    assert(c.bad.maxRecordSize == 1000000 && c.bad.recordLimit == 500)
    assert(c.bad.byteLimit == 5242880L)
    assert(c.decompression.maxBytesInBatch == 5242880L)
    assert(HealthProbeConfig() == HealthProbeConfig(8000, 2.minutes))
  }

  test("an inline config with every block decodes each field") {
    val text =
      """{
        |  "purpose": "SELF_DESCRIBING"
        |  "input": {
        |    "appName": "snowplow-s3-loader"
        |    "streamName": "snowplow-sdjs"
        |    "initialPosition": { "type": "AT_TIMESTAMP", "timestamp": "2020-07-17T10:00:00Z" }
        |    "retrievalMode": { "type": "Polling", "maxRecords": 500, "idleTimeBetweenReads": "2 seconds" }
        |  }
        |  "output": {
        |    "good": {
        |      "path": "s3://snowplow-events/"
        |      "partitionFormat": "{vendor}.{schema}/date={yyyy}-{MM}-{dd}"
        |      "filenamePrefix": "pre-"
        |      "idempotentNames": true
        |    }
        |    "bad": {
        |      "streamName": "snowplow-bad"
        |      "maxRecordSize": 50000
        |      "recordLimit": 100
        |      "byteLimit": 1048576
        |    }
        |  }
        |  "batching": { "maxBytes": 1048576, "maxDelay": "30 seconds" }
        |  "decompression": { "maxBytesInBatch": 2097152, "maxBytesSinglePayload": 4194304 }
        |  "monitoring": {
        |    "metrics": {
        |      "statsd": {
        |        "hostname": "statsd.local"
        |        "port": 9125
        |        "tags": { "env": "prod", "app": "loader" }
        |        "period": "10 seconds"
        |        "prefix": "snowplow.blob.loader.aws"
        |      }
        |    }
        |    "healthProbe": { "port": 8081, "unhealthyLatency": "5 minutes" }
        |  }
        |}""".stripMargin
    val c = LoaderConfig.fromHocon(text).fold(e => fail(e), identity)
    assert(c.purpose == Purpose.Sdj)
    assert(c.output == Output("s3://snowplow-events/", "pre-",
      Some("{vendor}.{schema}/date={yyyy}-{MM}-{dd}"), idempotentNames = true))
    assert(c.bad == BadOutput("snowplow-bad", 50000, 100, 1048576L))
    assert(c.batching == Batching(1048576L, 30.seconds))
    assert(c.decompression == graft.sources.Decompression.Limits(2097152L, 4194304L))
    assert(c.input.contains(graft.sources.RecordSources.Kinesis("snowplow-sdjs",
      initialPosition = "AT_TIMESTAMP", initialTimestamp = Some("2020-07-17T10:00:00Z"),
      maxRecords = 500, idleTimeBetweenReadsMs = 2000L)))
    assert(c.statsd.contains(graft.streaming.MetricsEmitter.StatsdConfig("statsd.local", 9125,
      Map("env" -> "prod", "app" -> "loader"), 10.seconds, "snowplow.blob.loader.aws")))
    assert(c.healthProbe == HealthProbeConfig(8081, 5.minutes))
    assert(c.checkpointLocation.isEmpty)
  }

  test("a size or limit of zero or less is a Left that names its key") {
    def withBlock(block: String) = LoaderConfig.fromHocon(s"{$Required, $block}")
    def withBad(field: String) = LoaderConfig.fromHocon(
      s"""{"purpose": "ENRICHED_EVENTS", "output": {"good": {"path": "s3://x/"},
         | "bad": {"streamName": "b", $field}}}""".stripMargin)
    assert(withBad(""""maxRecordSize": -10""") ==
      Left("output.bad.maxRecordSize must be positive, got -10"))
    assert(withBad(""""recordLimit": 0""") ==
      Left("output.bad.recordLimit must be positive, got 0"))
    assert(withBad(""""byteLimit": -1""") ==
      Left("output.bad.byteLimit must be positive, got -1"))
    assert(withBlock(""""batching": {"maxBytes": 0}""") ==
      Left("batching.maxBytes must be positive, got 0"))
    assert(withBlock(""""decompression": {"maxBytesInBatch": 0}""") ==
      Left("decompression.maxBytesInBatch must be positive, got 0"))
    assert(withBlock(""""decompression": {"maxBytesSinglePayload": -5}""") ==
      Left("decompression.maxBytesSinglePayload must be positive, got -5"))
    assert(withBad(""""maxRecordSize": 1""").map(_.bad.maxRecordSize) == Right(1))
  }

  test("HOCON subset: comments, key-brace syntax, duplicate-key merge, env substitution") {
    val c = Hocon.parse(
      """{
        |  # comment
        |  "a" { "x": 1 }
        |  "a" { "y": "2 minutes" }   // merge
        |  "b": ${MY_ENV}
        |  "c": ${?MISSING}
        |  "c": "kept"
        |  "d": ${?MISSING2}
        |  "e": [1, 2, 3]
        |}""".stripMargin,
      Map("MY_ENV" -> "resolved").get)
    assert(c.num("a", "x").contains(1.0))
    assert(c.duration("a", "y").contains(2.minutes))
    assert(c.str("b").contains("resolved"))
    assert(c.str("c").contains("kept"))
    assert(c.get("d").isEmpty)
    assert(c.get("e").contains(Hocon.Arr(List(Hocon.Num(1), Hocon.Num(2), Hocon.Num(3)))))
  }
}
