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
        val hp = LoaderConfig.healthProbeFromHocon(text)
        assert(hp.port == 8000)
        assert(hp.unhealthyLatency == 2.minutes)
        // bad-sink chunking limits (PutRecords bounds)
        assert(c.bad.recordLimit == 500)
        assert(c.bad.byteLimit == 5242880L)
        // statsd metrics block
        val sd = LoaderConfig.statsdFromHocon(text, _ => Some("testWorkerId")).get
        assert(sd.hostname == "127.0.0.1")
        assert(sd.port == 8125)
        assert(sd.tags == Map("env" -> "prod"))
        assert(sd.period == 1.minute)
        assert(sd.prefix == "snowplow.blob.loader.aws")
        // kinesis input block (polling surface)
        val k = graft.sources.RecordSources
          .kinesisFromHocon(text, "eu-central-1", _ => Some("testWorkerId"))
          .toOption.get
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
    assert(graft.sources.RecordSources.kinesisFromHocon(
      """{"input": {"streamName": "s", "retrievalMode": {"idleTimeBetweenReads": "soon"}}}""", "r") ==
      Left("input.retrievalMode.idleTimeBetweenReads: Cannot parse duration: soon"))
  }

  test("a config without output.bad is rejected, not written to the working directory") {
    assert(LoaderConfig.fromHocon(
      """{"purpose": "ENRICHED_EVENTS", "output": {"good": {"path": "s3://x/"}}}""") ==
      Left("Missing required field: output.bad.path"))
  }

  test("AT_TIMESTAMP without a parseable input.initialPosition.timestamp is a Left") {
    def at(ts: String) = graft.sources.RecordSources.kinesisFromHocon(
      s"""{"input": {"streamName": "s",
         |  "initialPosition": {"type": "AT_TIMESTAMP"$ts}}}""".stripMargin, "r")
    assert(at("") == Left(
      "AT_TIMESTAMP needs an ISO-8601 input.initialPosition.timestamp, got: none"))
    assert(at(""", "timestamp": "yesterday"""") == Left(
      "AT_TIMESTAMP needs an ISO-8601 input.initialPosition.timestamp, got: yesterday"))
    assert(at(""", "timestamp": "2020-07-17T10:00:00Z"""").map(_.initialTimestamp) ==
      Right(Some("2020-07-17T10:00:00Z")))
  }

  test("a config with only the required fields decodes to the case-class defaults") {
    val text =
      """{"purpose": "ENRICHED_EVENTS",
        | "output": {"good": {"path": "s3://x/"}, "bad": {"streamName": "b"}},
        | "input": {"streamName": "s"},
        | "monitoring": {"metrics": {"statsd": {"hostname": "h"}}}}""".stripMargin
    val c = LoaderConfig.fromHocon(text).toOption.get
    assert(c == LoaderConfig(Purpose.Enriched, Output("s3://x/"), BadOutput("b")))
    assert(LoaderConfig.healthProbeFromHocon(text) == HealthProbeConfig())
    assert(LoaderConfig.statsdFromHocon(text).contains(
      graft.streaming.MetricsEmitter.StatsdConfig("h")))
    assert(graft.sources.RecordSources.kinesisFromHocon(text, "r") ==
      Right(graft.sources.RecordSources.Kinesis("s", "r")))
    // the defaults are the reference.conf values
    assert(c.batching.maxBytes == 67108864L && c.batching.maxDelay == 2.minutes)
    assert(c.bad.maxRecordSize == 1000000 && c.bad.recordLimit == 500)
    assert(c.bad.byteLimit == 5242880L)
    assert(c.decompression.maxBytesInBatch == 5242880L)
    assert(HealthProbeConfig() == HealthProbeConfig(8000, 2.minutes))
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
