package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.config.LoaderConfig
import graft.sources.RecordSources

/** Kinesis source option surface (reference S1 — config.aws.reference
  * .hocon input block): the HOCON → Kinesis config → connector-option
  * mapping, testable without a Kinesis connector on the classpath.
  */
class RecordSourcesSpec extends AnyFunSuite {

  /** The `input` block as `LoaderConfig.fromHocon` decodes it, next to the
    * fields every config must set.
    */
  private def input(block: String) = LoaderConfig.fromHocon(
    s"""purpose = "ENRICHED_EVENTS"
       |output { good { path = "s3://x/" }, bad { streamName = "b" } }
       |$block""".stripMargin).map(_.input)

  private val hocon =
    """
      |"input": {
      |  "streamName": "snowplow-sdjs"
      |  "appName": "snowplow-s3-loader"
      |  "initialPosition": { "type": "TRIM_HORIZON" }
      |  "retrievalMode": {
      |    "type": "Polling"
      |    "maxRecords": 750
      |    "idleTimeBetweenReads": "1500 millis"
      |  }
      |}
    """.stripMargin

  test("reference input block parses to the Kinesis polling surface") {
    val k = input(hocon).toOption.flatten.get
    assert(k.streamName == "snowplow-sdjs")
    assert(k.initialPosition == "TRIM_HORIZON")
    assert(k.maxRecords == 750)
    assert(k.idleTimeBetweenReadsMs == 1500L)
  }

  test("connector options carry the full polling surface") {
    val k = RecordSources.Kinesis("s", "eu-west-1",
      initialPosition = "AT_TIMESTAMP",
      initialTimestamp = Some("2023-01-01T00:00:00Z"))
    val opts = RecordSources.kinesisOptions(k)
    assert(opts("streamName") == "s")
    assert(opts("region") == "eu-west-1")
    assert(opts("initialPosition") == "AT_TIMESTAMP")
    assert(opts("initialTimestamp") == "2023-01-01T00:00:00Z")
    assert(opts("maxFetchRecordsPerShard") == "750")
    assert(opts("minFetchPeriodMillis") == "1500")
    // no region: the connector's SDK resolves it
    assert(!RecordSources.kinesisOptions(RecordSources.Kinesis("s")).contains("region"))
  }

  test("defaults and validation: missing stream / bad position are errors") {
    assert(input("input {}") == Left("Missing required field: input.streamName"))
    assert(input("""input { streamName = "s", initialPosition { type = "NOPE" } }""") ==
      Left("Unknown initialPosition.type: NOPE"))
    assert(input("") == Right(None))
    val k = input("""input { streamName = "s" }""").toOption.flatten.get
    assert(k.initialPosition == "LATEST")
    assert(k.maxRecords == 750 && k.idleTimeBetweenReadsMs == 1500L)
  }
}
