package graft

import java.time.Instant
import java.util.UUID

import org.scalatest.funsuite.AnyFunSuite

import graft.config.{LoaderConfig, Output, BadOutput, Purpose}
import graft.model.{BadRow, SchemaKey}
import graft.operators.EventParser
import graft.sinks.DynamicPath

/** Model layer: SchemaKey as cut by the loader's parser
  * ([[EventParser.parseSdj]]), DynamicPath / BadRow / config validation —
  * ports of the reference's DynamicPathSpec (12 cases) and ConfigSpec
  * golden behaviors.
  */
class ModelSpec extends AnyFunSuite with SparkSuite {

  override protected def sparkConf = Map("spark.app.name" -> "model-spec")

  private val t = Instant.parse("2023-12-25T15:30:45Z")
  private val key = SchemaKey("com.example", "event1", "jsonschema", 1)
  private val uuid = UUID.fromString("00000000-0000-0000-0000-000000000000")

  private val invalidUri = "Can't extract schema from self-describing event: INVALID_IGLUURI"

  private def toIgluUri(k: SchemaKey): String =
    s"iglu:${k.vendor}/${k.name}/${k.format}/${k.model}-0-0"

  /** Each schema string's (bad_error, key) as `parseSdj` routes an SDJ
    * line carrying it.
    */
  private def parseUris(schemas: Seq[String]): Map[String, (Option[String], Option[SchemaKey])] = {
    import spark.implicits._
    EventParser.parseSdj(schemas.map(u => s"""{"schema":"$u","data":{}}""").toDF("line"))
      .select("schema_uri", "bad_error", "vendor", "name", "format", "model")
      .as[(String, Option[String], Option[String], Option[String], Option[String], Option[Int])]
      .collect().map { case (u, e, v, n, f, m) =>
        u -> (e, for (v <- v; n <- n; f <- f; m <- m) yield SchemaKey(v, n, f, m))
      }.toMap
  }

  test("SchemaKey parses a full iglu URI") {
    val uri = "iglu:com.example/event1/jsonschema/1-0-0"
    assert(parseUris(Seq(uri)) == Map(uri -> (None, Some(key))))
  }

  test("SchemaKey rejects malformed URIs") {
    val malformed = Seq(
      "iglu:com.example/event1/jsonschema/1-0",
      "schema:com.example/event1/jsonschema/1-0-0",
      "",
      "iglu:com.example/event1/jsonschema/99999999999-0-0") // model past Int
    assert(parseUris(malformed) == malformed.map(_ -> (Some(invalidUri), None)).toMap)
  }

  test("SchemaKey round-trips through toIgluUri") {
    val keys = Seq(key, SchemaKey.Atomic, SchemaKey("com.acme", "x-y_z", "jsonschema", 12))
    assert(parseUris(keys.map(toIgluUri)) == keys.map(k => toIgluUri(k) -> (None, Some(k))).toMap)
  }

  // Reference DynamicPathSpec golden: year=..月 template at a fixed instant.
  test("time tokens render in UTC") {
    val r = DynamicPath.renderPartition(
      "year={yyyy}/month={MM}/day={dd}/hour={HH}/minute={mm}/second={ss}", t, key)
    assert(r == "year=2023/month=12/day=25/hour=15/minute=30/second=45")
  }

  test("schema tokens render; {schema} is an alias of {name}") {
    val r = DynamicPath.renderPartition(
      "{vendor}/{schema}/{name}/{format}/{model}", t, key)
    assert(r == "com.example/event1/event1/jsonschema/1")
  }

  test("atomic schema leaves schema tokens literal (reference DynamicPathSpec:148-155)") {
    val r = DynamicPath.renderPartition("{vendor}.{schema}", t, SchemaKey.Atomic)
    assert(r == "{vendor}.{schema}")
  }

  test("repeated tokens all substitute (reference DynamicPathSpec:166-173)") {
    val r = DynamicPath.renderPartition("{yyyy}/{yyyy}-{MM}", t, key)
    assert(r == "2023/2023-12")
  }

  test("path joining collapses duplicate slashes, keeps scheme") {
    assert(DynamicPath.joinPath(Seq("s3://bucket/base/", "/part//x", "f.gz"))
      == "s3://bucket/base/part/x/f.gz")
  }

  test("full path = base/partition/prefix + timestamp + uuid + .gz") {
    val p = DynamicPath.getFullPath(
      "blob://path", "pre-", Some("{vendor}.{schema}"), t, key, uuid)
    assert(p == s"blob://path/com.example.event1/pre-2023-12-25-153045-$uuid.gz")
  }

  test("enriched default has no partition dir (reference ProcessingSpec:303)") {
    val p = DynamicPath.getFullPath("blob://path", "", None, t, SchemaKey.Atomic, uuid)
    assert(p == s"blob://path/2023-12-25-153045-$uuid.gz")
  }

  test("config validation rejects schema tokens for enriched purpose") {
    val c = LoaderConfig(Purpose.Enriched,
      Output("blob://p", partitionFormat = Some("{vendor}/x")), BadOutput("blob://b"))
    assert(LoaderConfig.validate(c) ==
      Left("Enriched events can only get partitioned by date and time"))
  }

  test("config validation defaults SDJ partitioning to {vendor}.{schema}") {
    val c = LoaderConfig(Purpose.Sdj, Output("blob://p"), BadOutput("blob://b"))
    assert(LoaderConfig.validate(c).toOption.get.output.partitionFormat
      .contains("{vendor}.{schema}"))
  }

  test("purpose decoder accepts reference spellings") {
    assert(Purpose.parse("ENRICHED_EVENTS") == Right(Purpose.Enriched))
    assert(Purpose.parse("SELF_DESCRIBING") == Right(Purpose.Sdj))
    assert(Purpose.parse("nope").isLeft)
  }

  test("bad-row size cap trims payload to maxSize/10 (reference BadRowsSerializer:30-33)") {
    val proc = BadRow.Processor("graft-loader", "0.1.0")
    val big = BadRow.GenericError(proc, List("err"), ("x" * 500).getBytes, t)
    val json = BadRow.sizeCapped(big, 100, t, proc)
    assert(json.contains("size_violation"))
    assert(json.contains("\"maximumAllowedSizeBytes\":100"))
    // payload is the first 10 chars of the original serialized row
    assert(json.contains(big.toJson.take(10)))
    val small = BadRow.GenericError(proc, List("err"), "x".getBytes, t)
    assert(BadRow.sizeCapped(small, 100000, t, proc) == small.toJson)
  }
}
