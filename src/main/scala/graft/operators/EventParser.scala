package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.SchemaKey

/** Line classification + key/timestamp extraction (reference operators
  * P1–P5), expressed as declarative column transforms so Catalyst codegens
  * the whole parse stage. The one parser of the engine: the loader's
  * batches and streams and the reference queries (RefQueries q01–q04, q07)
  * all run it.
  *
  * Input: a DataFrame with a `line: string` column (already UTF-8 decoded,
  * reference Processing.scala:102,116).
  *
  * Output: the input columns, then
  *   vendor/name/format/model — grouping key (atomic sentinel for enriched;
  *                              NULL on a bad row)
  *   collector_tstamp         — event time, NULL on malformed (silent,
  *                              reference Processing.scala:152)
  *   bad_error                — NULL for good rows; error message for bad
  *                              (reference Processing.scala:181-182)
  *   schema_uri               — SDJ only: the `$.schema` string as read,
  *                              NULL when absent or the line is not JSON
  *
  * Each transform is one `select` per level of dependency, never a chain of
  * `withColumn`s (each of which re-analyzes the whole plan). A column that
  * an expensive expression produces is referenced, not restated, by the
  * layer above, so the optimizer keeps the layers apart and each
  * `get_json_object`, `rlike` and `split` runs once per row.
  */
object EventParser {

  /** `iglu:<vendor>/<name>/<format>/<model>-<revision>-<addition>` */
  val IgluRegex: String = "^iglu:([^/]+)/([^/]+)/([^/]+)/(\\d+)-(\\d+)-(\\d+)$"

  /** Enriched purpose: TSV, collector_tstamp is field 3 (0-based), format
    * `yyyy-MM-dd HH:mm:ss[.SSS]`; every row maps to the atomic schema and
    * none are bad (reference foldEnriched Processing.scala:101-112). One
    * select.
    */
  def parseEnriched(lines: DataFrame): DataFrame = {
    val a = SchemaKey.Atomic
    // Field 3 is split out of the first four fields only: substring_index
    // stops at the 4th tab, so the other ~127 fields of an enriched event
    // are never split. get() (0-based) instead of element_at: ANSI mode
    // (Spark 4 default) makes element_at THROW on rows with fewer than 4
    // fields, but the reference treats short/malformed rows as silent NULL
    // tstamps (Processing.scala:147-153). try_to_timestamp likewise
    // swallows unparsable text instead of raising under ANSI. The optional
    // 9-'S' fraction accepts 1–9 digits on parse — the reference's
    // Instant.parse width (Processing.scala:150-152); "[.SSS]" would
    // silently NULL a valid "…:05.5".
    val field3 = get(split(substring_index(col("line"), "\t", 4), "\t", -1), lit(3))
    lines.select(lines.columns.map(col) ++ Seq(
      lit(a.vendor).as("vendor"), lit(a.name).as("name"), lit(a.format).as("format"),
      lit(a.model).as("model"),
      try_to_timestamp(field3, lit("yyyy-MM-dd HH:mm:ss[.SSSSSSSSS]")).as("collector_tstamp"),
      lit(null).cast("string").as("bad_error")): _*)
  }

  /** SDJ purpose: parse `$.schema`, extract the Iglu key; malformed JSON,
    * a non-Iglu schema or a model past `Int` ⇒ bad row with the reference's
    * message prefixes (Processing.scala:181-182; golden
    * ProcessingSpec.scala:315-319).
    *
    * Three selects: the JSON read and the JSON-shape test; the route, one
    * struct of (bad_error, key) chosen by the single Iglu regex pass; then
    * the struct's fields as columns, which later selects can inline. The
    * `$.schema` string rides through as `schema_uri`; a select that does
    * not name it prunes it.
    */
  def parseSdj(lines: DataFrame): DataFrame = {
    val in = lines.columns.map(col)
    val parsed = lines.select(in ++ Seq(
      get_json_object(col("line"), "$.schema").as("schema_uri"),
      col("line").rlike("^\\s*\\{").as("_json")): _*)
    val uri = col("schema_uri")
    // extraction is substring_index over the already-validated URI — the
    // rlike is the single regex pass per line; regexp_extract ×4 measured
    // ~10× slower at sf0.1
    val path = substring(uri, 6, Int.MaxValue) // vendor/name/format/M-R-A
    def segment(i: Int) = substring_index(substring_index(path, "/", i), "/", -1)
    def route(error: Column, vendor: Column, name: Column, format: Column, model: Column) =
      struct(error.as("bad_error"), vendor.as("vendor"), name.as("name"),
        format.as("format"), model.as("model"))
    val none = lit(null).cast("string")
    def rejected(error: String) = route(lit(error), none, none, none, lit(null).cast("int"))
    // NULL past Int: the regex admits any digit run, and a plain cast
    // throws under ANSI, failing the whole batch
    val model = substring_index(substring_index(path, "/", -1), "-", 1).try_cast("int")
    val routed = parsed.select(in ++ Seq(uri,
      when(!col("_json"), rejected("Can't parse JSON holding self-describing event"))
        .when(uri.rlike(IgluRegex) && model.isNotNull,
          route(none, segment(1), segment(2), segment(3), model))
        .otherwise(rejected("Can't extract schema from self-describing event: INVALID_IGLUURI"))
        .as("_route")): _*)
    routed.select(in ++ Seq("vendor", "name", "format", "model").map(f => col(s"_route.$f").as(f)) ++
      Seq(lit(null).cast("timestamp").as("collector_tstamp"), col("_route.bad_error").as("bad_error"),
        uri): _*)
  }

  def parse(lines: DataFrame, enriched: Boolean): DataFrame =
    if (enriched) parseEnriched(lines) else parseSdj(lines)
}
