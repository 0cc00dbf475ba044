package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SURVEY.md §2.11 declared queries Q1–Q8 — the relational content of the
  * reference's pipeline operators, expressed Spark-first with a DuckDB
  * oracle per query.
  *
  * Reference semantics cited per query; every computed column is aliased
  * identically in the Spark plan and the oracle SQL (driver hash-compares
  * after sorting columns by name).
  */
object RefQueries extends QueryFamily {

  /** Common DuckDB renderings of Synth.enrichedLine / Synth.sdjLine. */
  private val DuckEnrichedLine =
    """concat_ws(chr(9), cast(event_id as varchar), event_type, '',
      | strftime(ts, '%Y-%m-%d %H:%M:%S.%g'), cast(user_id as varchar),
      | cast(cast(value as decimal(18,2)) as varchar), props)""".stripMargin.replaceAll("\n", "")

  private val DuckSdjLine =
    """case when event_type = 'error' then props
      | else '{"schema":"iglu:com.example/' || event_type || '/jsonschema/1-0-0","data":' || props || '}' end""".stripMargin.replaceAll("\n", "")

  private val DuckIglu = "^iglu:([^/]+)/([^/]+)/([^/]+)/(\\d+)-(\\d+)-(\\d+)$"

  /** The SDJ rendering of every event, fanned out and parsed by
    * [[EventParser.parseSdj]] — the loader's own parser. `cols` ride along.
    *
    * The parse ends in an observation (a row count, the query's
    * `sdj_parse` observed metric), which keeps the parse above the
    * fan-out: the optimizer pushes a deterministic filter such as
    * `bad_error IS NULL` through every `select` and through the
    * repartition, inlining the whole parse into the one-task scan stage and
    * running it twice per row, but it does not push a filter below an
    * observation.
    */
  private def sdj(s: SparkSession, dir: String, cols: String*): DataFrame =
    EventParser.parseSdj(Synth.fanOut(Synth.events(s, dir)
      .select(cols.map(col) :+ Synth.sdjLine().as("line"): _*), "event_id"))
      .observe("sdj_parse", count(lit(1)).as("rows"))

  private val good = col("bad_error").isNull

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Q1 — P1/P2: enriched decode, collector_tstamp from TSV col index 3
    // (reference: Processing.scala:143-154; NULL on malformed, silent).
    "q01_enriched_tstamp" -> { (s, dir) =>
      // fanOut: the timestamp parse below is the query's cost and the
      // single-file scan is one task (Synth.fanOut scaladoc)
      EventParser.parseEnriched(Synth.fanOut(Synth.events(s, dir).select(
        col("event_id"), Synth.enrichedLine().as("line")), "event_id"))
        .select(col("event_id"),
          date_format(col("collector_tstamp"), "yyyy-MM-dd HH:mm:ss.SSS").as("collector_tstamp"))
        .orderBy("event_id")
    },

    // Q2 — P3/P4: SDJ good/bad split, good side with extracted schema URI
    // (reference: Processing.scala:114-141,175-187).
    "q02_sdj_good" -> { (s, dir) =>
      sdj(s, dir, "event_id").filter(good)
        .select(col("event_id"), col("schema_uri"))
        .orderBy("event_id")
    },

    // Q2b — the complement: bad rows carry Base64 of the raw payload
    // (reference: Processing.scala:189-204, payload Base64 at :198).
    "q02_sdj_bad" -> { (s, dir) =>
      sdj(s, dir, "event_id").filter(!good)
        .select(col("event_id"), base64(col("line").cast("binary")).as("payload_b64"))
        .orderBy("event_id")
    },

    // Q3 — F6: Iglu URI parse → (vendor, name, format, model)
    // (reference: SchemaKey.extract call at Processing.scala:182,
    //  component access DynamicPath.scala:24-30).
    "q03_iglu_parse" -> { (s, dir) =>
      sdj(s, dir, "event_id").filter(good)
        .select("event_id", "vendor", "name", "format", "model")
        .orderBy("event_id")
    },

    // Q4 — A1+A2: group by schema key, count per group
    // (reference: Processing.scala:106,121-123 map-merge monoid).
    "q04_group_by_schema" -> { (s, dir) =>
      sdj(s, dir, "event_id").filter(good)
        .groupBy("vendor", "name", "model")
        .agg(count(lit(1)).as("n_events"))
        .orderBy("vendor", "name", "model")
    },

    // Q5 — A3: null-tolerant min collector_tstamp over the batch
    // (reference: chooseEarliestTstamp Processing.scala:167-173).
    "q05_min_tstamp" -> { (s, dir) =>
      Synth.events(s, dir)
        .agg(date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss.SSS")
          .as("earliest_tstamp"))
    },

    // Q6 — T2: batch assignment by cumulative uncompressed size; the
    // reference flushes when the running batch exceeds maxBytes (soft
    // limit, checked after append — Processing.scala:249-252). Modeled as
    // a running sum of line bytes (+1 for the trailing newline the writer
    // adds, CompressedStream.scala:27-33) bucketed by a 64 KiB batch size.
    //
    // Distributed running size via [[PrefixSum.overBlocks]] — a global
    // Window.orderBy would single-partition the whole table; the two-pass
    // prefix sum needs one hash shuffle plus a #blocks-row offsets agg.
    "q06_size_batches" -> { (s, dir) =>
      val sized = Synth.events(s, dir)
        .select(col("event_id"), Synth.enrichedLine().as("line"))
        .select(col("event_id"),
          (octet_length(col("line")) + lit(1)).cast("long").as("sz"))
      PrefixSum.overBlocks(sized, "event_id", "sz", 65536L, "cum_bytes")
        .select(col("event_id"), col("cum_bytes"),
          floor((col("cum_bytes") - lit(1)) / lit(65536L)).as("batch_id"))
        .orderBy("event_id")
    },

    // Q7 — F9/S5: partition-path rendering {vendor}.{schema}/model=M/date=D
    // (reference: DynamicPath.scala:80-97; SDJ default template
    //  DynamicPath.scala:46-49).
    "q07_partition_path" -> { (s, dir) =>
      sdj(s, dir, "event_id", "ts").filter(good)
        .select(
          col("event_id"),
          concat(
            col("vendor"), lit("."), col("name"),
            lit("/model="), col("model").cast("string"),
            lit("/date="), date_format(col("ts"), "yyyy-MM-dd")).as("partition_path"))
        .orderBy("event_id")
    },

    // Q8 — P6: size-cap projection; serialized rows >= K bytes get the
    // payload trimmed to the first K/10 chars
    // (reference: BadRowsSerializer.scala:24-44).
    "q08_size_cap" -> { (s, dir) =>
      val k = 400
      Synth.documents(s, dir)
        .select(col("doc_id"),
          when(length(col("text")) >= k, expr(s"substring(text, 1, ${k / 10})"))
            .otherwise(col("text")).as("capped_text"),
          (length(col("text")) >= k).as("was_capped"))
        .orderBy("doc_id")
    }
  )

  def oracle: Map[String, String] = Map(
    "q01_enriched_tstamp" ->
      s"""SELECT event_id,
         | strftime(strptime(split_part(line, chr(9), 4), '%Y-%m-%d %H:%M:%S.%g'),
         |          '%Y-%m-%d %H:%M:%S.%g') AS collector_tstamp
         |FROM (SELECT event_id, $DuckEnrichedLine AS line FROM events)
         |ORDER BY event_id""".stripMargin,

    "q02_sdj_good" ->
      s"""SELECT event_id, json_extract_string(line, '$$.schema') AS schema_uri
         |FROM (SELECT event_id, $DuckSdjLine AS line FROM events)
         |WHERE regexp_matches(json_extract_string(line, '$$.schema'), '$DuckIglu')
         |ORDER BY event_id""".stripMargin,

    "q02_sdj_bad" ->
      s"""SELECT event_id, to_base64(encode(line)) AS payload_b64
         |FROM (SELECT event_id, $DuckSdjLine AS line FROM events)
         |WHERE NOT regexp_matches(coalesce(json_extract_string(line, '$$.schema'), ''), '$DuckIglu')
         |ORDER BY event_id""".stripMargin,

    "q03_iglu_parse" ->
      s"""SELECT event_id,
         | regexp_extract(u, '$DuckIglu', 1) AS vendor,
         | regexp_extract(u, '$DuckIglu', 2) AS name,
         | regexp_extract(u, '$DuckIglu', 3) AS format,
         | cast(regexp_extract(u, '$DuckIglu', 4) as int) AS model
         |FROM (SELECT event_id, json_extract_string($DuckSdjLine, '$$.schema') AS u FROM events)
         |WHERE regexp_matches(u, '$DuckIglu')
         |ORDER BY event_id""".stripMargin,

    "q04_group_by_schema" ->
      s"""SELECT regexp_extract(u, '$DuckIglu', 1) AS vendor,
         | regexp_extract(u, '$DuckIglu', 2) AS name,
         | cast(regexp_extract(u, '$DuckIglu', 4) as int) AS model,
         | count(*) AS n_events
         |FROM (SELECT json_extract_string($DuckSdjLine, '$$.schema') AS u FROM events)
         |WHERE regexp_matches(u, '$DuckIglu')
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q05_min_tstamp" ->
      "SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S.%g') AS earliest_tstamp FROM events",

    "q06_size_batches" ->
      s"""SELECT event_id, cast(cum_bytes as bigint) AS cum_bytes,
         |  cast(floor((cum_bytes - 1) / 65536) as bigint) AS batch_id
         |FROM (
         |  SELECT event_id,
         |    sum(octet_length(encode(line)) + 1) OVER (ORDER BY event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_bytes
         |  FROM (SELECT event_id, $DuckEnrichedLine AS line FROM events))
         |ORDER BY event_id""".stripMargin,

    "q07_partition_path" ->
      s"""SELECT event_id,
         | regexp_extract(u, '$DuckIglu', 1) || '.' || regexp_extract(u, '$DuckIglu', 2)
         |   || '/model=' || regexp_extract(u, '$DuckIglu', 4)
         |   || '/date=' || strftime(ts, '%Y-%m-%d') AS partition_path
         |FROM (SELECT event_id, ts, json_extract_string($DuckSdjLine, '$$.schema') AS u FROM events)
         |WHERE regexp_matches(u, '$DuckIglu')
         |ORDER BY event_id""".stripMargin,

    "q08_size_cap" ->
      """SELECT doc_id,
        | CASE WHEN length(text) >= 400 THEN substring(text, 1, 40) ELSE text END AS capped_text,
        | length(text) >= 400 AS was_capped
        |FROM documents ORDER BY doc_id""".stripMargin
  )
}
