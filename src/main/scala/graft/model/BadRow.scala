package graft.model

import java.time.Instant
import java.util.Base64
import java.nio.charset.StandardCharsets

/** Bad-row ADT — the engine's error record type, serialized as
  * self-describing JSON.
  *
  * Two variants:
  *  - GenericError for unparsable self-describing JSON
  *    (reference: Processing.scala:189-204) and for frames that fail to
  *    decompress, with the decompression message as the error (the
  *    reference writes those as loader_parsing_error,
  *    Processing.scala:156-165)
  *  - SizeViolation for oversize serialized bad rows, with the payload
  *    trimmed to the first maxSize/10 characters
  *    (reference: BadRowsSerializer.scala:24-44)
  */
sealed trait BadRow {
  def schemaUri: String
  def toJson: String
}

object BadRow {
  /** Text made safe inside a JSON string: quotes and backslashes escaped,
    * newline, CR and tab by their short escapes, every other control
    * character by its four-digit escape. The project's one JSON string
    * escaper (bad rows, /health, Verify's oracle_sql.json).
    */
  def esc(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '"'           => sb.append("\\\"")
        case '\\'          => sb.append("\\\\")
        case '\n'          => sb.append("\\n")
        case '\r'          => sb.append("\\r")
        case '\t'          => sb.append("\\t")
        case c if c < ' '  => sb.append(f"\\u${c.toInt}%04x")
        case c             => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  final case class Processor(artifact: String, version: String)

  /** A self-describing JSON that failed to parse or whose `schema` field
    * is not a valid iglu URI, or a frame that failed to decompress.
    * Payload is Base64 of the raw bytes.
    */
  final case class GenericError(
      processor: Processor,
      errors: List[String],
      rawPayload: Array[Byte],
      timestamp: Instant
  ) extends BadRow {
    val schemaUri =
      "iglu:com.snowplowanalytics.snowplow.badrows/generic_error/jsonschema/1-0-0"
    def toJson: String = {
      val b64 = Base64.getEncoder.encodeToString(rawPayload)
      val errs = errors.map(e => "\"" + esc(e) + "\"").mkString(",")
      s"""{"schema":"$schemaUri","data":{"processor":{"artifact":"${esc(processor.artifact)}","version":"${esc(processor.version)}"},"failure":{"timestamp":"$timestamp","errors":[$errs]},"payload":"$b64"}}"""
    }
  }

  /** A serialized bad row exceeding maxSize bytes, re-wrapped with the
    * payload trimmed to the first maxSize/10 characters.
    */
  final case class SizeViolation(
      processor: Processor,
      maxSize: Int,
      trimmedPayload: String,
      timestamp: Instant
  ) extends BadRow {
    val schemaUri =
      "iglu:com.snowplowanalytics.snowplow.badrows/size_violation/jsonschema/1-0-0"
    def toJson: String =
      s"""{"schema":"$schemaUri","data":{"processor":{"artifact":"${esc(processor.artifact)}","version":"${esc(processor.version)}"},"failure":{"timestamp":"$timestamp","maximumAllowedSizeBytes":$maxSize,"actualSizeBytes":null,"expectation":"bad row exceeded the maximum allowed size"},"payload":"${esc(trimmedPayload)}"}}"""
  }

  /** Size-cap rule: if a serialized bad row is >= maxSize bytes, replace it
    * with a SizeViolation whose payload keeps only the first maxSize/10
    * chars (reference: BadRowsSerializer.scala:30-33).
    */
  def sizeCapped(row: BadRow, maxSize: Int, now: Instant, processor: Processor): String = {
    val json = row.toJson
    if (json.getBytes(StandardCharsets.UTF_8).length >= maxSize)
      SizeViolation(processor, maxSize, json.substring(0, math.min(json.length, maxSize / 10)), now).toJson
    else json
  }
}
