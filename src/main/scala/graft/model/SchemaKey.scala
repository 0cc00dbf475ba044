package graft.model

/** Iglu schema key — the grouping/partitioning key of the engine: the
  * components an output path can name (reference DynamicPath.scala:24-30).
  * The key is cut from a self-describing JSON's `schema` field by
  * [[graft.operators.EventParser.parseSdj]] (reference
  * modules/core/src/main/scala/.../core/Processing.scala:175-187).
  */
final case class SchemaKey(vendor: String, name: String, format: String, model: Int)

object SchemaKey {
  /** Sentinel key for enriched (atomic) events.
    * Reference: modules/core/src/main/scala/.../core/package.scala:16.
    */
  val Atomic: SchemaKey = SchemaKey("com.snowplowanalytics.snowplow", "atomic", "jsonschema", 1)
}
