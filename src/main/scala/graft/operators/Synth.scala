package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Synthesized loader-input columns over the driver-provided `events` table.
  *
  * The reference consumes byte records that are either enriched-event TSV
  * lines (collector_tstamp at column index 3 — reference:
  * modules/core/src/main/scala/.../core/Processing.scala:143-154) or
  * self-describing JSONs (`{"schema":"iglu:...","data":{...}}` — reference:
  * Processing.scala:175-187). The driver's parquet `events` table plays the
  * role of the source stream; these helpers render each row into both line
  * shapes so the same rows drive the Spark pipeline and the DuckDB oracle
  * (see FIXTURES.md §6).
  *
  * Every expression here must have an exactly-equivalent DuckDB rendering in
  * the corresponding oracle SQL (OracleSql.scala) — deterministic string /
  * integer / decimal arithmetic only, no engine-specific float formatting.
  */
object Synth {

  /** Millisecond-precision wall-clock rendering used in the TSV line. */
  def tsStr(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss.SSS")

  /** `value` rendered via decimal(18,2) so both engines print identically. */
  def valStr(c: Column): Column = c.cast(DecimalType(18, 2)).cast("string")

  /** Enriched-event TSV line: collector_tstamp at split index 3. */
  def enrichedLine(): Column =
    concat_ws(
      "\t",
      col("event_id").cast("string"),
      col("event_type"),
      lit(""),
      tsStr(col("ts")),
      col("user_id").cast("string"),
      valStr(col("value")),
      col("props")
    )

  /** Self-describing JSON line. Rows with event_type='error' are rendered
    * without a `schema` field → deterministic bad rows (FIXTURES.md §2).
    */
  def sdjLine(): Column =
    when(col("event_type") === "error", col("props"))
      .otherwise(
        concat(
          lit("{\"schema\":\"iglu:com.example/"),
          col("event_type"),
          lit("/jsonschema/1-0-0\",\"data\":"),
          col("props"),
          lit("}")
        ))

  /** events.ts has shipped as parquet TIMESTAMP(NANOS) (which Spark's
    * vectorized reader rejects — read as raw nanos, floor-divide to micros,
    * matching DuckDB's epoch_us truncation) and as tz-naive timestamp[us]
    * (which Spark 4 reads as TIMESTAMP_NTZ — `unix_micros` and friends only
    * accept TIMESTAMP). Normalize both to session-local TIMESTAMP: the
    * session timezone is pinned to UTC everywhere (Verify/Bench/specs), so
    * the NTZ→LTZ cast reinterprets the same wall-clock instant DuckDB sees
    * and every downstream timestamp function works unchanged.
    */
  /** Hash-repartition to the session's default parallelism — the fan-out
    * for per-row-CPU-heavy stages (regex, JSON extraction, codecs) over
    * the driver's single-file single-row-group parquet inputs, whose
    * scans are ONE task (guide §1.2 step 1: fix the distributed shape
    * first). Keyed, not round-robin: deterministic under retries and no
    * sort-before-repartition pass (guide §2.5). At production scale a
    * multi-split scan already arrives wide and this just rebalances to
    * the core count. Apply only where the downstream per-row work
    * measurably exceeds the exchange cost (~0.1-0.3 s here) — trivial
    * maps stay narrow.
    */
  def fanOut(df: DataFrame, key: String): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, col(key))

  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$dir/events.parquet")
    if (df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else df.withColumn("ts", col("ts").cast("timestamp"))
  }
  def documents(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")
  def lineitem(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/lineitem.parquet")
  def orders(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/orders.parquet")
  def customer(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/customer.parquet")
  def nation(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/nation.parquet")
  def region(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/region.parquet")
  def supplier(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/supplier.parquet")
  def part(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/part.parquet")
}
