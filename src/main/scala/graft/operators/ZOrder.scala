package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Z-order (Morton) clustering key — the multi-dimensional data-layout
  * primitive. Sorting / range-partitioning a table by the bit-interleaved
  * key of two filter dimensions gives every output file a SMALL bounding
  * box in BOTH dimensions, so parquet min/max stats prune files for
  * predicates on either dimension — where a single-column sort clusters
  * one dimension and leaves the other's per-file range near-full. This is
  * how large tables stay skippable for two-dimensional scan predicates at
  * 100 TB (the layout trick behind Delta/Iceberg Z-ORDER, computed here
  * with plain integer arithmetic — no engine extension needed).
  *
  * The interleave is pure codegen-friendly integer bit arithmetic
  * (shift/and/add), identical in Spark and DuckDB, so the whole key
  * computation is oracle-checkable. Production then writes with
  * `repartitionByRange(zval)` + within-partition sort; the key computation
  * below is the operator — the write is a layout policy.
  */
object ZOrder extends QueryFamily {

  /** Bit-interleave two non-negative ints (x in even bit positions, y in
    * odd): the Morton code. A sum of shift/mask terms — Catalyst folds it
    * into one codegen'd expression, no UDF.
    */
  def interleave(x: Column, y: Column, bits: Int): Column =
    (0 until bits).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1)), 2 * i) +
        shiftleft(shiftright(y, i).bitwiseAND(lit(1)), 2 * i + 1)
    }.reduce(_ + _)

  /** DuckDB rendering of [[interleave]] — same terms, same order. */
  private[operators] def duckInterleave(x: String, y: String, bits: Int): String =
    (0 until bits).flatMap { i =>
      Seq(s"((($x >> $i) & 1) << ${2 * i})", s"((($y >> $i) & 1) << ${2 * i + 1})")
    }.mkString(" + ")

  private val Bits = 8

  /** Materialize the z-clustered layout: directory-partition by the
    * z-bucket (zval's high bits) and sort by zval within, one file per
    * bucket task. A 2-D box predicate then becomes a contiguous z-bucket
    * range (for Morton-grid-aligned boxes, exactly
    * [interleave(xlo,ylo), interleave(xhi,yhi)]), which prunes PARTITION
    * DIRECTORIES at planning time — actual files never opened — and the
    * within-file zval sort keeps parquet row-group min/max tight on both
    * x and y for the residual predicate. This is Delta/Iceberg Z-ORDER
    * materialization built from plain Spark mechanics; ZOrderSpec
    * measures the scan's files-read and rows-decoded metrics against a
    * 1-D sorted layout of the same file count.
    */
  def writeLayout(
      df: DataFrame, x: Column, y: Column,
      bits: Int, bucketBits: Int, path: String): Unit =
    df.withColumn("zval", interleave(x, y, bits))
      .withColumn("zbucket", shiftright(col("zval"), bucketBits))
      .repartition(col("zbucket"))
      .sortWithinPartitions("zval")
      .write.partitionBy("zbucket").mode("overwrite").parquet(path)

  /** Scala-side Morton code of a point — the driver-side planning helper
    * that turns a box predicate into its covering z range.
    */
  def mortonOf(x: Int, y: Int, bits: Int): Long =
    (0 until bits).map { i =>
      (((x >> i) & 1).toLong << (2 * i)) + (((y >> i) & 1).toLong << (2 * i + 1))
    }.sum

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Z-value per lineitem over the two scan-predicate dimensions a
    // pricing workload filters on (quantity, price bucket), plus the
    // range-partition bucket a production writer would feed to
    // repartitionByRange. Map-only — the key costs a few dozen integer
    // ops per row at scan speed.
    "q69_zorder" -> { (s, dir) =>
      // floor() before the int cast: Spark's cast truncates toward zero
      // while DuckDB's rounds, so both renderings go through an explicit
      // floor to stay semantically identical on non-integer quantities.
      val x = floor(col("l_quantity")).cast("int").bitwiseAND(lit(255))
      val y = least(floor(col("l_extendedprice") / 1000).cast("int"), lit(255))
      Synth.lineitem(s, dir)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          x.as("zx"), y.as("zy"),
          interleave(x, y, Bits).as("zval"))
        .withColumn("zbucket", expr("cast(zval div 1024 as int)"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // Zone-map skipping report — the statistics half of the z-order
    // story: per z-bucket (the unit q69's writer turns into a file),
    // min/max of BOTH raw dimensions (the parquet footer stats), the
    // planner's scan/skip verdict for a 2-D box predicate
    // (10 ≤ qty ≤ 20 ∧ price-bucket ≤ 5), and the count of rows that
    // actually match. Soundness is visible in the output: every bucket
    // with n_match > 0 must have scanned = true (zone maps may
    // over-scan, never under-scan) — and the z-layout makes the
    // over-scan small because each bucket's box is tight in both dims.
    // Scale shape: the zone-map build is ONE map-side-combinable agg
    // over the layout key; the verdict is a row-local predicate over
    // #buckets rows — exactly what a table format's planning pass does.
    "q149_zonemap_prune" -> { (s, dir) =>
      val x = floor(col("l_quantity")).cast("int").bitwiseAND(lit(255))
      val y = least(floor(col("l_extendedprice") / 1000).cast("int"), lit(255))
      Synth.lineitem(s, dir)
        .select(x.as("zx"), y.as("zy"), interleave(x, y, Bits).as("zval"))
        .withColumn("zbucket", expr("cast(zval div 1024 as int)"))
        .groupBy("zbucket")
        .agg(
          count(lit(1)).as("n_rows"),
          min(col("zx")).as("min_x"), max(col("zx")).as("max_x"),
          min(col("zy")).as("min_y"), max(col("zy")).as("max_y"),
          sum(when(col("zx").between(10, 20) && col("zy") <= 5, 1L)
            .otherwise(0L)).as("n_match"))
        .withColumn("scanned",
          col("min_x") <= 20 && col("max_x") >= 10 && col("min_y") <= 5)
        .select("zbucket", "n_rows", "min_x", "max_x", "min_y", "max_y",
          "scanned", "n_match")
        .orderBy("zbucket")
    }
  )

  def oracle: Map[String, String] = {
    val x = "(cast(floor(l_quantity) as int) & 255)"
    val y = "least(cast(floor(l_extendedprice / 1000) as int), 255)"
    Map(
      "q69_zorder" ->
        s"""SELECT l_orderkey, l_linenumber,
           |  $x AS zx, cast($y as int) AS zy,
           |  cast(${duckInterleave(x, y, Bits)} as int) AS zval,
           |  cast((${duckInterleave(x, y, Bits)}) // 1024 as int) AS zbucket
           |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

      "q149_zonemap_prune" ->
        s"""WITH z AS (
           |  SELECT $x AS zx, cast($y as int) AS zy,
           |    cast((${duckInterleave(x, y, Bits)}) // 1024 as int) AS zbucket
           |  FROM lineitem),
           |zm AS (
           |  SELECT zbucket, count(*) AS n_rows,
           |    min(zx) AS min_x, max(zx) AS max_x,
           |    min(zy) AS min_y, max(zy) AS max_y,
           |    cast(sum(CASE WHEN zx BETWEEN 10 AND 20 AND zy <= 5
           |      THEN 1 ELSE 0 END) as bigint) AS n_match
           |  FROM z GROUP BY 1)
           |SELECT zbucket, n_rows, min_x, max_x, min_y, max_y,
           |  (min_x <= 20 AND max_x >= 10 AND min_y <= 5) AS scanned, n_match
           |FROM zm ORDER BY zbucket""".stripMargin
    )
  }
}
