package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus distribution-drift monitoring — the "did the new crawl change
  * the data mix" check every recurring training-data pipeline runs before
  * accepting a snapshot. Two corpus slices (here: even- vs odd-numbered
  * sources, standing in for release N and N+1) are histogrammed on a
  * feature, and the histograms are compared with total-variation
  * distance.
  *
  * Exactness at scale: TV = ½ Σᵢ |aᵢ/Nₐ − bᵢ/N_b| is a sum of doubles —
  * order-dependent under a shuffle. Instead each bucket keeps the
  * INTEGER cross-product numerator |aᵢ·N_b − bᵢ·Nₐ| (bigint, exact,
  * order-independent to sum) and the single division by 2·Nₐ·N_b happens
  * once at the end — the same fixed-point trick as [[KMeans]]. One
  * shuffle for the bucket histogram; the totals and the TV numerator are
  * 1-row frames broadcast back over the buckets.
  */
object Drift extends QueryFamily {

  /** Histogram both slices in one pass: bucket → (n_a, n_b). */
  private def hist(s: SparkSession, dir: String): DataFrame =
    Synth.documents(s, dir)
      .select(
        expr("cast(n_chars div 50 as bigint)").as("bucket"),
        expr("cast(substring(source, 4) as int) % 2").as("slice"))
      .groupBy("bucket")
      .agg(
        sum(when(col("slice") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("slice") === 1, 1L).otherwise(0L)).as("n_b"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Per-bucket histogram of both slices + slice proportions + the
    // corpus-level TV distance (constant column, exact). A drift alarm
    // is `tv_total > threshold`; the per-bucket rows say WHERE the mass
    // moved.
    "q112_distribution_drift" -> { (s, dir) =>
      val h = hist(s, dir)
      val totals = h.agg(sum("n_a").as("tot_a"), sum("n_b").as("tot_b"))
      val withTot = h.crossJoin(broadcast(totals))
        .withColumn("num", abs(col("n_a") * col("tot_b") - col("n_b") * col("tot_a")))
      val tv = withTot
        .agg((sum("num").cast("double") /
          (lit(2L) * first("tot_a") * first("tot_b")).cast("double")).as("tv_total"))
      withTot.crossJoin(broadcast(tv))
        .select(
          col("bucket"), col("n_a"), col("n_b"),
          (col("n_a").cast("double") / col("tot_a").cast("double")).as("p_a"),
          (col("n_b").cast("double") / col("tot_b").cast("double")).as("p_b"),
          col("tv_total"))
        .orderBy("bucket")
    },

    // Kolmogorov–Smirnov distance between the two release slices — the
    // CDF-based drift test next to q112's binned TV: D = max_x
    // |F_a(x) − F_b(x)|, sensitive to location shifts the fixed-bin
    // histogram can smear. Same exactness discipline: per-value counts
    // (one shuffle), cumulative sums over the #distinct-values frame,
    // and the sup statistic as the INTEGER cross-product max
    // |cumA·N_b − cumB·N_a| — bigint, order-independent — divided once
    // at the end. `at_value` reports the smallest x attaining the sup
    // (deterministic argmax).
    "q142_ks_distance" -> { (s, dir) =>
      val per = Synth.documents(s, dir)
        .select(col("n_chars").cast("long").as("x"),
          expr("cast(substring(source, 4) as int) % 2").as("slice"))
        .groupBy("x")
        .agg(
          sum(when(col("slice") === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("slice") === 1, 1L).otherwise(0L)).as("n_b"))
      val w = Window.orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.orderBy("x").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      per
        .withColumn("cum_a", sum(col("n_a")).over(w))
        .withColumn("cum_b", sum(col("n_b")).over(w))
        .crossJoin(broadcast(
          per.agg(sum(col("n_a")).as("tot_a"), sum(col("n_b")).as("tot_b"))))
        .withColumn("num",
          abs(col("cum_a") * col("tot_b") - col("cum_b") * col("tot_a")))
        .withColumn("mx", max(col("num")).over(wAll))
        .agg(
          max(col("num")).as("ks_num"),
          first(col("tot_a")).as("tot_a"), first(col("tot_b")).as("tot_b"),
          min(when(col("num") === col("mx"), col("x"))).as("at_value"))
        .withColumn("ks", col("ks_num").cast("double")
          / (col("tot_a") * col("tot_b")).cast("double"))
    },

    // Burst detection over the event stream — the temporal twin of the
    // distribution drift check: per (event_type, day), flag days whose
    // volume exceeds 2× the trailing-7-day average. All-integer
    // predicate (n·7 > 2·Σ_prev7 ∧ n ≥ 10 — no division, no floats) so
    // the flag is engine-exact. Scale shape (the q96/q123
    // decomposition): the corpus aggregates to (type, day) counts in
    // ONE shuffle; the trailing window RANGEs over day numbers within
    // each type's few-hundred-row frame, never the event log. RANGE on
    // the epoch-day integer — not ROWS — so a day with zero events
    // can't silently stretch the lookback.
    "q127_burst_days" -> { (s, dir) =>
      val daily = Synth.events(s, dir)
        .select(col("event_type"),
          expr("cast(datediff(cast(ts as date), date'1970-01-01') as bigint)")
            .as("day_num"))
        .groupBy("event_type", "day_num")
        .agg(count(lit(1)).as("n"))
      val trail = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("day_num")
        .rangeBetween(-7, -1)
      daily
        .withColumn("prev7", coalesce(sum(col("n")).over(trail), lit(0L)))
        .withColumn("is_burst",
          col("n") * 7L > col("prev7") * 2L && col("n") >= 10L)
        .select("event_type", "day_num", "n", "prev7", "is_burst")
        .orderBy("event_type", "day_num")
    }
  )

  def oracle: Map[String, String] = Map(
    "q112_distribution_drift" ->
      """WITH h AS (
        |  SELECT cast(n_chars // 50 as bigint) AS bucket,
        |    sum(CASE WHEN cast(substring(source, 4) as int) % 2 = 0
        |             THEN 1 ELSE 0 END) AS n_a,
        |    sum(CASE WHEN cast(substring(source, 4) as int) % 2 = 1
        |             THEN 1 ELSE 0 END) AS n_b
        |  FROM documents GROUP BY 1),
        |t AS (SELECT sum(n_a) AS tot_a, sum(n_b) AS tot_b FROM h),
        |n AS (SELECT bucket, n_a, n_b, tot_a, tot_b,
        |        abs(n_a * tot_b - n_b * tot_a) AS num FROM h CROSS JOIN t),
        |tv AS (SELECT cast(sum(num) as double)
        |         / cast(2 * any_value(tot_a) * any_value(tot_b) as double)
        |         AS tv_total FROM n)
        |SELECT bucket, cast(n_a as bigint) AS n_a, cast(n_b as bigint) AS n_b,
        |  cast(n_a as double) / cast(tot_a as double) AS p_a,
        |  cast(n_b as double) / cast(tot_b as double) AS p_b,
        |  tv_total
        |FROM n CROSS JOIN tv ORDER BY bucket""".stripMargin,

    "q142_ks_distance" ->
      """WITH per AS (
        |  SELECT cast(n_chars as bigint) AS x,
        |    cast(sum(CASE WHEN cast(substring(source, 4) as int) % 2 = 0
        |             THEN 1 ELSE 0 END) as bigint) AS n_a,
        |    cast(sum(CASE WHEN cast(substring(source, 4) as int) % 2 = 1
        |             THEN 1 ELSE 0 END) as bigint) AS n_b
        |  FROM documents GROUP BY 1),
        |t AS (SELECT cast(sum(n_a) as bigint) AS tot_a,
        |        cast(sum(n_b) as bigint) AS tot_b FROM per),
        |c AS (
        |  SELECT x,
        |    cast(sum(n_a) OVER (ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as bigint)
        |      AS cum_a,
        |    cast(sum(n_b) OVER (ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as bigint)
        |      AS cum_b
        |  FROM per),
        |n AS (
        |  SELECT x, abs(cum_a * tot_b - cum_b * tot_a) AS num, tot_a, tot_b
        |  FROM c CROSS JOIN t)
        |SELECT cast(max(num) as bigint) AS ks_num,
        |  any_value(tot_a) AS tot_a, any_value(tot_b) AS tot_b,
        |  cast(min(CASE WHEN num = (SELECT max(num) FROM n) THEN x END)
        |    as bigint) AS at_value,
        |  cast(max(num) as double)
        |    / cast(any_value(tot_a) * any_value(tot_b) as double) AS ks
        |FROM n""".stripMargin,

    "q127_burst_days" ->
      """WITH daily AS (
        |  SELECT event_type,
        |    cast(date_diff('day', DATE '1970-01-01', cast(ts as date))
        |      as bigint) AS day_num,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT event_type, day_num, n,
        |    cast(coalesce(sum(n) OVER (PARTITION BY event_type
        |      ORDER BY day_num RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING),
        |      0) as bigint) AS prev7
        |  FROM daily)
        |SELECT event_type, day_num, cast(n as bigint) AS n, prev7,
        |  n * 7 > prev7 * 2 AND n >= 10 AS is_burst
        |FROM w ORDER BY event_type, day_num""".stripMargin
  )
}
