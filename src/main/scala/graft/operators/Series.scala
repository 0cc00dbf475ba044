package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed time-series similarity search (the EDBT'19 streaming
  * TS-similarity / REPOSE problem shape, batch form): find the users
  * whose daily-activity series correlate most with a probe user's.
  *
  * Series construction is the scale-critical step: per-user daily
  * counts aggregate in ONE shuffle, then each user's 30-day dense
  * vector assembles map-only — `map_from_entries(collect_list(...))`
  * probed by a `transform(sequence(...))` gap-fill, so a missing day is
  * an explicit 0, not a dropped position (ragged series would misalign
  * every downstream dot product). No pivot, no per-day columns, no
  * second shuffle.
  *
  * Scoring: Pearson r against the broadcast probe series. All five
  * sufficient statistics (Σx, Σy, Σxy, Σx², Σy²) are INTEGER sums of
  * per-day counts — the numerator n·Σxy − Σx·Σy and both variance terms
  * are exact bigints; only the final sqrt/divide are floats, in one
  * fixed IEEE order, so scores hash-match the oracle bit-for-bit.
  * Zero-variance users are excluded by the exact integer predicate
  * (n·Σy² − (Σy)² > 0) BEFORE ranking — r is undefined there and NaN
  * ordering differs across engines. Ranking is the bounded-heap
  * graft_topk: k rows per probe cross the wire, never a per-probe sort.
  */
object Series extends QueryFamily {

  private val nDays = 30
  private val topK = 10
  private val probeUser = 1L

  /** (user_id, series array<long>[nDays], sx, sxx) with day 0 = the
    * corpus's first day; counts beyond nDays-1 are clamped out (the
    * synthetic stream spans 30 days).
    */
  private def userSeries(s: SparkSession, dir: String): DataFrame = {
    // one corpus pass: aggregate to (user_id, abs_day, n) and checkpoint
    // (r11, measured — the same rework as [[denseDaily]]): d0 and the
    // series assembly used to re-run the events scan each, and q130
    // consumes the result twice (probe + corpus side), so the one-task
    // datediff pass executed four times per invocation. min over the
    // aggregate ≡ min over the log; per-(user, day) counts are the
    // aggregate's n re-keyed, so every series is unchanged.
    val byAbs = Synth.events(s, dir)
      .select(col("user_id"),
        expr("cast(datediff(cast(ts as date), date'1970-01-01') as bigint)")
          .as("abs_day"))
      .groupBy("user_id", "abs_day").agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val base = byAbs.agg(min(col("abs_day")).as("d0"))
    byAbs.crossJoin(broadcast(base))
      .withColumn("day", col("abs_day") - col("d0"))
      .filter(col("day") < nDays)
      .groupBy("user_id")
      .agg(map_from_entries(collect_list(struct(col("day"), col("n"))))
        .as("m"))
      .withColumn("series",
        expr(s"transform(sequence(0L, ${nDays - 1}L), d -> coalesce(m[d], 0L))"))
      .withColumn("sx", expr("aggregate(series, 0L, (a, x) -> a + x)"))
      .withColumn("sxx", expr("aggregate(series, 0L, (a, x) -> a + x * x)"))
      .select("user_id", "series", "sx", "sxx")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q130_series_similarity" -> { (s, dir) =>
      val u = userSeries(s, dir)
      val probe = broadcast(u.filter(col("user_id") === probeUser)
        .select(col("series").as("p_series"), col("sx").as("p_sx"),
          col("sxx").as("p_sxx")))
      u.filter(col("user_id") =!= probeUser)
        .crossJoin(probe)
        .withColumn("sxy", expr(
          "aggregate(zip_with(series, p_series, (x, y) -> x * y), " +
            "0L, (a, v) -> a + v)"))
        .withColumn("num", expr(s"$nDays * sxy - sx * p_sx"))
        .withColumn("varx", expr(s"$nDays * sxx - sx * sx"))
        .withColumn("vary", expr(s"$nDays * p_sxx - p_sx * p_sx"))
        .filter(col("varx") > 0L && col("vary") > 0L)
        .withColumn("r", expr(
          "cast(num as double) / " +
            "(sqrt(cast(varx as double)) * sqrt(cast(vary as double)))"))
        .groupBy(lit(probeUser).as("probe_id"))
        .agg(expr(s"graft_topk(r, user_id, $topK)").as("top"))
        .select(col("probe_id"), posexplode(col("top")))
        .select(col("probe_id"), (col("pos") + 1).cast("int").as("rk"),
          col("col.id").as("user_id"), col("col.score").as("r"))
        .orderBy("rk")
    },

    // EWMA smoothing of per-type daily volumes — the anomaly-baseline
    // primitive (monitoring, trend extraction) in a hash-exact form:
    // the geometric weights (1−α)^k are pre-rendered as INTEGER
    // micro-weights w_k = round(10⁶·0.7^k) clipped to a 14-day horizon,
    // so the smoothed numerator Σ w_k·x_{t−k} and its denominator are
    // exact bigints and the only float is one final divide. Instead of
    // a running recurrence (inherently sequential) the bounded horizon
    // turns EWMA into a 14-wide trailing weighted sum: a self-join of
    // the DENSE per-type day grid with fan-out ≤ 14 — embarrassingly
    // parallel and identical in any engine. Scale shape: the corpus
    // touches ONE shuffle (the daily compaction, output = #types ×
    // #days); the grid join runs on day-count-sized data, same argument
    // as q96's range frame.
    "q150_ewma" -> { (s, dir) =>
      val dense = denseDaily(s, dir)
      val wArr = EwmaWeights.mkString("array(", "L, ", "L)")
      val dArr = EwmaDens.mkString("array(", "L, ", "L)")
      dense.as("c")
        .join(dense.as("p"),
          col("c.event_type") === col("p.event_type") &&
            col("p.day").between(col("c.day") - (EwmaHorizon - 1), col("c.day")))
        .select(col("c.event_type").as("event_type"), col("c.day").as("day"),
          col("c.n").as("n"),
          (expr(s"element_at($wArr, cast(c.day - p.day as int) + 1)") *
            col("p.n")).as("term"))
        .groupBy("event_type", "day", "n")
        .agg(sum(col("term")).as("ewma_num"))
        .withColumn("ewma_den",
          expr(s"element_at($dArr, cast(least(day, ${EwmaHorizon - 1}) as int) + 1)"))
        .withColumn("ewma",
          col("ewma_num").cast("double") / col("ewma_den").cast("double"))
        .select("event_type", "day", "n", "ewma_num", "ewma_den", "ewma")
        .orderBy("event_type", "day")
    },

    // CUSUM changepoint detection — the quality-control chart next to
    // q127's burst detector (bursts catch spikes; CUSUM accumulates
    // SMALL sustained shifts a spike test never fires on). The textbook
    // recursion s_t = max(0, s_{t−1} + dev_t − slack) is NOT computed
    // recursively: with prefix_t = Σ(dev − slack), the identity
    // s_t = prefix_t − min(0, min_{j≤t} prefix_j) turns it into two
    // per-type running windows — fully parallel, no sequential state.
    // Deviations are scaled integers (n_t·D − Σn = D·(n_t − mean), no
    // division), slack = Σn div 10 (10% of a mean day, same units),
    // alarm at cusum > Σn (one full scaled mean-day of accumulated
    // excess) — every value exact bigint, hash-exact.
    "q173_cusum" -> { (s, dir) =>
      val dense = denseDaily(s, dir)
      val totals = dense.groupBy("event_type")
        .agg(sum(col("n")).as("tot"), count(lit(1)).as("dcnt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("day")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      dense.join(broadcast(totals), "event_type")
        .withColumn("step", expr("n * dcnt - tot - tot div 10"))
        .withColumn("prefix", sum(col("step")).over(w))
        .withColumn("cusum",
          col("prefix") - least(lit(0L), min(col("prefix")).over(w)))
        .withColumn("is_alarm", col("cusum") > col("tot"))
        .select("event_type", "day", "n", "cusum", "is_alarm")
        .orderBy("event_type", "day")
    },

    // First-order Markov transition matrix over per-user event
    // sequences — the behavioral model behind next-event prediction and
    // session-anomaly scoring (q90's lift scores CO-OCCURRENCE in a
    // basket; this scores ORDER). Bigrams come from one lead() over the
    // (ts, event_id)-ordered per-user sequence — event_id breaks
    // timestamp ties so the pair multiset is deterministic — then one
    // (from, to) count aggregation (map-side combinable) and a row
    // normalization over the ≤ #types² matrix rows. Probabilities are
    // integer MILLIONTHS (n·10⁶ div row_total — the hash-exact
    // convention), so the matrix is bit-identical across engines. Scale
    // shape: one user-keyed shuffle for the lead, nothing else touches
    // the corpus; the normalizing window runs over matrix rows, not
    // events. The streaming twin keeps one (last ts, event_id, type)
    // triple of state per user ([[graft.streaming.EventTimeAggregates
    // .streamingMarkov]]) and is proven point-equal on dense input.
    "q179_markov_transitions" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      val bi = Synth.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("from_type"))
        .withColumn("to_type", lead(col("from_type"), 1).over(w))
        .filter(col("to_type").isNotNull)
      bi.groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
        .withColumn("row_total", sum(col("n")).over(
          org.apache.spark.sql.expressions.Window.partitionBy("from_type")))
        .withColumn("p_e6", expr("n * 1000000 div row_total"))
        .select("from_type", "to_type", "n", "row_total", "p_e6")
        .orderBy("from_type", "to_type")
    }
  )

  /** q173's dense per-type day grid — q150's construction, shared.
    *
    * The corpus is aggregated ONCE to (event_type, abs_day, n) and that
    * tiny frame (|types| × |days| rows) is checkpointed (r11, measured):
    * the old shape derived d0, the grid's type list, and the gap-fill
    * join each from their own copy of the events scan, and q150/q173
    * consume the result twice more — six one-task passes over the event
    * log for a day-count-sized answer. Aggregating first is guide §2.3
    * ("aggregate before you shuffle") + §5 (cache the reused frame);
    * min(abs_day) over the aggregate ≡ min over the log, so d0 and every
    * downstream value are unchanged.
    */
  private def denseDaily(s: SparkSession, dir: String): DataFrame = {
    val byAbs = Synth.events(s, dir)
      .select(col("event_type"),
        expr("cast(datediff(cast(ts as date), date'1970-01-01') as bigint)")
          .as("abs_day"))
      .groupBy("event_type", "abs_day").agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val base = byAbs.agg(min(col("abs_day")).as("d0"))
    val daily = byAbs.crossJoin(broadcast(base))
      .withColumn("day", col("abs_day") - col("d0"))
      .filter(col("day") < nDays)
      .select("event_type", "day", "n")
    val grid = daily.select("event_type").distinct()
      .select(col("event_type"),
        explode(expr(s"sequence(0L, ${nDays - 1}L)")).as("day"))
    grid.join(daily, Seq("event_type", "day"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
  }

  /** 14-day clipped EWMA geometric weights at α = 0.3, in integer
    * millionths — the same literals render into both engines, so the
    * weighted sums are exact. */
  private val EwmaHorizon = 14
  private[graft] val EwmaWeights: Seq[Long] =
    (0 until EwmaHorizon).map(k => math.round(1e6 * math.pow(0.7, k)))
  /** Denominator for day t = Σ_{k ≤ min(t, 13)} w_k (partial horizon at
    * the series head). */
  private[graft] val EwmaDens: Seq[Long] =
    EwmaWeights.scanLeft(0L)(_ + _).tail

  def oracle: Map[String, String] = Map(
    "q130_series_similarity" ->
      s"""WITH ev AS (
         |  SELECT user_id,
         |    cast(date_diff('day', DATE '1970-01-01', cast(ts as date))
         |      as bigint) AS abs_day
         |  FROM events),
         |base AS (SELECT min(abs_day) AS d0 FROM ev),
         |daily AS (
         |  SELECT user_id, abs_day - (SELECT d0 FROM base) AS day,
         |    count(*) AS n
         |  FROM ev WHERE abs_day - (SELECT d0 FROM base) < $nDays
         |  GROUP BY 1, 2),
         |grid AS (
         |  SELECT u.user_id, t.d
         |  FROM (SELECT DISTINCT user_id FROM daily) u, range(0, $nDays) t(d)),
         |dense AS (
         |  SELECT g.user_id, g.d, coalesce(daily.n, 0) AS n
         |  FROM grid g LEFT JOIN daily
         |    ON daily.user_id = g.user_id AND daily.day = g.d),
         |ser AS (
         |  SELECT user_id, list(n ORDER BY d) AS series
         |  FROM dense GROUP BY user_id),
         |stats AS (
         |  SELECT user_id, series,
         |    cast(list_reduce(series, (a, x) -> a + x) as bigint) AS sx,
         |    cast(list_reduce(list_transform(series, x -> x * x),
         |      (a, x) -> a + x) as bigint) AS sxx
         |  FROM ser),
         |probe AS (
         |  SELECT series AS p_series, sx AS p_sx, sxx AS p_sxx
         |  FROM stats WHERE user_id = $probeUser),
         |scored AS (
         |  SELECT u.user_id,
         |    $nDays * cast(list_reduce(list_transform(
         |        list_zip(u.series, p.p_series),
         |        z -> cast(z[1] as bigint) * cast(z[2] as bigint)),
         |      (a, v) -> a + v) as bigint)
         |      - u.sx * p.p_sx AS num,
         |    $nDays * u.sxx - u.sx * u.sx AS varx,
         |    $nDays * p.p_sxx - p.p_sx * p.p_sx AS vary
         |  FROM stats u CROSS JOIN probe p
         |  WHERE u.user_id <> $probeUser)
         |SELECT probe_id, rk, user_id, r FROM (
         |  SELECT cast($probeUser as bigint) AS probe_id, user_id,
         |    cast(num as double)
         |      / (sqrt(cast(varx as double)) * sqrt(cast(vary as double)))
         |      AS r,
         |    cast(row_number() OVER (ORDER BY cast(num as double)
         |      / (sqrt(cast(varx as double)) * sqrt(cast(vary as double)))
         |      DESC, user_id) as int) AS rk
         |  FROM scored WHERE varx > 0 AND vary > 0)
         |WHERE rk <= $topK ORDER BY rk""".stripMargin,

    "q150_ewma" -> {
      val w = EwmaWeights.mkString("[", ", ", "]")
      val d = EwmaDens.mkString("[", ", ", "]")
      s"""WITH ev AS (
         |  SELECT event_type,
         |    cast(date_diff('day', DATE '1970-01-01', cast(ts as date))
         |      as bigint) AS abs_day
         |  FROM events),
         |base AS (SELECT min(abs_day) AS d0 FROM ev),
         |daily AS (
         |  SELECT event_type, abs_day - (SELECT d0 FROM base) AS day,
         |    count(*) AS n
         |  FROM ev WHERE abs_day - (SELECT d0 FROM base) < $nDays
         |  GROUP BY 1, 2),
         |grid AS (
         |  SELECT t.event_type, g.d AS day
         |  FROM (SELECT DISTINCT event_type FROM daily) t,
         |    range(0, $nDays) g(d)),
         |dense AS (
         |  SELECT g.event_type, g.day, cast(coalesce(daily.n, 0) as bigint) AS n
         |  FROM grid g LEFT JOIN daily
         |    ON daily.event_type = g.event_type AND daily.day = g.day),
         |sm AS (
         |  SELECT c.event_type, c.day, c.n,
         |    cast(sum(($w)[cast(c.day - p.day as int) + 1] * p.n)
         |      as bigint) AS ewma_num
         |  FROM dense c JOIN dense p
         |    ON p.event_type = c.event_type
         |    AND p.day BETWEEN c.day - ${EwmaHorizon - 1} AND c.day
         |  GROUP BY 1, 2, 3)
         |SELECT event_type, day, n, ewma_num,
         |  cast(($d)[cast(least(day, ${EwmaHorizon - 1}) as int) + 1]
         |    as bigint) AS ewma_den,
         |  cast(ewma_num as double)
         |    / cast(($d)[cast(least(day, ${EwmaHorizon - 1}) as int) + 1]
         |      as double) AS ewma
         |FROM sm ORDER BY event_type, day""".stripMargin
    },

    "q173_cusum" ->
      s"""WITH ev AS (
         |  SELECT event_type,
         |    cast(date_diff('day', DATE '1970-01-01', cast(ts as date))
         |      as bigint) AS abs_day
         |  FROM events),
         |base AS (SELECT min(abs_day) AS d0 FROM ev),
         |daily AS (
         |  SELECT event_type, abs_day - (SELECT d0 FROM base) AS day,
         |    count(*) AS n
         |  FROM ev WHERE abs_day - (SELECT d0 FROM base) < $nDays
         |  GROUP BY 1, 2),
         |grid AS (
         |  SELECT t.event_type, g.d AS day
         |  FROM (SELECT DISTINCT event_type FROM daily) t,
         |    range(0, $nDays) g(d)),
         |dense AS (
         |  SELECT g.event_type, g.day, cast(coalesce(daily.n, 0) as bigint) AS n
         |  FROM grid g LEFT JOIN daily
         |    ON daily.event_type = g.event_type AND daily.day = g.day),
         |totals AS (
         |  SELECT event_type, cast(sum(n) as bigint) AS tot,
         |    cast(count(*) as bigint) AS dcnt
         |  FROM dense GROUP BY 1),
         |pref AS (
         |  SELECT d.event_type, d.day, d.n, t.tot,
         |    cast(sum(d.n * t.dcnt - t.tot - t.tot // 10) OVER (
         |      PARTITION BY d.event_type ORDER BY d.day
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      as bigint) AS prefix
         |  FROM dense d JOIN totals t USING (event_type))
         |SELECT event_type, day, n,
         |  cast(prefix - least(0, min(prefix) OVER (
         |    PARTITION BY event_type ORDER BY day
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |    as bigint) AS cusum,
         |  prefix - least(0, min(prefix) OVER (
         |    PARTITION BY event_type ORDER BY day
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) > tot
         |    AS is_alarm
         |FROM pref ORDER BY event_type, day""".stripMargin,

    // the same lead() bigrams; the window sum normalizer comes back
    // hugeint in DuckDB → cast to bigint so schemas match
    "q179_markov_transitions" ->
      """WITH bi AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |c AS (
        |  SELECT from_type, to_type, cast(count(*) as bigint) AS n
        |  FROM bi WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  cast(sum(n) OVER (PARTITION BY from_type) as bigint) AS row_total,
        |  n * 1000000 // cast(sum(n) OVER (PARTITION BY from_type) as bigint)
        |    AS p_e6
        |FROM c ORDER BY from_type, to_type""".stripMargin
  )
}
