package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Range (interval) join: pair rows whose numeric keys lie within a
  * radius, optionally under an equi-key — `|l.ts − r.ts| ≤ radius AND
  * l.k = r.k`.
  *
  * Spark plans a raw theta-join of this shape as
  * BroadcastNestedLoopJoin / cartesian — O(|L|·|R|) comparisons, the
  * classic range-join scale-killer. The standard fix (used by every
  * engine with a native range join — bin the domain so equality on the
  * bin key carries the range predicate): bucket both sides by
  * `value div radius`, replicate the LEFT side to its 3 adjacent bins,
  * hash-join on (key, bin), then apply the exact range filter. Any pair
  * within `radius` differs by at most one bin, so adjacent-bin equality
  * is a complete candidate set; cost is bounded by per-bin co-occurrence
  * (data-dependent, never |L|·|R|), the join is a plain shuffled/broadcast
  * hash join, and AQE handles skewed bins.
  */
object RangeJoin extends QueryFamily {

  /** Joins `left` and `right` on `equiKeys` plus `|left.lVal − right.rVal|
    * ≤ radius`. `lVal` / `rVal` are long columns (e.g. unix micros).
    * Output = all left columns + all right columns (caller ensures
    * disjoint names apart from `equiKeys`).
    */
  def withinRadius(left: DataFrame, right: DataFrame, equiKeys: Seq[String],
      lVal: String, rVal: String, radius: Long): DataFrame = {
    require(radius > 0, "radius must be positive")
    // left replicates ×3 (cheap, map-only); right gets one bin per row
    val l = left.withColumn("_rj_bin",
      explode(array(
        expr(s"$lVal div $radius - 1"),
        expr(s"$lVal div $radius"),
        expr(s"$lVal div $radius + 1"))))
    val r = right.withColumn("_rj_bin", expr(s"$rVal div $radius"))
    l.join(r, Seq("_rj_bin") ++ equiKeys)
      .filter(abs(col(lVal) - col(rVal)) <= radius)
      .drop("_rj_bin")
  }

  /** Bin width for the interval-overlap join: 1 hour in microseconds.
    * Intervals are replicated to EVERY bin they cover (via sequence()),
    * so completeness holds for any interval length — longer intervals
    * just replicate to more bins. Synthetic durations here are ≤ 1 h,
    * so replication is ≤ 2 bins/row.
    */
  private val OverlapBinUs = 3600000000L

  /** Interval-overlap self-join: pair rows of the same `key` whose
    * intervals `[startUs, endUs]` intersect. The complement to
    * [[withinRadius]] (points within a distance): here BOTH sides carry
    * extent, the predicate is `a.start <= b.end AND b.start <= a.end`,
    * and Spark would otherwise plan the theta-join as a nested-loop
    * cartesian.
    *
    * Same binning family as every native interval join: replicate each
    * interval to all `W`-wide bins it covers; any overlapping pair shares
    * the bin containing the LATER start (that instant lies inside both
    * intervals), so emitting a candidate only from that owner bin —
    * `bin == floor(greatest(a.start, b.start) / W)` — yields each pair
    * exactly once with no distinct pass. Cost is Σ per-(key, bin)
    * occupancy², never |L|², and the join is a plain shuffled hash join
    * AQE can re-balance.
    */
  def overlapPairs(intervals: DataFrame, key: String, id: String,
      startUs: String, endUs: String): DataFrame = {
    val W = OverlapBinUs
    def side(tag: String) = intervals.select(
      col(key),
      col(id).as(s"${tag}_id"),
      col(startUs).as(s"${tag}_s"),
      col(endUs).as(s"${tag}_e"),
      explode(expr(s"sequence($startUs div $W, $endUs div $W)"))
        .as("_ov_bin"))
    side("a").join(side("b"), Seq(key, "_ov_bin"))
      .filter(col("a_id") < col("b_id"))
      .filter(col("a_s") <= col("b_e") && col("b_s") <= col("a_e"))
      .filter(col("_ov_bin") === expr(s"greatest(a_s, b_s) div $W"))
      .drop("_ov_bin")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Temporal neighborhood count: for each probe event (id ≡ 0 mod 100),
    // how many same-type events land within ±30 min. Timestamps compare as
    // integer microseconds on both engines (Synth.events truncates nanos
    // with `div 1000`; DuckDB's epoch_us truncates the same way), so the
    // boundary is exact. The radius is sized to the synthetic stream's
    // density (events ~4 min apart over 30 days, 5 types): ±60 s produced
    // an empty result at sf0.001 — a hash match over zero rows checks
    // nothing — while ±30 min yields neighbors at every SF and still
    // keeps per-(type, bin) occupancy tiny relative to the corpus.
    "q47_range_join" -> { (s, dir) =>
      val ev = Synth.events(s, dir).withColumn("us", expr("unix_micros(ts)"))
      val probes = ev.filter(col("event_id") % 100 === 0)
        .select(col("event_id").as("probe_id"), col("event_type"),
          col("us").as("p_us"))
      val others = ev.select(col("event_id").as("other_id"),
        col("event_type"), col("us").as("o_us"))
      withinRadius(probes, others, Seq("event_type"), "p_us", "o_us",
          1800000000L)
        .filter(col("other_id") =!= col("probe_id"))
        .groupBy("probe_id")
        .agg(count(lit(1)).as("n_nearby"))
        .orderBy("probe_id")
    },

    // Concurrent-activity detection: each event opens an interval
    // [ts, ts + value minutes] (duration via floor() so both engines
    // truncate identically); overlapping same-user intervals are
    // paired via the binned overlap join, then rolled up per user as
    // (pair count, total overlap micros). Every quantity is integer
    // microseconds — exact on both engines. The oracle is the naive
    // theta join, proving the binned plan lossless.
    "q117_interval_overlap" -> { (s, dir) =>
      val iv = Synth.events(s, dir).select(
        col("user_id"),
        col("event_id"),
        expr("unix_micros(ts)").as("s_us"),
        expr("unix_micros(ts) + cast(floor(value * 60) as bigint) * 1000000")
          .as("e_us"))
      overlapPairs(iv, "user_id", "event_id", "s_us", "e_us")
        .withColumn("ov_us",
          least(col("a_e"), col("b_e")) - greatest(col("a_s"), col("b_s")))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"), sum(col("ov_us")).as("overlap_us"))
        .orderBy("user_id")
    }
  )

  def oracle: Map[String, String] = Map(
    "q47_range_join" ->
      """SELECT p.event_id AS probe_id, count(*) AS n_nearby
        |FROM events p JOIN events e
        |  ON e.event_type = p.event_type
        |  AND epoch_us(e.ts) BETWEEN epoch_us(p.ts) - 1800000000
        |    AND epoch_us(p.ts) + 1800000000
        |  AND e.event_id <> p.event_id
        |WHERE p.event_id % 100 = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q117_interval_overlap" ->
      """WITH iv AS (
        |  SELECT user_id, event_id,
        |    epoch_us(ts) AS s_us,
        |    epoch_us(ts) + cast(floor(value * 60) as bigint) * 1000000
        |      AS e_us
        |  FROM events)
        |SELECT a.user_id, count(*) AS n_pairs,
        |  cast(sum(least(a.e_us, b.e_us) - greatest(a.s_us, b.s_us))
        |    as bigint) AS overlap_us
        |FROM iv a JOIN iv b
        |  ON a.user_id = b.user_id AND a.event_id < b.event_id
        |  AND a.s_us <= b.e_us AND b.s_us <= a.e_us
        |GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
