package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-placement and planner-statistics primitives: rendezvous (HRW)
  * shard assignment with rebalance accounting, and AMS/CMS-inner-product
  * join-size estimation.
  *
  * q146 — rendezvous hashing (Thaler & Ravishankar '96, the scheme
  * behind consistent cache/shard routing without a ring): a doc lives
  * on the shard s maximizing hash(doc, s). Growing the cluster N → N+1
  * moves a doc ONLY if the new shard wins its argmax, so expected
  * movement is exactly 1/(N+1) of the corpus — the minimal-disruption
  * property this query MEASURES by emitting the old→new transition
  * matrix (every off-diagonal row must land on the new shard; the spec
  * asserts it). Fully map-side until the final |shards|²-row count:
  * the per-doc argmax is a 9-way explode + max_by with no joins.
  *
  * q147 — join-size estimation from mergeable sketches (the AMS
  * inner-product bound specialized to count-min rows, Alon–Matias–
  * Szegedy '96 / Cormode–Muthukrishnan '05): |A ⋈_u B| = Σ_u a_u·b_u
  * is upper-bounded by Σ_w cmsA[i][w]·cmsB[i][w] for every hash row i,
  * and the estimate is min_i of that. The sketches are W integers per
  * row regardless of key cardinality and merge by plain addition —
  * what a planner ships from each shard to size a shuffle join before
  * running it. Deterministic md5 bucketing (the q102 trick) makes the
  * estimate itself oracle-exact, and the query carries the exact join
  * size next to it so the overshoot is measured, not assumed.
  */
object Placement extends QueryFamily {

  private val OldShards = 8 // q146: grow 8 -> 9
  private val CmsRows = 3 // q147 grid: 3 hash rows x 1024 buckets
  private val CmsW = 1024

  /** hash(doc, s)·16 + s: the ·16+s suffix makes the comparison value
    * unique per (hash, s), so the argmax is tie-free by construction
    * even on u32 collisions.
    */
  private val shardScore =
    "cast(conv(substring(md5(cast(concat('shard', cast(s as string), ':', " +
      "cast(doc_id as string)) as binary)), 1, 8), 16, 10) as bigint) " +
      "* 16 + s"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q146_rendezvous_shards" -> { (s, dir) =>
      Synth.documents(s, dir)
        .select(col("doc_id"),
          explode(sequence(lit(0L), lit(OldShards.toLong))).as("s"))
        .withColumn("v", expr(shardScore))
        .groupBy("doc_id")
        .agg(
          expr(s"max_by(s, v) FILTER (WHERE s < $OldShards)").as("old_shard"),
          expr("max_by(s, v)").as("new_shard"))
        .groupBy("old_shard", "new_shard")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("old_shard", "new_shard")
    },

    "q147_join_size_sketch" -> { (s, dir) =>
      val ev = Synth.events(s, dir)
      def keyCounts(t: String, nm: String) =
        ev.filter(col("event_type") === t)
          .groupBy("user_id").agg(count(lit(1)).as(nm))
      val a = keyCounts("click", "na")
      val b = keyCounts("view", "nb")
      def bucket(i: Int) =
        expr(s"${Curation.u32Spark(s"jsz$i:", "cast(user_id as string)")} % $CmsW")
      // one W-bucket grid per side per hash row; row estimate = the
      // grid inner product (an |grid|-row equi-join, never key-sized)
      val rowEstimates = (0 until CmsRows).map { i =>
        a.groupBy(bucket(i).as("w")).agg(sum(col("na")).as("ca"))
          .join(b.groupBy(bucket(i).as("w")).agg(sum(col("nb")).as("cb")), "w")
          .agg(coalesce(sum(col("ca") * col("cb")), lit(0L)).as("est"))
      }.reduce(_ unionAll _)
      val est = rowEstimates.agg(min(col("est")).as("n_est"))
      val exact = a.join(b, "user_id")
        .agg(coalesce(sum(col("na") * col("nb")), lit(0L)).as("n_exact"))
      // two 1-row frames: the crossJoin is a broadcast of one row
      est.crossJoin(exact)
        .withColumn("overshoot", col("n_est") - col("n_exact"))
        .select("n_est", "n_exact", "overshoot")
    }
  )

  def oracle: Map[String, String] = {
    val duckScore =
      "cast(('0x' || substring(md5('shard' || cast(s as varchar) || ':' || " +
        "cast(doc_id as varchar)), 1, 8)) as bigint) * 16 + s"
    Map(
      "q146_rendezvous_shards" ->
        s"""WITH scored AS (
           |  SELECT doc_id, s, $duckScore AS v
           |  FROM documents, unnest(range(0, ${OldShards + 1})) AS u(s)),
           |assigned AS (
           |  SELECT doc_id,
           |    arg_max(s, v) FILTER (WHERE s < $OldShards) AS old_shard,
           |    arg_max(s, v) AS new_shard
           |  FROM scored GROUP BY doc_id)
           |SELECT old_shard, new_shard, count(*) AS n_docs
           |FROM assigned GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

      "q147_join_size_sketch" -> {
        val rowEsts = (0 until CmsRows).map { i =>
          s"""SELECT coalesce(sum(ca * cb), 0) AS est FROM (
             |    SELECT ${Curation.u32Duck(s"jsz$i:", "cast(user_id as varchar)")} % $CmsW AS w,
             |      cast(sum(na) as bigint) AS ca
             |    FROM a GROUP BY 1) ga
             |  JOIN (
             |    SELECT ${Curation.u32Duck(s"jsz$i:", "cast(user_id as varchar)")} % $CmsW AS w,
             |      cast(sum(nb) as bigint) AS cb
             |    FROM b GROUP BY 1) gb USING (w)""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH a AS MATERIALIZED (
           |  SELECT user_id, count(*) AS na FROM events
           |  WHERE event_type = 'click' GROUP BY user_id),
           |b AS MATERIALIZED (
           |  SELECT user_id, count(*) AS nb FROM events
           |  WHERE event_type = 'view' GROUP BY user_id),
           |ests AS ($rowEsts),
           |est AS (SELECT cast(min(est) as bigint) AS n_est FROM ests),
           |exact AS (
           |  SELECT coalesce(cast(sum(na * nb) as bigint), 0) AS n_exact
           |  FROM a JOIN b USING (user_id))
           |SELECT n_est, n_exact, n_est - n_exact AS overshoot
           |FROM est, exact""".stripMargin
      }
    )
  }
}
