package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic PageRank — iterative graph analytics with fixed-point
  * integer numerics.
  *
  * Float PageRank is order-dependent (parallel double sums), so two runs
  * — or two engines — disagree in the last ulps. Ranks here are bigint
  * micro-units (SCALE = 10^12) and every step is integer division:
  * bigint sums are associative, so the result is bit-identical across
  * partitionings and engines (the same trick [[KMeans]] uses for
  * trainable centroids, q43).
  *
  * Per iteration: contribution = rank div out-degree per edge, one
  * shuffle to sum by destination, then base + 85% of the incoming sum.
  * Lineage is cut per round (`localCheckpoint`, as [[ConnectedComponents]]
  * does) so plans stay flat over many iterations. Cost at scale: edges
  * join ranks on src (shuffle bounded by |edges|), never adjacency
  * matrices.
  */
object PageRank extends QueryFamily {

  val Scale = 1000000000000L

  /** `vertices`: one `id` column. `edges`: (src, dst) directed multigraph
    * rows. Parallel edges contribute `cnt × (rank div deg)` — identical
    * integers to summing each copy — so the multigraph is compacted to
    * weighted edges ONCE before iterating. The iteration loop then never
    * re-derives the raw log: at scale this is the difference between 3
    * passes over the event log and one edge-aggregation pass plus 3
    * passes over the (far smaller) weighted adjacency list.
    */
  def run(vertices: DataFrame, edges: DataFrame, iters: Int): DataFrame =
    runWeighted(vertices,
      edges.groupBy("src", "dst").agg(count(lit(1)).as("cnt")), iters)

  /** PageRank over pre-aggregated weighted edges (src, dst, cnt). The
    * weighted inputs are materialized once (`localCheckpoint`) so the
    * per-iteration plan starts from the compacted graph, not the log.
    */
  def runWeighted(vertices: DataFrame, weighted: DataFrame, iters: Int): DataFrame = {
    val verts = vertices.localCheckpoint()
    val wedges = weighted.localCheckpoint()
    val n = verts.count()
    require(n > 0, "empty vertex set")
    val base = Scale * 15 / 100 / n
    val deg = wedges.groupBy("src").agg(sum(col("cnt")).as("deg"))
    var ranks = verts.withColumn("rank_fp", lit(Scale / n))
    for (_ <- 1 to iters) {
      val contrib = wedges
        .join(ranks.withColumnRenamed("id", "src"), "src")
        .join(deg, "src")
        .withColumn("c", expr("(rank_fp div deg) * cnt"))
        .groupBy(col("dst").as("id"))
        .agg(sum(col("c")).as("in_sum"))
      ranks = verts
        .join(contrib, Seq("id"), "left")
        .withColumn("rank_fp",
          lit(base) + expr("coalesce(in_sum, 0L) * 85 div 100"))
        .select("id", "rank_fp")
        .localCheckpoint()
    }
    ranks
  }

  /** Personalized PageRank: restart mass concentrates on a seed set
    * instead of spreading uniformly — the "what is reachable from HERE"
    * relevance score behind recommendation and related-item mining.
    * Identical integer numerics to [[runWeighted]]; the only changes are
    * the per-vertex restart term (Scale·15/100/|S| on seeds, 0
    * elsewhere) and the seed-concentrated init (Scale/|S|). The seed
    * flag is joined once and checkpointed with the vertices, so each
    * iteration costs exactly what a global-PageRank iteration costs.
    * `weighted` is the pre-aggregated (src, dst, cnt) multigraph, as
    * [[runWeighted]] takes (callers build it from one corpus pass).
    */
  def runPersonalized(
      vertices: DataFrame, weighted: DataFrame, seeds: DataFrame,
      iters: Int): DataFrame = {
    val wedges = weighted.localCheckpoint()
    val seeded = vertices
      .join(seeds.select(col("id"), lit(1).as("is_seed")), Seq("id"), "left")
      .localCheckpoint()
    val nSeeds = seeded.filter(col("is_seed") === 1).count()
    require(nSeeds > 0, "empty seed set")
    val baseSeed = Scale * 15 / 100 / nSeeds
    val deg = wedges.groupBy("src").agg(sum(col("cnt")).as("deg"))
    var ranks = seeded
      .withColumn("rank_fp",
        when(col("is_seed") === 1, lit(Scale / nSeeds)).otherwise(lit(0L)))
      .select("id", "rank_fp")
    for (_ <- 1 to iters) {
      val contrib = wedges
        .join(ranks.withColumnRenamed("id", "src"), "src")
        .join(deg, "src")
        .withColumn("c", expr("(rank_fp div deg) * cnt"))
        .groupBy(col("dst").as("id"))
        .agg(sum(col("c")).as("in_sum"))
      ranks = seeded
        .join(contrib, Seq("id"), "left")
        .withColumn("rank_fp",
          when(col("is_seed") === 1, lit(baseSeed)).otherwise(lit(0L)) +
            expr("coalesce(in_sum, 0L) * 85 div 100"))
        .select("id", "rank_fp")
        .localCheckpoint()
    }
    ranks
  }

  private val nIters = 3
  private val PprSeed = "purchase"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Rank event types by their position in user journeys: consecutive
    // events per user form a directed transition multigraph (lead over
    // event time), PageRank scores the types. The full log-to-graph-to-
    // rank pipeline in one query.
    "q67_pagerank" -> { (s, dir) =>
      val (vertices, wedges) = journeyGraph(s, dir)
      runWeighted(vertices, wedges, nIters).orderBy("id")
    },

    // Frequent 3-step journeys — sequence-pattern mining over the same
    // per-user event-time order q67's transition graph uses, kept as
    // SEQUENCES instead of collapsed to edges: two leads give every
    // consecutive (t1, t2, t3) window, one shuffle counts them. The
    // lead window and the count both hash-partition on user_id-free
    // keys of bounded cardinality (|types|³), so the heavy side is the
    // one windowed pass over the log.
    "q135_journey_trigrams" -> { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Synth.events(s, dir)
        .select(col("event_type").as("t1"),
          lead(col("event_type"), 1).over(w).as("t2"),
          lead(col("event_type"), 2).over(w).as("t3"))
        .filter(col("t2").isNotNull && col("t3").isNotNull)
        .groupBy("t1", "t2", "t3").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("t1"), col("t2"), col("t3"))
        .limit(20)
    },

    // Personalized PageRank from the 'purchase' vertex over the same
    // journey-transition graph as q67 — "which event types does the
    // random purchase-anchored surfer concentrate on": the relevance
    // primitive behind seed-set expansion and related-item mining,
    // with q67's bit-exact integer numerics.
    "q154_personalized_pagerank" -> { (s, dir) =>
      val (vertices, wedges) = journeyGraph(s, dir)
      val seeds = vertices.filter(col("id") === PprSeed)
      runPersonalized(vertices, wedges, seeds, nIters).orderBy("id")
    }
  )

  /** q67/q154's journey-transition graph from ONE event-log pass: the
    * lead window keeps every event row (dst NULL for journey tails), so
    * the UNFILTERED (src, dst) aggregate — checkpointed, it is
    * |types|²-bounded — yields both the vertex set (distinct src ≡
    * distinct event_type: every event appears exactly once as a src)
    * and the weighted multigraph (the non-NULL rows). The old shape
    * ran the window pass for the edges AND a second full-log distinct
    * for the vertices — two corpus passes per query for one graph
    * (guide §5: multi-consumer recompute). Identical integers: the
    * aggregate groups the same rows the raw multigraph would.
    */
  private def journeyGraph(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val pairs = Synth.events(s, dir)
      .select(col("event_type").as("src"),
        lead(col("event_type"), 1).over(w).as("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    (pairs.select(col("src").as("id")).distinct(),
      pairs.filter(col("dst").isNotNull))
  }

  def oracle: Map[String, String] = {
    // the same three integer-arithmetic iterations, unrolled as CTEs
    val iterCtes = (1 to nIters).map { i =>
      s"""r$i AS (
         |  SELECT v.id,
         |    (SELECT base FROM consts)
         |      + coalesce(c.in_sum, 0) * 85 // 100 AS rank_fp
         |  FROM verts v LEFT JOIN (
         |    SELECT e.dst AS id,
         |      cast(sum(r.rank_fp // d.deg) as bigint) AS in_sum
         |    FROM edges e
         |      JOIN r${i - 1} r ON r.id = e.src
         |      JOIN deg d ON d.src = e.src
         |    GROUP BY e.dst) c ON c.id = v.id)""".stripMargin
    }.mkString(",\n")
    Map(
      "q67_pagerank" ->
        s"""WITH trans AS (
           |  SELECT event_type AS src,
           |    lead(event_type) OVER (PARTITION BY user_id
           |      ORDER BY ts, event_id) AS dst
           |  FROM events),
           |edges AS (SELECT src, dst FROM trans WHERE dst IS NOT NULL),
           |verts AS (SELECT DISTINCT event_type AS id FROM events),
           |consts AS (
           |  SELECT $Scale * 15 // 100 // count(*) AS base,
           |         $Scale // count(*) AS r_init
           |  FROM verts),
           |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
           |r0 AS (SELECT id, (SELECT r_init FROM consts) AS rank_fp FROM verts),
           |$iterCtes
           |SELECT id, cast(rank_fp as bigint) AS rank_fp
           |FROM r$nIters ORDER BY id""".stripMargin,

      "q135_journey_trigrams" ->
        """WITH tri AS (
          |  SELECT event_type AS t1,
          |    lead(event_type, 1) OVER win AS t2,
          |    lead(event_type, 2) OVER win AS t3
          |  FROM events
          |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id))
          |SELECT t1, t2, t3, count(*) AS n
          |FROM tri WHERE t2 IS NOT NULL AND t3 IS NOT NULL
          |GROUP BY 1, 2, 3
          |ORDER BY n DESC, t1, t2, t3 LIMIT 20""".stripMargin,

      "q154_personalized_pagerank" -> {
        // |S| = 1: restart term Scale·15/100 on the seed, 0 elsewhere
        val baseSeed = Scale * 15 / 100
        def b(v: String) =
          s"CASE WHEN $v = '$PprSeed' THEN $baseSeed ELSE 0 END"
        val pprIters = (1 to nIters).map { i =>
          s"""r$i AS (
             |  SELECT v.id,
             |    ${b("v.id")} + coalesce(c.in_sum, 0) * 85 // 100 AS rank_fp
             |  FROM verts v LEFT JOIN (
             |    SELECT e.dst AS id,
             |      cast(sum(r.rank_fp // d.deg) as bigint) AS in_sum
             |    FROM edges e
             |      JOIN r${i - 1} r ON r.id = e.src
             |      JOIN deg d ON d.src = e.src
             |    GROUP BY e.dst) c ON c.id = v.id)""".stripMargin
        }.mkString(",\n")
        s"""WITH trans AS (
           |  SELECT event_type AS src,
           |    lead(event_type) OVER (PARTITION BY user_id
           |      ORDER BY ts, event_id) AS dst
           |  FROM events),
           |edges AS (SELECT src, dst FROM trans WHERE dst IS NOT NULL),
           |verts AS (SELECT DISTINCT event_type AS id FROM events),
           |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
           |r0 AS (
           |  SELECT id,
           |    CASE WHEN id = '$PprSeed' THEN $Scale ELSE 0 END AS rank_fp
           |  FROM verts),
           |$pprIters
           |SELECT id, cast(rank_fp as bigint) AS rank_fp
           |FROM r$nIters ORDER BY id""".stripMargin
      }
    )
  }
}
