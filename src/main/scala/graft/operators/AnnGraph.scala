package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph-based ANN — the DiskANN/NSG-shaped tier the production stack
  * defaults to (r10 verdict #1): a distributed k-NN graph built from the
  * candidate machinery already on hand (IVF cells + LSH buckets generate
  * the candidate edges), symmetrized for navigability, then answered by
  * DETERMINISTIC beam search — fixed per-cell medoid entry points, fixed
  * beam width and round count, integer-quantized scores — so the whole
  * search is reproducible and oracle-expressible as unrolled CTE rounds
  * (the q136/q158 BFS pattern).
  *
  * Index construction (per-corpus state, memoized like the band index /
  * PQ codebooks):
  *  1. candidate pairs = within-IVF-cell ∪ within-LSH-bucket (both
  *     blockings are map-only key assignments; the pair space is banded,
  *     never corpus²) — the same blocked generation as q195/q31b;
  *  2. k-NN edges = per-source top-`degreeM` by quantized dot
  *     (graft_topk bounded heap: only M rows per source survive the
  *     shuffle);
  *  3. navigable graph = k-NN ∪ reversed k-NN (symmetrization is the
  *     standard kNN→navigable step: a vertex nobody's top-M reaches
  *     still gets found through its own out-edges), then a HARD degree
  *     cap: keep top-2M per source by (score desc, dst asc) — the
  *     DiskANN RobustPrune budget as a second bounded-heap pass, the
  *     PostingCap escape hatch of this family. Without it out-degree is
  *     M + in-degree and a HUB vertex can make one beam expansion
  *     unbounded; with it the per-round work bound (beamW · 2M) is a
  *     theorem, not an expectation. Scores ride the reversed edges
  *     (dot is symmetric), so the cap needs no recompute. Measured
  *     uncapped max degree on this corpus is 20 at M=8, so the 2M=16
  *     cap BINDS here — a few hubs trim from 17–20 to 16, leaving the
  *     graph directed at exactly those vertices — which is what the
  *     AnnIndexSpec degree-bound/asymmetry assertions pin.
  *
  * Search (per query, all rounds identical = unrollable):
  *  - beam₀ = the per-cell medoids (argmax dot-to-own-centroid, vec_id
  *    tiebreak; one entry per corpus-derived cell) — the DiskANN
  *    "medoid entry" generalized to one entry per cell, which keeps
  *    every region reachable without relying on cross-cell graph
  *    connectivity;
  *  - round r: candidates = beamᵣ₋₁ ∪ neighbors(beamᵣ₋₁); score by
  *    quantized dot with the query; beamᵣ = top-`beamW` (score desc,
  *    vec_id asc). Monotone: the beam only improves because it is
  *    always a candidate of the next round.
  *  - answer = top-10 of the final beam; the emitted report joins it
  *    against the exact ranking (recall@10) and counts every vector the
  *    search ever scored (n_cand — the probe COST), with the q41b
  *    multi-probe LSH family re-reported beside it so the index earns
  *    its place on the same axes (the q192 frontier shape).
  *
  * Scale story at 100 TB: construction is the q195-class blocked
  * self-join (cells/buckets grow with the corpus, bounding per-block
  * pair work) feeding a bounded-heap top-M; the graph is n·M edges
  * bucketed by src. Search cost per query is the medoid entry fan-out
  * (one entry per corpus-derived cell, ⌈n/256⌉ — sublinear in n) plus
  * ≤ rounds · beamW · 2M score evaluations (a CONSTANT — IVF probes
  * n/k candidates, the beam probes a bound), which is why this family
  * wins at scale; the bench's scaling block measures the curve. Each
  * round is one join of a small beam (broadcast) against the
  * src-bucketed adjacency, then a vec_id-keyed fetch of candidate
  * vectors — no shuffle grows with the corpus. Scores are
  * floor(dot · 2²⁰) bigints: ranking, ties, and the final report are
  * exact integer arithmetic, hash-identical across engines.
  */
object AnnGraph extends QueryFamily {

  private val dim = 64
  private val nQueries = 5
  private val topK = 10
  private[graft] val degreeM = 8
  private[operators] val beamW = 16
  private[operators] val rounds = 3
  /** Quantization scale for scores: floor(dot · 2²⁰). Dots on this
    * corpus are O(1), so quantized scores stay far below 2⁵³ — exact in
    * a double AND a bigint in both engines.
    */
  private val qScale = 1L << 20

  private def qScoreSpark(a: String, b: String): String =
    s"cast(floor(${Dedup.dot(a, b)} * $qScale) as bigint)"
  private def qScoreDuck(a: String, b: String): String =
    s"cast(floor(${Similarity.dotDuck(a, b)} * $qScale) as bigint)"

  // local renderings of the shared md5-derived planes/centroids (the
  // builders in Similarity are private; the CONSTANTS are the contract)
  private def planeDuck(p: Int): String =
    Similarity.planes(p).mkString("[", ", ", "]")
  private def bucketDuck(col: String): String =
    (0 until 8).map(p =>
      s"CASE WHEN ${Similarity.dotDuck(col, planeDuck(p))} > 0 THEN '1' ELSE '0' END")
      .mkString("concat(", ", ", ")")
  private def planeSpark(p: Int): String =
    Similarity.planes(p).map(w => s"${w}D").mkString("array(", ", ", ")")
  private def bucketSpark(col: String): String =
    (0 until 8).map(p => s"if(${Dedup.dot(col, planeSpark(p))} > 0, '1', '0')")
      .mkString("concat(", ", ", ")")
  private def centroidDotsSpark(col: String, k: Int): String =
    (0 until k).map(c => Dedup.dot(col,
      Similarity.centroidK(c).map(w => s"${w}D").mkString("array(", ", ", ")")))
      .mkString("array(", ", ", ")")

  /** The memoized navigable graph (src, dst), bucketed by src — index
    * state per corpus content, built once ([[CorpusKey]] naming, same
    * lifecycle as the band index / PQ codebooks).
    */
  private val graphLock = new Object
  private[graft] def graphTable(s: SparkSession, dir: String): String = {
    // v3: degree-capped build over CORPUS-DERIVED cells — the build's
    // within-cell pair work is exactly the "cell size bounds pair work"
    // case Similarity.cellCountFor exists for (fixed-8 here would be
    // q195's r10 critique all over again)
    val table = CorpusKey.tableName(s, "graft_knng3", dir)
    graphLock.synchronized {
      if (!s.catalog.tableExists(table)) {
        CorpusKey.prepareBuild(s, table)
        val k = Similarity.corpusCells(s, dir)
        // repartition BEFORE the bucket/cell expressions: the corpus is
        // one parquet file = one scan task, so without the fan-out the
        // 8-plane + k-centroid dot expressions (and every downstream
        // map over the checkpointed frame) run on a single core
        val base = Synth.embeddings(s, dir)
          .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
          .select(col("vec_id"), col("embedding"),
            expr(bucketSpark("embedding")).as("bucket"),
            expr(Similarity.clusterExprSparkK("embedding", k)).as("cell"))
          .localCheckpoint() // feeds both pair blockings + the score join
        def pairsBy(key: String): DataFrame =
          base.select(col(key), col("vec_id").as("src"))
            .join(base.select(col(key), col("vec_id").as("dst")), key)
            .filter(col("src") =!= col("dst"))
            .select("src", "dst")
        // ids only through the distinct (embeddings re-attach after —
        // carrying two 64-float arrays through the union+distinct
        // shuffle would dominate the build cost at scale)
        val cand = pairsBy("cell").unionByName(pairsBy("bucket")).distinct()
        val scored = cand
          .join(base.select(col("vec_id").as("src"),
            col("embedding").as("emb_src")), "src")
          .join(base.select(col("vec_id").as("dst"),
            col("embedding").as("emb_dst")), "dst")
          .withColumn("w", expr(qScoreSpark("emb_src", "emb_dst")))
        val knn = scored.groupBy("src")
          .agg(expr(s"graft_topk(cast(w as double), dst, $degreeM)").as("top"))
          .select(col("src"), explode(col("top")).as("t"))
          .select(col("src"), col("t.id").as("dst"), col("t.score").as("w"))
        // symmetrize (scores ride the reversal — dot is symmetric), then
        // the hard 2M degree cap: same bounded-heap pass as the kNN step
        val graph = knn
          .unionByName(knn.select(col("dst").as("src"), col("src").as("dst"),
            col("w")))
          .distinct()
          .groupBy("src")
          .agg(expr(s"graft_topk(w, dst, ${2 * degreeM})").as("top"))
          .select(col("src"), explode(col("top")).as("t"))
          .select(col("src"), col("t.id").as("dst"))
        graph.write.bucketBy(8, "src").sortBy("src")
          .mode("overwrite").saveAsTable(table)
      }
    }
    table
  }

  /** Bench warmup hook — the graph is corpus INDEX state, not any single
    * query's work.
    */
  private[graft] def warmArtifacts(s: SparkSession, dir: String): Unit = {
    graphTable(s, dir)
    ()
  }

  // shared with the streaming graph-append twin
  // (EventTimeAggregates.streamingGraphAppend): arriving vectors must be
  // keyed and scored by the SAME expressions the batch build uses
  private[graft] def bucketExpr(col: String): String = bucketSpark(col)
  private[graft] def scoreExpr(a: String, b: String): String =
    qScoreSpark(a, b)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // kNN-graph + beam-search ANN, reported on the q192 frontier axes
    // (family, query_id, n_cand, n_hit, recall) with multi-probe LSH
    // re-reported beside it as the comparator.
    "q204_knn_graph_beam" -> { (s, dir) =>
      val k = Similarity.corpusCells(s, dir)
      // fan out before the bucket expression and the checkpoint — the
      // single-file scan is one task, and the checkpointed partitioning
      // is what every downstream join/score/medoid pass inherits
      val base = Synth.embeddings(s, dir)
        .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
        .select(col("vec_id"), col("embedding"),
          expr(bucketSpark("embedding")).as("bucket"))
        .localCheckpoint() // scoring + medoids + exact + multiprobe
      val graph = s.table(graphTable(s, dir))
      val qdf = broadcast(base.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb")))
      // per-cell medoids (one entry per corpus-derived cell): argmax
      // dot-to-own-centroid = array_max of the centroid-dot array;
      // graft_topk(·, ·, 1) per cell is the (selfdot desc, vec_id asc)
      // argmax as a map-side-combinable agg. More cells ⇒ more entry
      // points ⇒ beam₁ trims to beamW — entry count scales with the
      // index, search work stays bounded.
      val medoids = base
        .withColumn("cds", expr(centroidDotsSpark("embedding", k)))
        .select(col("vec_id"),
          expr("array_position(cds, array_max(cds))").as("cell"),
          expr("array_max(cds)").as("selfdot"))
        .groupBy("cell")
        .agg(expr("graft_topk(selfdot, vec_id, 1)").as("top"))
        .select(explode(col("top")).as("t"))
        .select(col("t.id").as("vec_id"))
      // the beam/candidate sides are ≤ rounds·beamW·2M rows per query;
      // AQE broadcasts them at runtime (measured: a forced broadcast()
      // here is SLOWER — it materializes the multi-stage beam on the
      // driver once per round), so every round ends up a map-side join
      // against the src-bucketed adjacency and the corpus scan
      def scoreOf(cand: DataFrame): DataFrame = cand
        .join(base.select(col("vec_id"), col("embedding")), "vec_id")
        .join(qdf, "query_id")
        .withColumn("w", expr(qScoreSpark("q_emb", "embedding")))
        .select("query_id", "vec_id", "w")
      // EAGER localCheckpoint per round (guide §3.3: materialize
      // intermediates to truncate a growing plan): beam_r is consumed by
      // cand_{r+1} (twice: the union arm and the graph join), by
      // visited, and by the final answer join — without the cut the
      // round-r lineage re-plans and re-executes every earlier round
      // once per consumer, which is what made the 8x scaling point
      // superlinear (2.21 s -> 7.47 s in the committed artifact). Eager,
      // not lazy: a lazily-checkpointed frame consumed by several AQE
      // stages at once is recomputed CONCURRENTLY before the cache fills
      // (measured here: the lazy variant ran 5x slower than no
      // checkpoint at all); the eager jobs are tiny
      // (<= nQueries x beamW + medoids rows each).
      var beam = qdf.select("query_id").crossJoin(broadcast(medoids))
        .localCheckpoint()
      var visited = beam
      var lastScored: DataFrame = null
      for (_ <- 1 to rounds) {
        // cand's checkpoint is LAZY (r11, measured): its first action is
        // this round's beam materialization — a single consumer, so the
        // concurrent-recompute hazard that forces beam/beam0 eager does
        // not apply — and `visited`/`answer` read the filled cache later.
        // Lazy here removes one eager job per round.
        val cand = beam
          .unionByName(beam.join(graph, beam("vec_id") === graph("src"))
            .select(col("query_id"), col("dst").as("vec_id")))
          .distinct()
          .localCheckpoint(false)
        visited = visited.unionByName(cand)
        lastScored = scoreOf(cand)
        beam = lastScored.groupBy("query_id")
          .agg(expr(s"graft_topk(cast(w as double), vec_id, $beamW)").as("top"))
          .select(col("query_id"), explode(col("top")).as("t"))
          .select(col("query_id"), col("t.id").as("vec_id"))
          .localCheckpoint()
      }
      val nCand = visited.distinct()
        .groupBy("query_id").agg(count(lit(1)).as("n_cand"))
      val answer = lastScored.join(beam, Seq("query_id", "vec_id"))
        .groupBy("query_id")
        .agg(expr(s"graft_topk(cast(w as double), vec_id, $topK)").as("top"))
        .select(col("query_id"), explode(col("top")).as("t"))
        .select(col("query_id"), col("t.id").as("vec_id"))
      val exact = qdf.crossJoin(base.select("vec_id", "embedding"))
        .withColumn("w", expr(qScoreSpark("q_emb", "embedding")))
        .groupBy("query_id")
        .agg(expr(s"graft_topk(cast(w as double), vec_id, $topK)").as("top"))
        .select(col("query_id"), explode(col("top")).as("t"))
        .select(col("query_id"), col("t.id").as("vec_id"), lit(1).as("hit"))
      def report(family: String, nc: DataFrame, top: DataFrame): DataFrame =
        nc.join(exact.select("query_id", "vec_id"), "query_id")
          .join(top.withColumn("hit", lit(1)),
            Seq("query_id", "vec_id"), "left")
          .groupBy("query_id", "n_cand")
          .agg(count(col("hit")).as("n_hit"))
          .select(lit(family).as("family"), col("query_id"), col("n_cand"),
            col("n_hit"),
            (col("n_hit").cast("double") / lit(topK.toDouble)).as("recall"))
      // q41b multi-probe comparator on the same axes + the same
      // quantized score
      val flips = (0 until 8).map { i =>
        expr(s"concat(substring(bucket, 1, $i), " +
          s"if(substring(bucket, ${i + 1}, 1) = '1', '0', '1'), " +
          s"substring(bucket, ${i + 2}, ${8 - i - 1}))")
      }
      val probes = broadcast(base.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
          explode(array(col("bucket") +: flips: _*)).as("bucket")))
      val mpCand = probes.join(base.select("vec_id", "embedding", "bucket"),
          "bucket")
        .withColumn("w", expr(qScoreSpark("q_emb", "embedding")))
        .select("query_id", "vec_id", "w")
      val mpN = mpCand.groupBy("query_id").agg(count(lit(1)).as("n_cand"))
      val mpTop = mpCand.groupBy("query_id")
        .agg(expr(s"graft_topk(cast(w as double), vec_id, $topK)").as("top"))
        .select(col("query_id"), explode(col("top")).as("t"))
        .select(col("query_id"), col("t.id").as("vec_id"))
      report("knn_graph", nCand, answer)
        .unionByName(report("multiprobe", mpN, mpTop))
        .orderBy("family", "query_id")
    }
  )

  def oracle: Map[String, String] = Map(
    "q204_knn_graph_beam" -> {
      val roundCtes = (1 to rounds).map { r =>
        val prev = s"beam${r - 1}"
        s"""cand$r AS (
           | SELECT DISTINCT query_id, vec_id FROM $prev
           | UNION
           | SELECT DISTINCT p.query_id, g.dst AS vec_id
           | FROM $prev p JOIN graph g ON g.src = p.vec_id),
           |scored$r AS (
           | SELECT c.query_id, c.vec_id, ${qScoreDuck("q.q_emb", "e.embedding")} AS w
           | FROM cand$r c JOIN b e ON e.vec_id = c.vec_id
           |  JOIN q ON q.query_id = c.query_id),
           |beam$r AS (
           | SELECT query_id, vec_id FROM (
           |  SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
           |    ORDER BY w DESC, vec_id) AS rk FROM scored$r)
           | WHERE rk <= $beamW)""".stripMargin
      }.mkString(",\n")
      val visited = (1 to rounds)
        .map(r => s"SELECT query_id, vec_id FROM cand$r").mkString(" UNION ")
      val flips = (0 until 8).map { i =>
        s"concat(substring(bucket, 1, $i), " +
          s"CASE WHEN substring(bucket, ${i + 1}, 1) = '1' THEN '0' ELSE '1' END, " +
          s"substring(bucket, ${i + 2}, ${8 - i - 1}))"
      }
      s"""WITH ${Similarity.cellAssignCtesDuck()},
         |b AS (
         | SELECT e.vec_id, e.embedding, ${bucketDuck("e.embedding")} AS bucket,
         |  a.cell
         | FROM embeddings e JOIN cassign a USING (vec_id)),
         |pairs AS (
         | SELECT a.vec_id AS src, c.vec_id AS dst,
         |  ${qScoreDuck("a.embedding", "c.embedding")} AS w
         | FROM b a JOIN b c
         |  ON (a.cell = c.cell OR a.bucket = c.bucket) AND a.vec_id <> c.vec_id),
         |knn AS (
         | SELECT src, dst, w FROM (
         |  SELECT src, dst, w, row_number() OVER (PARTITION BY src
         |    ORDER BY w DESC, dst) AS rk
         |  FROM (SELECT DISTINCT src, dst, w FROM pairs))
         | WHERE rk <= $degreeM),
         |sym AS (SELECT src, dst, w FROM knn
         |        UNION SELECT dst, src, w FROM knn),
         |graph AS (
         | SELECT src, dst FROM (
         |  SELECT src, dst, row_number() OVER (PARTITION BY src
         |    ORDER BY w DESC, dst) AS rk FROM sym)
         | WHERE rk <= ${2 * degreeM}),
         |q AS (SELECT vec_id AS query_id, embedding AS q_emb
         |      FROM embeddings WHERE vec_id < $nQueries),
         |selfd AS (
         | SELECT vec_id, max(dt) AS selfdot FROM cdots GROUP BY 1),
         |medoids AS (
         | SELECT vec_id FROM (
         |  SELECT sd.vec_id, row_number() OVER (PARTITION BY a.cell
         |    ORDER BY sd.selfdot DESC, sd.vec_id) AS rk
         |  FROM selfd sd JOIN cassign a USING (vec_id))
         | WHERE rk = 1),
         |beam0 AS (SELECT q.query_id, m.vec_id FROM q CROSS JOIN medoids m),
         |$roundCtes,
         |visited AS ($visited),
         |nc AS (SELECT query_id, cast(count(*) as bigint) AS n_cand
         |       FROM visited GROUP BY 1),
         |answer AS (
         | SELECT query_id, vec_id FROM (
         |  SELECT s.query_id, s.vec_id, row_number() OVER (PARTITION BY s.query_id
         |    ORDER BY s.w DESC, s.vec_id) AS rk
         |  FROM scored$rounds s JOIN beam$rounds USING (query_id, vec_id))
         | WHERE rk <= $topK),
         |ex AS (
         | SELECT query_id, vec_id FROM (
         |  SELECT q.query_id, e.vec_id, row_number() OVER (PARTITION BY q.query_id
         |    ORDER BY ${qScoreDuck("q.q_emb", "e.embedding")} DESC, e.vec_id) AS rk
         |  FROM q CROSS JOIN b e)
         | WHERE rk <= $topK),
         |probes AS (
         | SELECT vec_id AS query_id, embedding AS q_emb,
         |  unnest([bucket, ${flips.mkString(", ")}]) AS bucket
         | FROM b WHERE vec_id < $nQueries),
         |mp_cand AS (
         | SELECT p.query_id, e.vec_id, ${qScoreDuck("p.q_emb", "e.embedding")} AS w
         | FROM probes p JOIN b e ON p.bucket = e.bucket),
         |mp_nc AS (SELECT query_id, cast(count(*) as bigint) AS n_cand
         |          FROM mp_cand GROUP BY 1),
         |mp_top AS (
         | SELECT query_id, vec_id FROM (
         |  SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
         |    ORDER BY w DESC, vec_id) AS rk FROM mp_cand)
         | WHERE rk <= $topK),
         |rep_graph AS (
         | SELECT 'knn_graph' AS family, n.query_id, n.n_cand,
         |  cast(count(a.vec_id) as bigint) AS n_hit,
         |  cast(count(a.vec_id) as double) / $topK AS recall
         | FROM nc n JOIN ex ON ex.query_id = n.query_id
         | LEFT JOIN answer a
         |  ON a.query_id = ex.query_id AND a.vec_id = ex.vec_id
         | GROUP BY n.query_id, n.n_cand),
         |rep_mp AS (
         | SELECT 'multiprobe' AS family, n.query_id, n.n_cand,
         |  cast(count(t.vec_id) as bigint) AS n_hit,
         |  cast(count(t.vec_id) as double) / $topK AS recall
         | FROM mp_nc n JOIN ex ON ex.query_id = n.query_id
         | LEFT JOIN mp_top t
         |  ON t.query_id = ex.query_id AND t.vec_id = ex.vec_id
         | GROUP BY n.query_id, n.n_cand)
         |SELECT * FROM rep_graph UNION ALL SELECT * FROM rep_mp
         |ORDER BY family, query_id""".stripMargin
    }
  )
}
