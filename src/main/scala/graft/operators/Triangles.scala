package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Degree-oriented triangle counting — the clustering-coefficient /
  * community-density primitive over a co-occurrence graph.
  *
  * The naive triangle join (edges ⋈ edges ⋈ edges on id order) explodes
  * on hub nodes: a vertex of degree d contributes d² wedges, and real
  * co-occurrence graphs are power-law. The published fix (Cohen's
  * MapReduce triangle counting; Suri & Vassilvitskii WWW'11) orients
  * every edge from its lower-(degree, id) endpoint to its higher one —
  * a total order, so the oriented graph is a DAG where every vertex has
  * out-degree O(√m) — then closes each oriented edge (u,v) by
  * intersecting the out-neighbor arrays N⁺(u) ∩ N⁺(v). Σ out-deg² work
  * is bounded by O(m^1.5) regardless of skew, and each triangle is found
  * exactly once (at the edge between its two lowest-ordered vertices).
  *
  * Everything is exact integer counting, so the DuckDB oracle — which
  * enumerates the same triangle set by plain id order, orientation-free
  * — hash-matches. The graph here: parts co-purchased in the same order
  * (the lineitem self-join is bounded per order by lines-per-order, ≤7
  * in TPC-H, so edge generation is linear in the log).
  */
object Triangles extends QueryFamily {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q68_triangles" -> { (s, dir) =>
      // the memoized co-purchase edge table ([[GraphCore.coPurchaseEdges]])
      // — shared with q143; the table read replaces the per-run lineitem
      // self-join + distinct, and the checkpoint still pins it in memory
      // for its four consumers (deg, both wedge sides, closing join)
      val edges = GraphCore.coPurchaseEdges(s, dir)
        .localCheckpoint()
      val deg = edges.select(col("pa").as("v"))
        .unionAll(edges.select(col("pb").as("v")))
        .groupBy("v").agg(count(lit(1)).as("deg"))
      // orient low→high in (deg, id) order; pa < pb breaks degree ties
      val oriented = edges
        .join(deg.toDF("pa", "da"), "pa")
        .join(deg.toDF("pb", "db"), "pb")
        .select(
          when(col("da") <= col("db"), col("pa")).otherwise(col("pb")).as("src"),
          when(col("da") <= col("db"), col("pb")).otherwise(col("pa")).as("dst"))
      // Adjacency-intersection close (the edge-iterator form of the same
      // oriented algorithm): for each oriented edge (u,v), the triangles
      // through it are N⁺(u) ∩ N⁺(v). Materializing WEDGES (out-neighbor
      // pairs) shuffles Σ out-deg² rows (~30M at sf0.1) only to discard
      // most of them against the closing-edge join; intersecting the two
      // out-neighbor ARRAYS does the same Σ out-deg² comparisons inside a
      // map stage, and only actual TRIANGLES (orders of magnitude fewer)
      // become rows. Orientation still bounds every array at O(√m)
      // entries, so a worst-case row is ~KBs. The adjacency is the ONLY
      // iteration state checkpointed (`oriented` has a single consumer,
      // the groupBy, so it stays lazy): re-exploding `nbrs` recovers the
      // oriented edge list WITH N⁺(u) already attached, which replaces
      // the first of what used to be two shuffle-hash closing joins and
      // one checkpoint — the r5 verdict's variance hotspot (3 blocking
      // localCheckpoints + 2 joins, 9–16 s run-to-run at sf0.1).
      val adj = oriented.groupBy(col("src").as("u"))
        .agg(collect_list(col("dst")).as("nbrs")) // array_intersect is
        .localCheckpoint() // hash-based: no sort needed; consumed twice
      val tri = adj
        .select(col("u"), col("nbrs").as("nu"), explode(col("nbrs")).as("v"))
        .join(adj.toDF("v", "nv").hint("shuffle_hash"), "v")
        .select(col("u"), col("v"),
          explode(array_intersect(col("nu"), col("nv"))).as("w"))
      tri
        .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("n_tri"))
        .orderBy(col("n_tri").desc, col("node"))
        .limit(100)
    }
  )

  def oracle: Map[String, String] = Map(
    // same triangle set, enumerated orientation-free by id order
    "q68_triangles" ->
      """WITH edges AS (
        |  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |tri AS (
        |  SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
        |  FROM edges e1
        |  JOIN edges e2 ON e2.pa = e1.pa AND e2.pb > e1.pb
        |  JOIN edges e3 ON e3.pa = e1.pb AND e3.pb = e2.pb),
        |nodes AS (
        |  SELECT a AS node FROM tri
        |  UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri)
        |SELECT node, cast(count(*) as bigint) AS n_tri
        |FROM nodes GROUP BY 1
        |ORDER BY n_tri DESC, node LIMIT 100""".stripMargin
  )
}
