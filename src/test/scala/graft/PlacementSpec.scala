package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Placement

/** The properties q146/q147 claim beyond the oracle hash match:
  * rendezvous rebalance moves docs ONLY onto the new shard (and about
  * 1/(N+1) of them), and the sketch join-size estimate never
  * undercounts.
  */
class PlacementSpec extends AnyFunSuite with SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  test("q146: minimal disruption — movers land only on the new shard, ~1/9 of docs") {
    val rows = Placement.queries("q146_rendezvous_shards")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val movers = rows.filter { case (o, n, _) => o != n }
    assert(movers.forall(_._2 == 8L),
      s"HRW growth may only move docs to the NEW shard: $movers")
    val total = rows.map(_._3).sum
    val moved = movers.map(_._3).sum
    // expected 1/9 ≈ 11.1%; allow generous sampling slack on 1k docs
    assert(moved * 9 > total / 2 && moved * 9 < total * 2,
      s"moved fraction should be ~1/9, got $moved/$total")
  }

  test("q147: the inner-product estimate dominates the exact join size") {
    val r = Placement.queries("q147_join_size_sketch")(spark, sf).collect()(0)
    assert(r.getAs[Long]("overshoot") >= 0L,
      "CMS inner product is an overestimate by construction")
    assert(r.getAs[Long]("n_exact") > 0L, "degenerate fixture")
  }
}
