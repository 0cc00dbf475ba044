package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ConnectedComponents

/** Focused cover for the r12 ConnectedComponents internals: the dropped
  * sym distinct (min-label is multiplicity-insensitive, so duplicated /
  * reversed / self-loop edge rows must not change the fixpoint) and the
  * adaptive step fusion (rounds 1–2 single-step, two fused
  * propagate+jump steps per checkpointed round after — the deep-chain
  * path must reach the true min-id fixpoint, not a truncation). The
  * oracle gate checks the same fixpoints end-to-end at corpus scale;
  * this pins the loop on adversarial shapes the corpus doesn't carry.
  */
class ConnectedComponentsSpec extends AnyFunSuite with SparkSuite {

  private def components(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    ConnectedComponents
      .runOnEdges(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("long chain converges to the min id through the fused rounds") {
    // a 200-vertex path needs ~log2(200) fused rounds — exercises the
    // double-step path (rounds >= 3) well past the single-step prefix
    val n = 200L
    val chain = (0L until n - 1).map(i => (i, i + 1))
    val got = components(chain)
    assert(got.size == n)
    assert(got.values.toSet == Set(0L), "every vertex must reach min id 0")
  }

  test("shallow disjoint cliques converge in the single-step prefix") {
    val cliqueA = for (a <- 10L to 13L; b <- 10L to 13L if a < b) yield (a, b)
    val cliqueB = for (a <- 20L to 22L; b <- 20L to 22L if a < b) yield (a, b)
    val got = components(cliqueA ++ cliqueB)
    assert((10L to 13L).forall(got(_) == 10L))
    assert((20L to 22L).forall(got(_) == 20L))
  }

  test("duplicate, reversed and self-loop edges leave the fixpoint unchanged") {
    val base = Seq((1L, 2L), (2L, 3L), (7L, 8L))
    val noisy = base ++ base ++ base.map(_.swap) ++ Seq((3L, 3L), (8L, 8L))
    assert(components(noisy) == components(base))
  }

  test("two chains merged by one bridge edge collapse to one component") {
    val left = (100L until 140L).map(i => (i, i + 1))   // 100..140
    val right = (200L until 240L).map(i => (i, i + 1))  // 200..240
    val got = components(left ++ right ++ Seq((140L, 200L)))
    assert(got.values.toSet == Set(100L))
  }

  test("per-cell union-find closure equals the distributed loop on cell-blocked edges") {
    // q195's edge set is within-cell by construction; its r12 rewrite
    // replaces the distributed loop with Similarity.cellClosure (one
    // aggregation + local union-find per cell). Point-equality on an
    // adversarial cell-blocked graph — a long chain (deep), a clique
    // (dense), a two-edge vee, and a singleton-edge cell, with ids
    // deliberately NOT aligned to cell order — is the unit-level proof;
    // the oracle hash at sf0.001/sf0.01 is the end-to-end one.
    import spark.implicits._
    val cells: Seq[(Long, Long, Long)] =
      (0L until 60L).map(i => (1L, 500L + i, 501L + i)) ++        // chain
        (for (a <- 0L to 5L; b <- 0L to 5L if a < b)
          yield (2L, 40L + a, 40L + b)) ++                        // clique
        Seq((3L, 9L, 3L), (3L, 9L, 7L),                           // vee (min inside)
          (4L, 1000L, 2L))                                        // singleton edge
    val edges = cells.toDF("cell", "id_a", "id_b")
    val local = graft.operators.Similarity.cellClosure(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val loop = ConnectedComponents
      .runOnEdges(edges.select(col("id_a").as("src"), col("id_b").as("dst")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == loop)
    assert(local(560L) == 500L && local(45L) == 40L &&
      local(9L) == 3L && local(7L) == 3L && local(1000L) == 2L)
  }
}
