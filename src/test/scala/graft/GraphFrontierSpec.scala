package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Frontier, GraphCore}

/** Unit semantics for the round-6 operators: k-core peeling (hand graphs
  * with known cores) and the Pareto/priority-sampling selection ops
  * (dominance ties, τ threshold edge cases). The sf-scale oracle hash
  * match is the end-to-end check; these pin the corner cases the
  * synthetic corpus may not exercise.
  */
class GraphFrontierSpec extends AnyFunSuite with SparkSuite {

  private def edges(pairs: (Long, Long)*) = {
    import spark.implicits._
    pairs.toDF("pa", "pb")
  }

  test("kcore: a pendant peels, the triangle core survives with its degrees") {
    // triangle 1-2-3 plus pendant 4 hanging off 1: the 2-core is exactly
    // the triangle; vertex 1's degree drops from 3 to 2 once 4 is gone
    val out = GraphCore.peel(
      edges((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L)), k = 2, rounds = 3)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((1L, 2L), (2L, 2L), (3L, 2L)))
  }

  test("kcore: peeling cascades — a path graph empties at k = 2") {
    // 1-2-3-4-5: endpoints have degree 1; removing them exposes new
    // endpoints each round, so the whole path unravels (needs >= 2
    // rounds — a single-round filter would keep 2,3,4)
    val out = GraphCore.peel(
      edges((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)), k = 2, rounds = 4)
    assert(out.isEmpty, "a path has no 2-core")
  }

  test("kcore: rounds beyond the fixpoint are no-ops") {
    val g = edges((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L))
    val at3 = GraphCore.peel(g, k = 2, rounds = 3)
      .orderBy("node").collect().toSeq
    val at6 = GraphCore.peel(g, k = 2, rounds = 6)
      .orderBy("node").collect().toSeq
    assert(at3 == at6)
  }

  test("skyline: dominance ties resolve per the >=-both->-one definition") {
    import spark.implicits._
    // (5,10) dominates (5,9) [equal x, lower y] and (4,10) [lower x,
    // equal y]; (6,8) and (3,12) are incomparable with it — all three
    // survive. Duplicate value pairs arrive pre-grouped with counts.
    val pts = Seq((5L, 10L, 2L), (5L, 9L, 1L), (4L, 10L, 3L),
      (6L, 8L, 1L), (3L, 12L, 1L)).toDF("x", "y", "n_docs")
    // drive the public query path's skyline via a private-free rendering:
    // the two-phase form must equal the definitional anti-join
    val twoPhase = {
      val local = pts.withColumn("b", pmod(hash(col("x"), col("y")), lit(4)))
      val w1 = org.apache.spark.sql.expressions.Window.partitionBy("b")
        .orderBy(col("x").desc, col("y").desc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val l = local.withColumn("m", max(col("y")).over(w1))
        .filter(col("m").isNull || col("y") > col("m")).drop("m", "b")
      val w2 = org.apache.spark.sql.expressions.Window
        .orderBy(col("x").desc, col("y").desc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      l.withColumn("m", max(col("y")).over(w2))
        .filter(col("m").isNull || col("y") > col("m")).drop("m")
    }
    val expected = pts.as("a").join(pts.as("b"),
        col("b.x") >= col("a.x") && col("b.y") >= col("a.y") &&
          (col("b.x") > col("a.x") || col("b.y") > col("a.y")),
        "left_anti")
    assert(twoPhase.orderBy("x").collect().toSeq ==
      expected.orderBy("x").collect().toSeq)
    assert(twoPhase.count() == 3)
  }

  test("priority sample: corpus smaller than k has tau = 0 and exact weights") {
    // run the real q145 on the sf0.001 corpus with its k=100 << corpus,
    // then assert the estimator invariants that hold for ANY draw:
    // w_hat >= w, w_hat = max(w, tau) with one shared tau, and the
    // selection is the top-k by the deterministic priority
    val out = Frontier.queries("q145_priority_sample")(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.length == 100)
    val taus = out.map(r =>
      math.max(r.getAs[Long]("w").toDouble,
        r.getAs[Double]("w_hat")) - r.getAs[Double]("w_hat"))
    assert(taus.forall(_ == 0.0), "w_hat = max(w, tau) >= w")
    val ps = out.map(_.getAs[Double]("priority"))
    assert(ps.sameElements(ps.sorted(Ordering[Double].reverse)),
      "rows come ranked by priority")
    // determinism: a second evaluation draws the identical sample
    val again = Frontier.queries("q145_priority_sample")(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.map(_.getLong(0)).toSeq == again.map(_.getLong(0)).toSeq)
  }
}
