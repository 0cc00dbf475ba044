package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.PageRank

/** Fixed-point PageRank on graphs with known structure: symmetry gives
  * equal ranks, asymmetry ranks the sink above the source, and total
  * mass never exceeds SCALE (integer floors + dangling nodes only ever
  * lose mass).
  */
class PageRankSpec extends AnyFunSuite with SparkSuite {

  private def ranksOf(vs: Seq[String], es: Seq[(String, String)]): Map[String, Long] = {
    import spark.implicits._
    PageRank.run(vs.toDF("id"), es.toDF("src", "dst"), 5)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  test("two-node cycle: perfect symmetry, equal ranks") {
    val r = ranksOf(Seq("a", "b"), Seq("a" -> "b", "b" -> "a"))
    assert(r("a") == r("b"))
  }

  test("one-way edge ranks the sink above the source") {
    val r = ranksOf(Seq("a", "b"), Seq("a" -> "b"))
    assert(r("b") > r("a"))
    // source keeps only the damping base: 0.15 * SCALE / 2
    assert(r("a") == PageRank.Scale * 15 / 100 / 2)
  }

  test("rank mass is bounded by SCALE and deterministic across runs") {
    val vs = (0 until 20).map(i => s"v$i")
    val es = (0 until 40).map(i => (s"v${i % 20}", s"v${(i * 7 + 3) % 20}"))
    val r1 = ranksOf(vs, es)
    val r2 = ranksOf(vs, es)
    assert(r1 == r2, "same graph must produce identical fixed-point ranks")
    assert(r1.values.sum <= PageRank.Scale)
    assert(r1.values.forall(_ > 0))
  }
}
