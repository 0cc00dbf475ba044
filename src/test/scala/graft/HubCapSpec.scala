package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.GraphCore

/** The q152/q160 hub caps under a SYNTHETIC hub above the cap — the
  * r6 punch item turned the scaladoc's "hub-cap guard at web scale"
  * into code; this proves the documented semantics:
  *  - q152: wedge counts stay EXACT for over-cap parts (df alone);
  *    only pair-side statistics drop the hub's quadratic fan-out.
  *  - q160: the cap is conservative — it can hide mega-basket rules
  *    but can never create a rule the uncapped run wouldn't emit.
  *  - under the production caps, TPC-H-sized keys are untouched
  *    (capped ≡ uncapped), which is what keeps the oracle hashes valid.
  */
class HubCapSpec extends AnyFunSuite with SparkSuite {

  // 20 orders; part 99 is the hub (in every order); parts 1-3 co-occur
  // in small pockets
  private def hubbedOp() = {
    import spark.implicits._
    val rows =
      (0L until 20L).map(ok => (ok, 99L)) ++ // the hub part
        Seq((0L, 1L), (0L, 2L), (1L, 1L), (1L, 2L), (2L, 1L), (2L, 3L),
          (3L, 2L), (3L, 3L), (4L, 1L), (4L, 2L))
    rows.toDF("ok", "pk")
  }

  test("q152: an over-cap part keeps its exact wedge count; pair stats drop its fan-out") {
    val op = hubbedOp()
    val uncapped = GraphCore.butterflyStats(op, dfCap = 1000).collect()(0)
    val capped = GraphCore.butterflyStats(op, dfCap = 10).collect()(0)
    // wedge counts identical — computed from df alone, hub included
    assert(capped.getLong(0) == uncapped.getLong(0),
      "n_wedges must stay exact under the cap")
    assert(capped.getLong(0) >= 20L * 19 / 2, "hub wedges must be counted")
    // pair enumeration shrank: the hub's C(20,2) order pairs are gone
    assert(capped.getLong(1) < uncapped.getLong(1),
      "over-cap pair fan-out must be excluded")
    // and only pocket pairs remain (parts 1-3: df <= 5 each)
    assert(capped.getLong(1) <= 15)
  }

  test("q160: the basket cap never invents a rule (capped rule set ⊆ uncapped)") {
    val op = hubbedOp() // order 0..4 are baskets of size 3; all contain 99
    val uncapped = GraphCore.associationRules(op, minSupp = 2, basketCap = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = GraphCore.associationRules(op, minSupp = 2, basketCap = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.subsetOf(uncapped),
      s"capped rules $capped must be a subset of uncapped $uncapped")
    // with cap = 2 only the 15 hub-only baskets survive -> no pairs at all
    assert(capped.isEmpty)
  }

  test("q160: under-cap baskets are untouched (capped ≡ uncapped)") {
    val op = hubbedOp()
    val a = GraphCore.associationRules(op, minSupp = 2, basketCap = 1000).collect()
    val b = GraphCore.associationRules(op, minSupp = 2, basketCap = 3).collect()
    // every basket here has <= 3 items, so cap = 3 changes nothing
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
  }
}
