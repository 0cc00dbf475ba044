package graft

import org.scalatest.funsuite.AnyFunSuite

/** Runtime (AQE) plan properties that the static PlanSpec session
  * (adaptive off, for inspectability) cannot observe: self-join queries
  * whose two sides share a lineage must REUSE the materialized exchange
  * at execution, not recompute the subtree per side.
  */
class AdaptiveReuseSpec extends AnyFunSuite with SparkSuite {

  private val sf = sys.props.get("graft.testdata")
    .orElse(sys.env.get("GRAFT_TESTDATA"))
    .getOrElse("/root/testdata") + "/sf0.001"

  test("q31b: one prefix pass feeds the posting arrays; the verify attaches via hash joins") {
    // r7 asserted ReusedExchange on the posting SELF-JOIN's shared
    // prefix subtree; r8's bucketPairs array route runs the prefix
    // pipeline once by construction, and the query's output-sized
    // localCheckpoint hides the chain from the final plan — so the
    // property is asserted on the verify chain itself (pre-checkpoint,
    // pre-orderBy): no sort-merge join anywhere (the pair route is the
    // array explode; the shingle attaches are hash joins that never
    // sort the array-carrying candidate stream).
    val df = graft.operators.Dedup.prefixJaccardPairs(
      graft.operators.Dedup.shingledFor(spark, sf))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("isFinalPlan=true"), "expected an executed adaptive plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the verify must not sort the candidate stream:\n${plan.take(4000)}")
    assert(plan.contains("Generate"),
      s"expected the posting-array pair explode:\n${plan.take(4000)}")
  }

  test("q32b: the array pair emission runs the signature pass once — no self-join left to reuse") {
    // r7 asserted ReusedExchange here: the bucket SELF-JOIN evaluated
    // the signature subtree once per side and AQE deduplicated the
    // exchange. r8's bucketPairs array path makes that structurally
    // impossible to regress the other way: ONE signature pass feeds the
    // groupBy + posexplode, so the plan must contain no self-join (no
    // sort-merge/shuffled-hash join at all on the in-cap route) and at
    // most the checkpoint boundary between stages.
    val df = SparkEntry.queries("q32b_lsh_pairs")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("isFinalPlan=true"), "expected an executed adaptive plan")
    assert(!plan.contains("SortMergeJoin"),
      s"q32b grew a self-join back:\n${plan.take(4000)}")
    // the pair explode is present (the array route, not a join probe)
    assert(plan.contains("Generate"),
      s"expected the posexplode pair emission:\n${plan.take(4000)}")
  }
}
