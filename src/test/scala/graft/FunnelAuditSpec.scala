package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextAnalysis

/** Observation-based funnel audit: per-stage surviving-row counts ride
  * the funnel's own job (CollectMetrics accumulators — no per-stage
  * re-scan) and reconcile with the input table and the output count.
  */
class FunnelAuditSpec extends AnyFunSuite with SparkSuite {

  private val sf = sys.props.get("graft.testdata")
    .orElse(sys.env.get("GRAFT_TESTDATA")).getOrElse("/root/testdata/sf0.001")

  test("stage counts ride the funnel job and reconcile monotonically") {
    val (df, obs) = TextAnalysis.auditedCuration(spark, sf)
    val out = df.count() // the ONE action; all four metrics resolve from it
    val m = obs.map { case (n, o) =>
      n -> o.get("rows").asInstanceOf[Long] }.toMap
    val total = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(m("in") == total, s"audit 'in' must equal the scan: $m")
    assert(m("in") >= m("post_dedup") && m("post_dedup") >= m("post_quality") &&
      m("post_quality") >= m("post_lang") && m("post_lang") >= out,
      s"stage counts must shrink monotonically: $m -> out=$out")
    assert(out > 0)
  }
}
