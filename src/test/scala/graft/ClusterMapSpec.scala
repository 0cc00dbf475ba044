package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.scalatest.funsuite.AnyFunSuite

/** The materialized MinHash cluster map: built ONCE per (warehouse,
  * corpus) and probed in place by every consumer — the contract that
  * makes q61/q125/q140/q161 share one band→verify→CC execution instead
  * of four.
  */
class ClusterMapSpec extends AnyFunSuite with SparkSuite {

  private val sf = sys.props.get("graft.testdata")
    .orElse(sys.env.get("GRAFT_TESTDATA"))
    .getOrElse("/root/testdata") + "/sf0.001"

  override protected def sparkConf = Map(NoAqe)

  test("the cluster map materializes once; consumers probe the bucketed table") {
    // first consumer triggers the build
    val q61 = SparkEntry.queries("q61_minhash_dedup")(spark, sf)
    val rows1 = q61.count()
    assert(rows1 > 0)
    val table = spark.catalog.listTables()
      .collect().map(_.name).find(_.startsWith("graft_cluster_map_"))
    assert(table.isDefined, "expected the materialized cluster-map table")

    // later consumers must READ the table, not re-run band->verify->CC:
    // their plans scan the bucketed table and contain none of the
    // pipeline's signature machinery (no band/bucket columns anywhere)
    for (q <- Seq("q125_dedup_keep_best", "q140_dup_rate_by_source",
        "q161_dup_aware_weights", "q181_cluster_safe_split",
        "q182_copy_matrix")) {
      val p = SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan
      val scans = p.collect { case f: FileSourceScanExec => f }
      assert(scans.exists(_.metadata.getOrElse("Location", "")
          .contains(table.get)),
        s"$q must scan the materialized cluster map:\n$p")
      assert(!p.toString.contains("band"),
        s"$q re-ran the band pipeline instead of probing the table:\n$p")
    }

    // consistency: the probe-backed consumers agree with q61's map
    val m61 = q61.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val w = SparkEntry.queries("q161_dup_aware_weights")(spark, sf).collect()
    assert(w.nonEmpty)
    w.foreach { r =>
      assert(m61(r.getLong(0)) == r.getLong(1),
        s"doc ${r.getLong(0)}: q161 cluster ${r.getLong(1)} vs q61 ${m61(r.getLong(0))}")
    }
  }
}
