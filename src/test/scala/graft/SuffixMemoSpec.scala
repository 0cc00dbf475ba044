package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

/** The memoized suffix-rank frame: the 4-round prefix-doubling pipeline
  * (the costliest computation in the substring-dedup family) runs ONCE
  * per corpus content and both q111 and q111b probe the persisted
  * rank-bucketed table — the r6 punch item (q111b used to re-run q111's
  * whole pipeline, 16.6 s combined at sf0.1).
  */
class SuffixMemoSpec extends AnyFunSuite with SparkSuite {

  private val sf = sys.props.get("graft.testdata")
    .orElse(sys.env.get("GRAFT_TESTDATA"))
    .getOrElse("/root/testdata") + "/sf0.001"

  override protected def sparkConf = Map(NoAqe)

  test("suffix ranks materialize once; q111/q111b probe the bucketed table") {
    // first consumer triggers the build
    val q111 = SparkEntry.queries("q111_suffix_ranks")(spark, sf)
    assert(q111.count() > 0)
    val table = spark.catalog.listTables()
      .collect().map(_.name).find(_.startsWith("graft_suffix_ranks_"))
    assert(table.isDefined, "expected the materialized suffix-rank table")

    // the second consumer must READ the table — its plan is a bucketed
    // scan with NO doubling machinery (no token ranking, no pair-rank
    // joins), and the rank-partitioned n_occ window runs WITHOUT an
    // exchange below it (the table is bucketed+sorted by rank with one
    // file per bucket)
    val p = SparkEntry.queries("q111b_repeated_regions")(spark, sf)
      .queryExecution.executedPlan
    val scans = p.collect { case f: FileSourceScanExec => f }
    assert(scans.exists(_.metadata.getOrElse("Location", "")
        .contains(table.get)),
      s"q111b must scan the memoized suffix ranks:\n$p")
    assert(!p.toString.contains("token"),
      s"q111b re-ran the doubling pipeline instead of probing the table:\n$p")
    // exactly the windows' doc_id exchange(s) — none keyed by rank
    val rankExchanges = p.collect {
      case e: ShuffleExchangeExec if e.outputPartitioning.toString.contains("rank") => e
    }
    assert(rankExchanges.isEmpty,
      s"the rank window must ride the table's bucketing, not re-shuffle:\n$p")
  }

  test("a content change at the same dir rebuilds instead of serving stale") {
    // CorpusKey names embed the file inventory (length + mtime): touching
    // the corpus produces a DIFFERENT table name, so tableExists cannot
    // short-circuit to a stale artifact
    val n1 = graft.operators.CorpusKey.tableName(spark, "graft_suffix_ranks", sf)
    val n2 = graft.operators.CorpusKey.tableName(spark, "graft_suffix_ranks", sf)
    assert(n1 == n2, "same content must key the same table")
    val other = graft.operators.CorpusKey.tableName(
      spark, "graft_suffix_ranks", sf.replace("sf0.001", "sf0.01"))
    assert(n1 != other, "distinct corpora must never share a table name")
  }

  test("a touched file at the same dir changes the key (mtime is part of the fingerprint)") {
    // copy a corpus dir, key it, touch one file, key again — the name
    // must change, which is what forces the rebuild the r6 advice asked
    // for (tableExists can never serve a stale artifact)
    val tmp = java.nio.file.Files.createTempDirectory("corpuskey").toFile
    val src = new java.io.File(s"$sf/documents.parquet") // a single file here
    val one = new java.io.File(tmp, "documents.parquet")
    java.nio.file.Files.copy(src.toPath, one.toPath)
    val n1 = graft.operators.CorpusKey.tableName(spark, "t", tmp.toString)
    java.nio.file.Files.setLastModifiedTime(one.toPath,
      java.nio.file.attribute.FileTime.fromMillis(
        one.lastModified() + 60000))
    val n2 = graft.operators.CorpusKey.tableName(spark, "t", tmp.toString)
    assert(n1 != n2, "regenerated data at the same path must re-key")
  }
}
