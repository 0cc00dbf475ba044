package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.DedupIndex

/** The persisted band index: probing must read the corpus index in place
  * — bucketed scan, zero exchanges on the index side — and return exactly
  * the naive join's candidate pairs. This is the property that keeps a
  * daily dedup batch O(batch + collisions) instead of re-shuffling the
  * corpus index every run.
  */
class DedupIndexSpec extends AnyFunSuite with SparkSuite {

  private lazy val warehouse = Files.createTempDirectory("wh_dedup").toString

  override protected def sparkConf = Map(
    "spark.sql.warehouse.dir" -> warehouse, NoAqe,
    // keep the small batch side from broadcasting: the point is the
    // bucketed sort-merge path a TB-scale index side would force anyway
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  import scala.jdk.CollectionConverters._

  private lazy val corpus = {
    import spark.implicits._
    // 200 corpus docs × 4 bands; bucket hash collides across docs
    (0 until 200).flatMap { id =>
      (0 until 4).map(b => (id.toLong, b, s"h${(id * 7 + b * 13) % 31}"))
    }.toDF("doc_id", "band", "bucket")
  }

  private lazy val batch = {
    import spark.implicits._
    (200 until 210).flatMap { id =>
      (0 until 4).map(b => (id.toLong, b, s"h${(id * 5 + b) % 31}"))
    }.toDF("id_new", "band", "bucket")
  }

  private lazy val probed = {
    DedupIndex.write(corpus, "band_idx", 8)
    DedupIndex.probeCandidates(spark, "band_idx", batch)
  }

  test("probe returns exactly the naive join's candidate pairs") {
    val got = probed.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = corpus.toDF("id_old", "band", "bucket")
      .join(batch, Seq("band", "bucket"))
      .select("id_new", "id_old").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == naive)
    assert(got.nonEmpty, "constructed collisions must produce candidates")
  }

  test("the index side reads in place: bucketed scan, no exchange above it") {
    val p = probed.queryExecution.executedPlan
    val scans = p.collect { case f: FileSourceScanExec => f }
    assert(scans.exists(_.bucketedScan), s"index scan not bucketed:\n$p")
    // exchanges: ONE for the batch side into the index's bucketing, ONE
    // for the distinct — the index side contributes none
    val shuffles = p.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.size <= 2, s"expected <=2 exchanges, got ${shuffles.size}:\n$p")
    // and no exchange sits between the bucketed scan and the join: the
    // join child holding the index scan must be exchange-free
    val bucketedScan = scans.find(_.bucketedScan).get
    val join = p.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j }
    assert(join.nonEmpty, s"expected a sort-merge join:\n$p")
    val indexSide = join.head.children.filter(_.collect {
      case f: FileSourceScanExec => f }.contains(bucketedScan))
    assert(indexSide.nonEmpty)
    assert(indexSide.forall(_.collect {
      case s: ShuffleExchangeExec => s }.isEmpty),
      s"index side shuffled:\n$p")
  }

  test("q62b: the persisted-index variant matches q62 exactly and its index side plans no exchange") {
    val sf = sys.props.get("graft.testdata")
      .orElse(sys.env.get("GRAFT_TESTDATA"))
      .getOrElse("/root/testdata") + "/sf0.001"
    val indexed = SparkEntry.queries("q62b_incremental_dedup_indexed")(spark, sf)
    val inline = SparkEntry.queries("q62_incremental_dedup")(spark, sf)
    assert(indexed.collect().toSeq == inline.collect().toSeq,
      "persisted-index path must be semantically identical to q62")

    // the probe's plan reads the corpus index in place: a bucketed scan
    // with no exchange anywhere above it on its side of the join
    val p = indexed.queryExecution.executedPlan
    val bucketed = p.collect {
      case f: FileSourceScanExec if f.bucketedScan => f }
    assert(bucketed.nonEmpty, s"no bucketed index scan in q62b:\n$p")
    // the NEAREST join above the bucketed scan (its probe join): the
    // scan-holding side must be join-free below and exchange-free —
    // downstream verify joins legitimately shuffle candidate-sized rows
    val probeSides = p.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }.flatMap(_.children.filter { c =>
      c.collect { case f: FileSourceScanExec if f.bucketedScan => f }.nonEmpty &&
        c.collect {
          case jj: org.apache.spark.sql.execution.joins.SortMergeJoinExec => jj }.isEmpty
    })
    assert(probeSides.nonEmpty, s"no join directly over the bucketed index scan:\n$p")
    probeSides.foreach { side =>
      assert(side.collect { case s: ShuffleExchangeExec => s }.isEmpty,
        s"corpus index side shuffled:\n$p")
    }
  }
}
