package graft

import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.RangeJoin

/** Curation operators (q64/q65/q66), ANN recall (q46) and the binned
  * range join (q47): semantic invariants the oracle hash can't state
  * directly, plus the plan property that makes the range join scale —
  * it must never degrade to a nested-loop/cartesian comparison.
  */
class CurationSpec extends AnyFunSuite with SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  override protected def sparkConf = Map(NoAqe)

  private def run(q: String) = SparkEntry.queries(q)(spark, sf)

  test("q64: the rarest language is kept in full, the head language is downsampled") {
    val docs = graft.operators.Synth.documents(spark, sf)
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val rarest = counts.minBy(_._2)._1
    val head = counts.maxBy(_._2)._1
    val kept = run("q64_temperature_resample")
      .groupBy("lang").agg(count(lit(1)).as("k"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept(rarest) == counts(rarest),
      s"rarest lang $rarest must keep all ${counts(rarest)} docs, kept ${kept.get(rarest)}")
    assert(kept(head) < counts(head),
      s"head lang $head must be downsampled: kept ${kept(head)} of ${counts(head)}")
    // expected keep rate sqrt(c_min/c_head): observed must be in a loose band
    val expected = math.sqrt(counts(rarest).toDouble / counts(head))
    val observed = kept(head).toDouble / counts(head)
    assert(math.abs(observed - expected) < 0.25,
      s"head keep rate $observed far from sqrt target $expected")
  }

  test("q64 is deterministic across runs") {
    val a = run("q64_temperature_resample").collect().toSeq
    val b = run("q64_temperature_resample").collect().toSeq
    assert(a == b)
  }

  test("q65: the split is group-coherent — one split per source, never straddling") {
    val perSource = run("q65_group_split")
      .groupBy("source").agg(countDistinct(col("split")).as("n"))
      .collect()
    assert(perSource.nonEmpty)
    perSource.foreach(r =>
      assert(r.getLong(1) == 1L, s"source ${r.getString(0)} straddles splits"))
    val splits = run("q65_group_split").select("split").distinct()
      .collect().map(_.getString(0)).toSet
    assert(splits.contains("train"), s"no train split in $splits")
  }

  test("q66: contamination is a fraction in [0,1]; eval docs are excluded") {
    val rows = run("q66_contamination_score").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (docId, nSh, nHit, score) =
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))
      assert(docId % 97 != 0, s"eval doc $docId leaked into the scored set")
      assert(nHit >= 0 && nHit <= nSh, s"doc $docId: n_hit $nHit out of [0,$nSh]")
      assert(score >= 0.0 && score <= 1.0, s"doc $docId: score $score")
      assert(math.abs(score - nHit.toDouble / nSh) < 1e-12)
    }
  }

  test("q49: the bloom filter never misses — bloom hits are a superset of exact hits") {
    val rows = run("q49_bloom_decon").collect()
    assert(rows.nonEmpty)
    var fps = 0
    rows.foreach { r =>
      val (bloom, exact, isFp) = (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3))
      assert(!(exact && !bloom),
        s"doc ${r.getLong(0)}: false negative — bloom filters must never miss")
      assert(isFp == (bloom && !exact))
      if (isFp) fps += 1
    }
    // the geometry is deliberately tight so the FP column is exercised;
    // the rate must still stay far from useless
    assert(fps < rows.length / 2, s"$fps FPs of ${rows.length} — filter degenerate")
  }

  test("q46: recall@k is in [0,1] with one row per probe query") {
    val rows = run("q46_ann_recall").collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val (nHit, recall) = (r.getLong(1), r.getDouble(2))
      assert(nHit >= 1 && nHit <= 10,
        s"query ${r.getLong(0)}: n_hit $nHit — the query vector itself must always hit")
      assert(recall == nHit / 10.0)
    }
  }

  test("range join: binned plan — no cartesian / nested-loop join") {
    val p = run("q47_range_join").queryExecution.executedPlan
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty,
      s"cartesian product in range-join plan:\n$p")
    assert(p.collect { case b: BroadcastNestedLoopJoinExec => b }.isEmpty,
      s"nested-loop join in range-join plan:\n$p")
  }

  test("range join: result-identical to the naive theta-join") {
    import spark.implicits._
    // adversarial values: exact-boundary pairs (diff == radius), same-bin
    // and adjacent-bin pairs, cross-key pairs that must NOT match
    val l = Seq((1L, "a", 0L), (2L, "a", 95L), (3L, "b", 200L), (4L, "a", 1000L))
      .toDF("lid", "k", "lv")
    val r = Seq((10L, "a", 100L), (11L, "a", 199L), (12L, "b", 210L),
      (13L, "a", 1100L), (14L, "b", 1000L))
      .toDF("rid", "k", "rv")
    val binned = RangeJoin.withinRadius(l, r, Seq("k"), "lv", "rv", 100L)
      .select("lid", "rid").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val naive = l.join(r, Seq("k"))
      .filter(abs(col("lv") - col("rv")) <= 100L)
      .select("lid", "rid").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(binned == naive, s"binned=$binned naive=$naive")
    assert(naive.contains((1L, 10L)), "boundary pair diff==radius must match")
    assert(!naive.exists { case (a, b) => a == 4L && b == 14L },
      "cross-key pair must not match")
  }
}
