package graft

import org.scalatest.funsuite.AnyFunSuite

/** Product-quantization ANN (q48): structural guarantees of the ADC
  * scheme. A query's own codes are per-subspace argmaxes of its OWN ADC
  * table, so the self vector always attains the maximum achievable
  * score — the sanity property distinguishing a correct encode/lookup
  * wiring from a plausible-looking but shuffled one.
  */
class PQSpec extends AnyFunSuite with SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  private lazy val rows = SparkEntry.queries("q48_pq_ann")(spark, sf)
    .collect()
    .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))

  test("five queries × top-10, scores non-increasing in rank") {
    assert(rows.length == 50)
    rows.groupBy(_._1).foreach { case (qid, rs) =>
      val byRank = rs.sortBy(_._2)
      assert(byRank.map(_._2).toSeq == (1 to 10), s"query $qid ranks")
      byRank.sliding(2).foreach { case Array(hi, lo) =>
        assert(hi._4 >= lo._4, s"query $qid: score increases $hi -> $lo")
      }
    }
  }

  test("the self vector attains the maximum ADC score per query") {
    rows.groupBy(_._1).foreach { case (qid, rs) =>
      val top = rs.map(_._4).max
      val self = rs.find(r => r._3 == qid)
      assert(self.isDefined, s"query $qid: self vector missing from top-10")
      assert(self.get._4 == top,
        s"query $qid: self score ${self.get._4} below top $top")
    }
  }

  test("compiled residExplode kernel is bit-identical to the expression form") {
    // q199's r12 fix: the literal-array expression rendering of the
    // assignment/residual kernel exceeded javac limits (CodeGenerator
    // failed, whole stage ran interpreted), so the hot path moved to a
    // compiled UDF. This pins (m, code, rfp) EQUALITY between the two
    // renderings over the real corpus embeddings with a codebook whose
    // entries are not exactly representable (trained-like doubles), so
    // any accumulation-order or tiebreak drift shows.
    import org.apache.spark.sql.functions._
    val cb = Array.tabulate(8, 16, 8) { (m, k, d) =>
      (((m * 37 + k * 11 + d * 3) % 29) - 14) / 7.3
    }
    val e = graft.operators.Synth.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    def rowsOf(sub: org.apache.spark.sql.Column) = e
      .select(col("vec_id"), sub.as("sub"))
      .select(col("vec_id"), col("sub.m"), col("sub.code"), col("sub.rfp"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    val viaExpr = rowsOf(explode(array(
      graft.operators.ProductQuantization.residStructs(cb): _*)))
    val viaUdf = rowsOf(graft.operators.ProductQuantization.residExplode(cb))
    assert(viaUdf == viaExpr)
  }
}
