package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Spectral, Synth}

/** Power iteration (q113): the trained direction must actually climb the
  * spectrum — its Rayleigh quotient vᵀCv (C = Σ xxᵀ, uncentered) strictly
  * dominates the seed direction's — and training must be bit-reproducible
  * across runs (the fixed-point contract that makes the oracle replay
  * possible).
  */
class SpectralSpec extends AnyFunSuite with SparkSuite {

  private val sf = sys.props.get("graft.testdata")
    .orElse(sys.env.get("GRAFT_TESTDATA"))
    .getOrElse("/root/testdata") + "/sf0.001"

  private def embeddings() =
    Synth.embeddings(spark, sf).select(col("vec_id"), col("embedding"))

  test("trained direction dominates the seed's Rayleigh quotient; unit norm") {
    val e = embeddings()
    val xs = e.select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val v = Spectral.train(e)
    assert(math.abs(v.map(x => x * x).sum - 1.0) < 1e-12, "v must be unit norm")
    def rayleigh(d: Array[Double]): Double =
      xs.map { x =>
        val s = x.indices.foldLeft(0.0)((a, i) => a + x(i) * d(i)); s * s
      }.sum
    val seed = {
      val raw = xs.head
      val n = math.sqrt(raw.map(x => x * x).sum)
      raw.map(_ / n)
    }
    assert(rayleigh(v) > rayleigh(seed) * 1.05,
      s"power iteration should climb: R(v)=${rayleigh(v)} R(seed)=${rayleigh(seed)}")
  }

  test("training is bit-reproducible across runs (fixed-point sums)") {
    val e = embeddings()
    val v1 = Spectral.train(e)
    val v2 = Spectral.train(e.repartition(7)) // different physical layout
    assert(v1.toSeq == v2.toSeq, "shuffle order must not change a bit")
  }
}
