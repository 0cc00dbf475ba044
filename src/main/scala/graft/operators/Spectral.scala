package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed spectral analysis: the top principal direction of the
  * embedding corpus by power iteration — the building block behind
  * PCA-based embedding whitening, anisotropy diagnosis ("is the corpus
  * collapsed along one axis?"), and spectral-hash bit selection.
  *
  * Scale shape (the [[KMeans]] / [[Perceptron]] loop contract): each
  * iteration is ONE distributed aggregation — v_{t+1} ∝ Σ_x x·(xᵀv_t)
  * — and only the 64-long numerator vector reaches the driver, which
  * normalizes and broadcasts v back as literals. Gram-matrix-free: the
  * 64×64 covariance is never materialized, so the same loop runs at any
  * dimension the executors can hold a row of.
  *
  * Engine-portable-EXACT (hash-checkable, not rows-only): the per-row
  * projection is quantized to floor(xᵀv · 2¹⁶) and each component's
  * contribution to the numerator is the BIGINT product
  * floor(x_j·2¹⁶) · floor(xᵀv·2¹⁶) — integer sums are order-independent
  * under the shuffle. Division (by 2³², by the norm) and sqrt are
  * correctly-rounded IEEE ops, and both engines fold the dot product
  * left-to-right, so the driver's doubles and the oracle's CTE-replayed
  * doubles agree to the bit. Magnitudes here (|x|≲4, dim 64) keep the
  * summed products under 2⁴¹ per row — ~2⁶⁰ headroom at a billion rows.
  */
object Spectral extends QueryFamily {

  private val iters = 2
  private val S = 65536L // 2^16
  private val S2 = 4294967296.0 // 2^32

  private def dotLit(v: Array[Double]): String =
    v.map(w => s"${w}D").mkString("array(", ", ", ")")

  private def dotScala(a: Array[Double], b: Array[Double]): Double =
    a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))

  private def normalize(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(dotScala(v, v))
    v.map(_ / n)
  }

  /** Power iterations; returns the final unit direction. */
  def train(e: DataFrame): Array[Double] = {
    val v0 = normalize(
      e.filter(col("vec_id") === 0).select(col("embedding")).collect()(0)
        .getSeq[Float](0).map(_.toDouble).toArray)
    (1 to iters).foldLeft(v0) { (v, _) =>
      val rows = e
        .withColumn("q",
          floor(expr(Dedup.dot("embedding", dotLit(v))) * S).cast("long"))
        .select(col("q"), posexplode(col("embedding")).as(Seq("d", "x")))
        .groupBy("d")
        .agg(sum(floor(col("x").cast("double") * S).cast("long") * col("q"))
          .as("num"))
        .collect()
      val w = new Array[Double](v.length)
      rows.foreach(r => w(r.getInt(0)) = r.getLong(1).toDouble / S2)
      normalize(w)
    }
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Train 2 power iterations, then project every vector onto the
    // principal direction — the whitening / anisotropy-score pass. The
    // projection is map-only over the corpus with v broadcast as
    // literals.
    "q113_power_iteration" -> { (s, dir) =>
      val e = Synth.embeddings(s, dir)
        .select(col("vec_id"), col("label"), col("embedding"))
      val v = train(e.select(col("vec_id"), col("embedding")))
      e.withColumn("proj", expr(Dedup.dot("embedding", dotLit(v))))
        .select("vec_id", "label", "proj")
        .orderBy("vec_id")
    }
  )

  // The oracle replays training in CTEs (the q43 pattern): per-row
  // quantized projections, per-dimension bigint numerators, list-ordered
  // re-assembly, normalization with the same left-fold norm.
  private val dDot =
    "list_reduce(list_transform(list_zip(%s, %s), " +
      "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)"

  private def duckNormalize(in: String, out: String): String =
    s"""$out AS (
       |  SELECT list_transform(w, x -> x /
       |    sqrt(list_reduce(list_transform(w, y -> y * y), (p, q) -> p + q)))
       |    AS v FROM $in)""".stripMargin

  private def duckStep(vPrev: String, out: String): String = {
    val dotXV = dDot.format("x.embedding", s"$vPrev.v")
    s"""q_$out AS (
       |  SELECT x.vec_id,
       |    cast(floor(($dotXV) * $S) as bigint) AS q
       |  FROM e x CROSS JOIN $vPrev),
       |n_$out AS (
       |  SELECT r.d,
       |    sum(cast(floor(CAST(x.embedding[r.d] AS DOUBLE) * $S) as bigint)
       |        * q.q) AS num
       |  FROM e x JOIN q_$out q USING (vec_id)
       |  CROSS JOIN range(1, 65) r(d) GROUP BY r.d),
       |l_$out AS (
       |  SELECT list(cast(num as double) / $S2 ORDER BY d) AS w FROM n_$out),
       |${duckNormalize(s"l_$out", out)}""".stripMargin
  }

  def oracle: Map[String, String] = Map(
    "q113_power_iteration" -> {
      val proj = dDot.format("x.embedding", "v2.v")
      s"""WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
         |v0l AS (
         |  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS w
         |  FROM embeddings WHERE vec_id = 0),
         |${duckNormalize("v0l", "v0")},
         |${duckStep("v0", "v1")},
         |${duckStep("v1", "v2")}
         |SELECT x.vec_id, x.label, ($proj) AS proj
         |FROM e x CROSS JOIN v2 ORDER BY x.vec_id""".stripMargin
    }
  )
}
