package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** In-engine linear-classifier training — the "learned quality filter"
  * step of a curation pipeline (fastText-style classifiers in
  * production), expressed scale-correct: each training epoch is ONE
  * distributed aggregation over the corpus and only the weight vector
  * (|features| longs) ever reaches the driver, which then broadcasts
  * into the next epoch's filter as literals. Same loop shape as
  * [[KMeans.train]] / [[PageRank]].
  *
  * The batch perceptron rule makes the whole training run
  * engine-portable-EXACT, not just approximately right: features are
  * integer counts, weights start at 0, and each epoch adds
  * Σ y·x over the currently misclassified docs (margin ≤ 0) — integer
  * sums are order-independent, so the shuffle's reduce order cannot
  * change a single weight, and the DuckDB oracle replays the epochs as
  * unrolled CTEs to the same bits. (Logistic regression would need
  * exp(), which is NOT correctly-rounded-identical across engines —
  * the perceptron is the strongest classifier whose training is
  * hash-checkable.)
  */
object Perceptron extends QueryFamily {

  private val epochs = 3

  /** Integer feature projection: bias, token count, '.' count, "the"
    * occurrence count. Same rendering in both engines.
    *
    * Fanned out + checkpointed (r11, measured): every consumer — the 3
    * training epochs (one filter+sum action each) and the final scoring
    * pass — used to re-run the regex/replace extraction over the
    * single-file one-task scan, so the per-row string work executed 4×
    * on one core. One 32-wide materialization feeds all of them (guide
    * §1.2 step 1 + §5 caching: reused AND expensive to recompute).
    */
  private def features(s: SparkSession, dir: String): DataFrame =
    Synth.fanOut(rawFeatures(s, dir), "doc_id").localCheckpoint()

  private def rawFeatures(s: SparkSession, dir: String): DataFrame =
    Synth.documents(s, dir).select(
      col("doc_id"), col("source"),
      when(col("lang") === "en", 1L).otherwise(-1L).as("y"),
      lit(1L).as("x0"),
      expr("cast(size(split(trim(text), '\\\\s+')) as bigint)").as("x1"),
      expr("cast(length(text) - length(replace(text, '.', '')) as bigint)")
        .as("x2"),
      expr("cast((length(text) - length(replace(text, 'the', ''))) div 3 as bigint)")
        .as("x3"))

  /** The ONE rendering of w·x — margin, scoring, and evaluation all go
    * through it so a feature change cannot desynchronize them.
    */
  private def scoreSql(w: Array[Long]): String =
    w.indices.map(i => s"${w(i)}L*x$i").mkString(" + ")

  private def marginExpr(w: Array[Long]) = expr(s"y * (${scoreSql(w)})")

  /** One epoch: Σ y·x over misclassified docs, added to w. The epoch's
    * only driver traffic is the 4-long update row.
    */
  private def step(f: DataFrame, w: Array[Long]): Array[Long] = {
    val upd = f.filter(marginExpr(w) <= 0)
      .agg(
        coalesce(sum(col("y") * col("x0")), lit(0L)).as("d0"),
        coalesce(sum(col("y") * col("x1")), lit(0L)).as("d1"),
        coalesce(sum(col("y") * col("x2")), lit(0L)).as("d2"),
        coalesce(sum(col("y") * col("x3")), lit(0L)).as("d3"))
      .collect()(0)
    w.indices.map(i => w(i) + upd.getLong(i)).toArray
  }

  def train(f: DataFrame): Array[Long] =
    (1 to epochs).foldLeft(Array.fill(4)(0L))((w, _) => step(f, w))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Train 3 batch-perceptron epochs, then score the corpus with the
    // learned weights: score = w·x (bigint), pred = score > 0.
    "q101_perceptron" -> { (s, dir) =>
      val f = features(s, dir)
      val w = train(f)
      f.withColumn("score", expr(scoreSql(w)))
        .select(col("doc_id"), col("y"), col("score"),
          (col("score") > 0L).as("pred"))
        .orderBy("doc_id")
    },

    // Model evaluation in-engine: per-source confusion matrix +
    // precision/recall for q101's trained classifier — the
    // slice-by-provenance quality report a curation run ships with its
    // filter. One aggregation pass (FILTER-clause-style conditional
    // counts, the q93 idiom); each metric is one exactly-rounded IEEE
    // divide of integer counts, NULL when its denominator is empty.
    "q101b_classifier_eval" -> { (s, dir) =>
      val f = features(s, dir)
      val w = train(f)
      val tp = sum(when(col("pred") && col("y") === 1L, 1L).otherwise(0L))
      val fp = sum(when(col("pred") && col("y") =!= 1L, 1L).otherwise(0L))
      val fn = sum(when(!col("pred") && col("y") === 1L, 1L).otherwise(0L))
      val tn = sum(when(!col("pred") && col("y") =!= 1L, 1L).otherwise(0L))
      f.withColumn("pred", expr(s"${scoreSql(w)} > 0"))
        .groupBy("source")
        .agg(tp.as("tp"), fp.as("fp"), fn.as("fn"), tn.as("tn"))
        .withColumn("precision",
          when(col("tp") + col("fp") > 0L,
            col("tp").cast("double") / (col("tp") + col("fp")).cast("double")))
        .withColumn("recall",
          when(col("tp") + col("fn") > 0L,
            col("tp").cast("double") / (col("tp") + col("fn")).cast("double")))
        .orderBy("source")
    },

    // Ranking AUC (Mann–Whitney) for q101's scores — the
    // threshold-free metric a quality-filter rollout actually gates
    // on. Scale-correct decomposition (the q96 pattern): aggregate the
    // corpus to per-SCORE (n_pos, n_neg) counts first — one shuffle —
    // then the rank arithmetic windows over #distinct-scores rows,
    // never the corpus. Ties use the standard midrank correction via
    // ALL-INTEGER arithmetic: num2 = Σ_s npos(s)·(2·cumneg(<s) +
    // nneg(s)) ≡ 2·U, so AUC = num2 / (2·n_pos·n_neg) is one final
    // exactly-rounded IEEE divide — hash-exact across engines. (At
    // petabyte scale num2 ~ n² motivates the per-slice form — AUC per
    // source/day — whose counts this same plan yields by adding the
    // slice key to both group-bys.)
    "q101c_ranking_auc" -> { (s, dir) =>
      val f = features(s, dir)
      val w = train(f)
      val per = f.withColumn("score", expr(scoreSql(w)))
        .groupBy("score")
        .agg(
          sum(when(col("y") === 1L, 1L).otherwise(0L)).as("npos"),
          sum(when(col("y") =!= 1L, 1L).otherwise(0L)).as("nneg"))
      val win = Window.orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
      per
        .withColumn("cumneg", coalesce(sum(col("nneg")).over(win), lit(0L)))
        .agg(
          sum(col("npos")).as("n_pos"), sum(col("nneg")).as("n_neg"),
          sum(expr("npos * (2 * cumneg + nneg)")).as("num2"))
        .withColumn("auc", col("num2").cast("double") /
          (lit(2.0) * col("n_pos").cast("double")
            * col("n_neg").cast("double")))
    }
  )

  private val dFeat =
    """SELECT doc_id, source,
      |  cast(CASE WHEN lang = 'en' THEN 1 ELSE -1 END as bigint) AS y,
      |  1 AS x0,
      |  cast(len(regexp_split_to_array(trim(text), '\s+')) as bigint) AS x1,
      |  cast(length(text) - length(replace(text, '.', '')) as bigint) AS x2,
      |  cast((length(text) - length(replace(text, 'the', ''))) // 3 as bigint)
      |    AS x3
      |FROM documents""".stripMargin

  // the update sums live in an aggregate-only subquery (always exactly
  // one row, NULL sums when nothing is misclassified) so a clean epoch
  // leaves the weights unchanged instead of emptying the CTE
  private def dStep(prev: String, out: String): String =
    s"""$out AS (
       |  SELECT
       |    p.w0 + coalesce(s.d0, 0) AS w0, p.w1 + coalesce(s.d1, 0) AS w1,
       |    p.w2 + coalesce(s.d2, 0) AS w2, p.w3 + coalesce(s.d3, 0) AS w3
       |  FROM $prev p CROSS JOIN (
       |    SELECT sum(y*x0) AS d0, sum(y*x1) AS d1,
       |      sum(y*x2) AS d2, sum(y*x3) AS d3
       |    FROM f CROSS JOIN $prev q
       |    WHERE y * (q.w0*x0 + q.w1*x1 + q.w2*x2 + q.w3*x3) <= 0) s)""".stripMargin

  def oracle: Map[String, String] = Map(
    "q101_perceptron" ->
      s"""WITH f AS ($dFeat),
         |w0 AS (SELECT 0 AS w0, 0 AS w1, 0 AS w2, 0 AS w3),
         |${dStep("w0", "w1t")},
         |${dStep("w1t", "w2t")},
         |${dStep("w2t", "w3t")}
         |SELECT f.doc_id, f.y,
         |  cast(w.w0*x0 + w.w1*x1 + w.w2*x2 + w.w3*x3 as bigint) AS score,
         |  (w.w0*x0 + w.w1*x1 + w.w2*x2 + w.w3*x3) > 0 AS pred
         |FROM f CROSS JOIN w3t w
         |ORDER BY doc_id""".stripMargin,

    "q101b_classifier_eval" ->
      s"""WITH f AS ($dFeat),
         |w0 AS (SELECT 0 AS w0, 0 AS w1, 0 AS w2, 0 AS w3),
         |${dStep("w0", "w1t")},
         |${dStep("w1t", "w2t")},
         |${dStep("w2t", "w3t")},
         |scored AS (
         |  SELECT f.source, f.y,
         |    (w.w0*x0 + w.w1*x1 + w.w2*x2 + w.w3*x3) > 0 AS pred
         |  FROM f CROSS JOIN w3t w),
         |cm AS (
         |  SELECT source,
         |    cast(sum(CASE WHEN pred AND y = 1 THEN 1 ELSE 0 END) as bigint) AS tp,
         |    cast(sum(CASE WHEN pred AND y <> 1 THEN 1 ELSE 0 END) as bigint) AS fp,
         |    cast(sum(CASE WHEN NOT pred AND y = 1 THEN 1 ELSE 0 END) as bigint) AS fn,
         |    cast(sum(CASE WHEN NOT pred AND y <> 1 THEN 1 ELSE 0 END) as bigint) AS tn
         |  FROM scored GROUP BY source)
         |SELECT source, tp, fp, fn, tn,
         |  CASE WHEN tp + fp > 0
         |    THEN cast(tp as double) / cast(tp + fp as double) END AS precision,
         |  CASE WHEN tp + fn > 0
         |    THEN cast(tp as double) / cast(tp + fn as double) END AS recall
         |FROM cm ORDER BY source""".stripMargin,

    "q101c_ranking_auc" ->
      s"""WITH f AS ($dFeat),
         |w0 AS (SELECT 0 AS w0, 0 AS w1, 0 AS w2, 0 AS w3),
         |${dStep("w0", "w1t")},
         |${dStep("w1t", "w2t")},
         |${dStep("w2t", "w3t")},
         |scored AS (
         |  SELECT f.y,
         |    cast(w.w0*x0 + w.w1*x1 + w.w2*x2 + w.w3*x3 as bigint) AS score
         |  FROM f CROSS JOIN w3t w),
         |per AS (
         |  SELECT score,
         |    cast(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) as bigint) AS npos,
         |    cast(sum(CASE WHEN y <> 1 THEN 1 ELSE 0 END) as bigint) AS nneg
         |  FROM scored GROUP BY score),
         |c AS (
         |  SELECT npos, nneg,
         |    cast(coalesce(sum(nneg) OVER (ORDER BY score
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      as bigint) AS cumneg
         |  FROM per)
         |SELECT cast(sum(npos) as bigint) AS n_pos,
         |  cast(sum(nneg) as bigint) AS n_neg,
         |  cast(sum(npos * (2 * cumneg + nneg)) as bigint) AS num2,
         |  cast(sum(npos * (2 * cumneg + nneg)) as double)
         |    / (2.0 * cast(sum(npos) as double) * cast(sum(nneg) as double))
         |    AS auc
         |FROM c""".stripMargin
  )
}
