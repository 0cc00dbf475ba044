package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level diagnostics a training-data pipeline ships with every
  * release: per-document novelty, source-balance inequality, and
  * label-discriminative vocabulary.
  *
  *  - q122 n-gram novelty: the fraction of a doc's distinct shingles
  *    that appear NOWHERE else — the data-valuation / memorization-risk
  *    proxy (a doc of df-1 shingles contributes unique signal; a doc of
  *    corpus-common shingles is redundant). Inverse of the q31 family's
  *    duplicate view.
  *  - q123 source Gini: inequality of the per-source token distribution
  *    — the "is one crawl dominating the mixture?" number next to
  *    q99's budget sampler. Exact integer numerator/denominator from
  *    the sorted cumulative form, one final IEEE divide.
  *  - q124 χ² vocabulary: per-word chi-square against the en/non-en
  *    label over doc-level presence — the classic feature-selection
  *    ranking (the supervised complement to q38's tf-idf). All four
  *    contingency cells are integers; the statistic is two
  *    exactly-ordered double ops over exact bigint products (every
  *    product bounded ≤ n⁴/16 < 2⁶³ — overflow-checked in comments).
  *
  * Scale shapes: q122 is the inverted-index pass (one df shuffle, one
  * join back); q123 aggregates the corpus to #sources rows FIRST, then
  * windows over that tiny frame (the q96/q101c decomposition); q124's
  * contingency counts are one doc-distinct explode + one shuffle, with
  * the two label totals broadcast as a 1-row frame.
  */
object CorpusStats extends QueryFamily {

  private val chi2MinDf = 10
  private val chi2TopN = 50

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q122_ngram_novelty" -> { (s, dir) =>
      val sh = Dedup.shingled(s, dir)
        .select(col("doc_id"), expr("size(sh)").cast("long").as("n_sh"),
          explode(col("sh")).as("shingle"))
      val df = sh.groupBy("shingle").agg(count(lit(1)).as("sdf"))
      sh.join(df.hint("shuffle_hash"), "shingle")
        .groupBy("doc_id", "n_sh")
        .agg(sum(when(col("sdf") === 1L, 1L).otherwise(0L)).as("n_unique"))
        .withColumn("novelty",
          col("n_unique").cast("double") / col("n_sh").cast("double"))
        .select("doc_id", "n_sh", "n_unique", "novelty")
        .orderBy("doc_id")
    },

    // Gini over per-source token counts c_1 ≤ … ≤ c_n (ties broken by
    // source name): G = (2·Σ i·c_i − (n+1)·T) / (n·T). The rank weights
    // come from a window over the n-row per-source frame, never the
    // corpus.
    "q123_source_gini" -> { (s, dir) =>
      val per = Synth.documents(s, dir)
        .select(col("source"),
          expr(s"cast(size(${TextAnalysis.toks}) as bigint)").as("tok"))
        .groupBy("source").agg(sum(col("tok")).as("c"))
      val w = Window.orderBy(col("c"), col("source"))
      per.withColumn("i", row_number().over(w).cast("long"))
        .agg(
          count(lit(1)).as("n_sources"),
          sum(col("c")).as("total_tokens"),
          sum(col("i") * col("c")).as("rank_sum"))
        .withColumn("gini_num",
          lit(2L) * col("rank_sum")
            - (col("n_sources") + 1L) * col("total_tokens"))
        .withColumn("gini_den", col("n_sources") * col("total_tokens"))
        .withColumn("gini",
          col("gini_num").cast("double") / col("gini_den").cast("double"))
        .select("n_sources", "total_tokens", "gini_num", "gini_den", "gini")
    },

    // Frequent 3-itemset mining over word-in-document presence, TOP-K
    // VOCABULARY shape: round-1 pruning keeps only the corpus's top-30
    // words by document frequency (in production: every word above
    // min-support — the same cut, data-sized), so the candidate space
    // is C(30,3), never the vocabulary cube. This is the DENSE regime —
    // a tiny hot vocabulary where pair-level a-priori gates buy nothing
    // because every pair is frequent; the sparse-transaction regime
    // with real gates is q177. Triples are generated MAP-SIDE from each
    // doc's sorted in-vocabulary word array (posexplode + two tail
    // slices → exactly C(k,3) rows per doc, no self-joins — the r7
    // rewrite of what used to be two doc-keyed hash joins streaming the
    // same 40M rows, 4.5 → ~2 s at sf0.1), then one map-side-combinable
    // count over the ≤ C(30,3) keys. Co-occurrence support is an
    // integer doc count — hash-exact.
    "q134_frequent_triples" -> { (s, dir) =>
      // fanOut: tokenize + array_distinct + explode is the map cost and
      // it runs twice (vocabulary df pass + the presence re-scan that
      // builds per-doc arrays) over a one-task single-file scan
      val pres = Synth.fanOut(Synth.documents(s, dir), "doc_id")
        .select(col("doc_id"),
          explode(expr(s"array_distinct(${TextAnalysis.toks})")).as("w"))
      val vocab = pres.groupBy("w").agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("w")).limit(30).select("w")
      val arr = pres.join(broadcast(vocab), "w")
        .groupBy("doc_id").agg(sort_array(collect_set(col("w"))).as("ws"))
      arr
        .select(col("ws"), posexplode(col("ws")).as(Seq("i", "w1")))
        .select(col("ws"), col("i"), col("w1"),
          posexplode(expr("slice(ws, i + 2, size(ws))")).as(Seq("j", "w2")))
        .select(col("w1"), col("w2"), explode(expr(
          // w2 sits at 1-based position (i+2)+j; its strict tail starts
          // one past that
          "slice(ws, i + j + 3, size(ws))")).as("w3"))
        .groupBy("w1", "w2", "w3").agg(count(lit(1)).as("support"))
        .filter(col("support") >= 5)
        .orderBy(col("support").desc, col("w1"), col("w2"), col("w3"))
        .limit(25)
    },

    // Quantile normalization — map each document's raw quality score
    // (n_chars here; any integer score slots in) to its corpus
    // percentile, the transform that makes scores from different
    // filters mixable on one [0,1] scale. NO global sort (the naive
    // percent_rank would single-partition the corpus): aggregate to
    // per-SCORE counts, cumulate over the #distinct-scores frame
    // (q101c's decomposition), then one broadcast-sized join maps every
    // doc. Midrank tie handling in integer form — quantile =
    // (2·cum_below + cnt − 1) / (2·(n − 1)) — so the only float op is
    // the final exactly-rounded divide.
    "q129_quantile_normalize" -> { (s, dir) =>
      val d = Synth.documents(s, dir)
        .select(col("doc_id"), col("n_chars").cast("long").as("score"))
      val per = d.groupBy("score").agg(count(lit(1)).as("cnt"))
      val w = Window.orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
      val table = per
        .withColumn("cum_below", coalesce(sum(col("cnt")).over(w), lit(0L)))
        .crossJoin(broadcast(d.agg(count(lit(1)).as("n"))))
        .withColumn("quantile",
          (lit(2L) * col("cum_below") + col("cnt") - 1L).cast("double")
            / (lit(2L) * (col("n") - 1L)).cast("double"))
        .select("score", "quantile")
      d.join(broadcast(table), "score")
        .select("doc_id", "score", "quantile")
        .orderBy("doc_id")
    },

    // χ²(word, en-label) over doc-level presence. Cells: a = en docs
    // containing w, b = non-en docs containing w, c/d their label
    // complements. diff = a·d − b·c (|diff| ≤ n²/4), diff² ≤ n⁴/16 —
    // at n = 10⁹ docs this needs the per-slice form, noted, but every
    // test SF and any per-shard slice fits bigint exactly. Final
    // statistic = (N·diff²)/(den₁·den₂) computed as two fixed-order
    // double ops over exact integers — engine-identical.
    "q124_chi2_features" -> { (s, dir) =>
      val d = Synth.documents(s, dir)
        .select(col("doc_id"), (col("lang") === "en").as("is_en"),
          explode(expr(s"array_distinct(${TextAnalysis.toks})")).as("w"))
      val totals = Synth.documents(s, dir)
        .agg(
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"),
          sum(when(col("lang") =!= "en", 1L).otherwise(0L)).as("n_other"))
      d.groupBy("w")
        .agg(
          sum(when(col("is_en"), 1L).otherwise(0L)).as("a"),
          sum(when(!col("is_en"), 1L).otherwise(0L)).as("b"))
        .filter(col("a") + col("b") >= chi2MinDf)
        .crossJoin(broadcast(totals))
        .withColumn("c", col("n_en") - col("a"))
        .withColumn("d", col("n_other") - col("b"))
        .withColumn("diff", col("a") * col("d") - col("b") * col("c"))
        .withColumn("chi2",
          (expr("cast(n_en + n_other as double)")
            * expr("cast(diff * diff as double)"))
            / (expr("cast((a + b) * (c + d) as double)")
              * expr("cast((a + c) * (b + d) as double)")))
        .select("w", "a", "b", "c", "d", "chi2")
        .orderBy(col("chi2").desc, col("w"))
        .limit(chi2TopN)
    }
  )

  def oracle: Map[String, String] = Map(
    "q122_ngram_novelty" ->
      s"""WITH sh AS (
         |  SELECT doc_id, cast(len(sh) as bigint) AS n_sh,
         |    unnest(sh) AS shingle
         |  FROM (SELECT doc_id, ${Dedup.dShingles} AS sh FROM documents)),
         |df AS (
         |  SELECT shingle, count(*) AS sdf FROM sh GROUP BY shingle)
         |SELECT sh.doc_id, sh.n_sh,
         |  cast(sum(CASE WHEN df.sdf = 1 THEN 1 ELSE 0 END) as bigint)
         |    AS n_unique,
         |  cast(sum(CASE WHEN df.sdf = 1 THEN 1 ELSE 0 END) as double)
         |    / cast(sh.n_sh as double) AS novelty
         |FROM sh JOIN df USING (shingle)
         |GROUP BY sh.doc_id, sh.n_sh ORDER BY doc_id""".stripMargin,

    "q123_source_gini" ->
      s"""WITH per AS (
         |  SELECT source,
         |    cast(sum(len(${TextAnalysis.dToks})) as bigint) AS c
         |  FROM documents GROUP BY source),
         |ranked AS (
         |  SELECT c, cast(row_number() OVER (ORDER BY c, source) as bigint)
         |    AS i
         |  FROM per),
         |agg AS (
         |  SELECT cast(count(*) as bigint) AS n_sources,
         |    cast(sum(c) as bigint) AS total_tokens,
         |    cast(sum(i * c) as bigint) AS rank_sum
         |  FROM ranked)
         |SELECT n_sources, total_tokens,
         |  2 * rank_sum - (n_sources + 1) * total_tokens AS gini_num,
         |  n_sources * total_tokens AS gini_den,
         |  cast(2 * rank_sum - (n_sources + 1) * total_tokens as double)
         |    / cast(n_sources * total_tokens as double) AS gini
         |FROM agg""".stripMargin,

    "q134_frequent_triples" ->
      s"""WITH pres AS (
         |  SELECT doc_id, unnest(list_distinct(${TextAnalysis.dToks})) AS w
         |  FROM documents),
         |vocab AS (
         |  SELECT w FROM (
         |    SELECT w, count(*) AS df FROM pres GROUP BY w
         |    ORDER BY df DESC, w LIMIT 30)),
         |p AS (SELECT doc_id, w FROM pres JOIN vocab USING (w))
         |SELECT a.w AS w1, b.w AS w2, c.w AS w3, count(*) AS support
         |FROM p a JOIN p b ON a.doc_id = b.doc_id AND a.w < b.w
         |         JOIN p c ON a.doc_id = c.doc_id AND b.w < c.w
         |GROUP BY 1, 2, 3 HAVING count(*) >= 5
         |ORDER BY support DESC, w1, w2, w3 LIMIT 25""".stripMargin,

    "q129_quantile_normalize" ->
      """WITH d AS (
        |  SELECT doc_id, cast(n_chars as bigint) AS score FROM documents),
        |per AS (SELECT score, count(*) AS cnt FROM d GROUP BY score),
        |c AS (
        |  SELECT score, cnt,
        |    cast(coalesce(sum(cnt) OVER (ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      as bigint) AS cum_below
        |  FROM per),
        |n AS (SELECT cast(count(*) as bigint) AS n FROM d)
        |SELECT d.doc_id, d.score,
        |  cast(2 * c.cum_below + c.cnt - 1 as double)
        |    / cast(2 * (n.n - 1) as double) AS quantile
        |FROM d JOIN c USING (score) CROSS JOIN n
        |ORDER BY d.doc_id""".stripMargin,

    "q124_chi2_features" ->
      s"""WITH pres AS (
         |  SELECT w, lang = 'en' AS is_en FROM (
         |    SELECT doc_id, lang,
         |      unnest(list_distinct(${TextAnalysis.dToks})) AS w
         |    FROM documents)),
         |totals AS (
         |  SELECT cast(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
         |      as bigint) AS n_en,
         |    cast(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END)
         |      as bigint) AS n_other
         |  FROM documents),
         |cells AS (
         |  SELECT w,
         |    cast(sum(CASE WHEN is_en THEN 1 ELSE 0 END) as bigint) AS a,
         |    cast(sum(CASE WHEN NOT is_en THEN 1 ELSE 0 END) as bigint) AS b
         |  FROM pres GROUP BY w HAVING count(*) >= $chi2MinDf),
         |full_cells AS (
         |  SELECT w, a, b, n_en - a AS c, n_other - b AS d,
         |    a * (n_other - b) - b * (n_en - a) AS diff,
         |    n_en, n_other
         |  FROM cells CROSS JOIN totals)
         |SELECT w, a, b, c, d,
         |  (cast(n_en + n_other as double) * cast(diff * diff as double))
         |    / (cast((a + b) * (c + d) as double)
         |      * cast((a + c) * (b + d) as double)) AS chi2
         |FROM full_cells
         |ORDER BY chi2 DESC, w LIMIT $chi2TopN""".stripMargin
  )
}
