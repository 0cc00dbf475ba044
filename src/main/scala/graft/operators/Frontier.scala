package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multi-criteria curation primitives: the 2-D Pareto frontier
  * (skyline) and Duffield–Lund–Thorup priority sampling — both
  * selection operators a training-data pipeline runs when "keep the
  * best documents" has more than one axis of best.
  *
  * Skyline (q144): the non-dominated (length, lexical-density) pairs —
  * no other document is at least as long AND at least as lexically
  * dense with one strict improvement. The distributed shape is the
  * classic two-phase skyline (Börzsönyi et al. ICDE'01 / the
  * map-reduce folklore): skyline-of-union = skyline-of-local-skylines,
  * so phase 1 prunes per hash bucket in parallel (a per-bucket sort of
  * distinct (x, y) pairs — already aggregated, so bucket input is
  * value-space-sized, not corpus-sized) and phase 2 re-runs the same
  * window over the few surviving pairs. The only unpartitioned sort in
  * the plan runs over phase-1 survivors (≤ buckets × |frontier|, tens
  * of rows here), never the corpus.
  *
  * Priority sampling (q145): weight-proportional sampling without
  * replacement with unbiased subset-sum estimates (Duffield, Lund,
  * Thorup, JACM'07): priority q_i = w_i / u_i with u_i uniform in
  * (0, 1], keep the top k priorities, threshold τ = (k+1)-th priority,
  * estimate ŵ_i = max(w_i, τ). u_i is the same salted-md5 u32 the
  * q64/q29 samplers use — deterministic, so both engines draw
  * identical "randomness". The top-(k+1) selection is the bounded-heap
  * graft_topk aggregate: k+1 rows per partition cross the wire, no
  * global sort (the window rendering would shuffle-sort the corpus for
  * a 101-row answer). Every float op (w·2³² exact below 2⁵³, one
  * correctly-rounded division, max) is IEEE-identical cross-engine, so
  * even the double-valued priorities hash-match.
  */
object Frontier extends QueryFamily {

  private val SkyBuckets = 64
  private val SampleK = 100

  /** Distinct (x, y, n_docs) points of the skyline value space:
    * x = token count, y = distinct-token density in parts-per-million
    * (integer-scaled so dominance stays exact integer comparison).
    */
  private def points(s: SparkSession, dir: String): DataFrame =
    Synth.documents(s, dir)
      .select(expr(Dedup.toks).as("t"))
      .select(size(col("t")).cast("long").as("n"),
        size(array_distinct(col("t"))).cast("long").as("d"))
      .filter(col("n") > 0)
      .select(col("n").as("x"), expr("d * 1000000L div n").as("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("n_docs"))

  /** Rows of `pts` not dominated under max-max (x, y) dominance:
    * sorted by (x DESC, y DESC), a pair survives iff its y strictly
    * exceeds the running max over all strictly-preceding rows. Ties:
    * an equal (x, y) pair is one grouped row; equal x with lower y is
    * dominated; equal y with lower x is dominated — exactly the
    * "≥ on both, > on one" definition.
    */
  private def skyline(pts: DataFrame, part: Seq[String]): DataFrame = {
    val w = Window.partitionBy(part.map(col): _*)
      .orderBy(col("x").desc, col("y").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    pts.withColumn("m", max(col("y")).over(w))
      .filter(col("m").isNull || col("y") > col("m"))
      .drop("m")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q144_skyline" -> { (s, dir) =>
      val pts = points(s, dir)
      // phase 1: bucket-local skylines in parallel; phase 2: the same
      // window over the survivors only (global sort of a tiny frame)
      val local = skyline(
        pts.withColumn("b", pmod(hash(col("x"), col("y")), lit(SkyBuckets))),
        Seq("b")).drop("b")
      skyline(local, Seq.empty).orderBy(col("x").desc)
        .select("x", "y", "n_docs")
    },

    "q145_priority_sample" -> { (s, dir) =>
      val p = Synth.documents(s, dir)
        .select(col("doc_id"),
          size(expr(Dedup.toks)).cast("long").as("w"))
        .filter(col("w") > 0)
        .withColumn("h",
          expr(Curation.u32Spark("priority:", "cast(doc_id as string)")))
        // q = w / u with u = (h+1)/2³², computed as w·2³² / (h+1):
        // w·2³² is exact (w < 2²¹), the division rounds once
        .withColumn("priority",
          col("w").cast("double") * lit(4294967296.0) /
            (col("h") + lit(1L)).cast("double"))
      val top = p.agg(
        expr(s"graft_topk(priority, doc_id, ${SampleK + 1})").as("t"))
      val cut = top.select(
        slice(col("t"), 1, SampleK).as("sample"),
        // τ = the (k+1)-th priority; 0 when the corpus has ≤ k docs
        // (then every weight is exact and ŵ = w)
        coalesce(element_at(col("t"), SampleK + 1)("score"), lit(0.0))
          .as("tau"))
      val ids = cut.select(col("tau"), explode(col("sample")).as("e"))
        .select(col("e.id").as("doc_id"),
          col("e.score").as("priority"), col("tau"))
      // re-attach w: k-row broadcast back into the weights frame
      broadcast(ids).join(p.select("doc_id", "w"), "doc_id")
        .select(col("doc_id"), col("w"), col("priority"),
          greatest(col("w").cast("double"), col("tau")).as("w_hat"))
        .orderBy(col("priority").desc, col("doc_id"))
    }
  )

  def oracle: Map[String, String] = Map(
    // single-phase rendering: the same dominance window over ALL
    // distinct pairs (phase-1 pruning is invisible to the result —
    // that's the skyline-of-skylines identity the hash match proves)
    "q144_skyline" ->
      s"""WITH t AS (
         |  SELECT ${Dedup.dToks} AS tk FROM documents),
         |pts AS (
         |  SELECT cast(len(tk) as bigint) AS x,
         |    cast(len(list_distinct(tk)) * 1000000 // len(tk) as bigint) AS y,
         |    count(*) AS n_docs
         |  FROM t WHERE len(tk) > 0 GROUP BY 1, 2),
         |sky AS (
         |  SELECT x, y, n_docs,
         |    max(y) OVER (ORDER BY x DESC, y DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m
         |  FROM pts)
         |SELECT x, y, n_docs FROM sky
         |WHERE m IS NULL OR y > m ORDER BY x DESC""".stripMargin,

    "q145_priority_sample" ->
      s"""WITH p AS (
         |  SELECT doc_id, cast(len(${Dedup.dToks}) as bigint) AS w
         |  FROM documents),
         |pr AS (
         |  SELECT doc_id, w,
         |    cast(w as double) * 4294967296.0 /
         |      (${Curation.u32Duck("priority:", "cast(doc_id as varchar)")} + 1)
         |      AS priority
         |  FROM p WHERE w > 0),
         |top AS (
         |  SELECT doc_id, w, priority FROM pr
         |  ORDER BY priority DESC, doc_id LIMIT ${SampleK + 1}),
         |tau AS (
         |  SELECT CASE WHEN count(*) >= ${SampleK + 1}
         |    THEN min(priority) ELSE 0.0 END AS t FROM top)
         |SELECT doc_id, w, priority,
         |  greatest(cast(w as double), (SELECT t FROM tau)) AS w_hat
         |FROM (SELECT * FROM top ORDER BY priority DESC, doc_id LIMIT $SampleK)
         |ORDER BY priority DESC, doc_id""".stripMargin
  )
}
