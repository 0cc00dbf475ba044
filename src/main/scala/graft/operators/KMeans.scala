package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed k-means (Lloyd's) over the embeddings table — the training
  * step the IVF index (q42) was stubbed around. MLlib-shaped execution:
  * assignments and per-dimension sums are distributed jobs; only the k×dim
  * centroid matrix ever reaches the driver (8×64 doubles per iteration),
  * which is what keeps the loop scale-correct at 100 TB.
  *
  * Everything is engine-portable-deterministic so the full training run is
  * DuckDB-oracle-checkable (not just rows-only):
  *  - init: centroid c = the embedding of vec_id c (c < k)
  *  - assignment: argmin over −2·(x·c) + |c|², dots via the left-fold
  *    [[graft.functions.VectorDot]] (= DuckDB list_reduce), ties to the
  *    smallest centroid id
  *  - update: per-dimension FIXED-POINT means — each component is
  *    floor(x · 2^20) as a bigint; integer sums are order-independent, so
  *    the shuffle's nondeterministic reduce order cannot flip a ulp
  *    (double sums would). mean = sum / count / 2^20 in double.
  *  - empty cluster: keeps its previous centroid
  */
object KMeans extends QueryFamily {

  private val k = 8
  private val iters = 2
  private val scale = 1048576L // 2^20

  private def dotLit(c: Array[Double]): String =
    c.map(w => s"${w}D").mkString("array(", ", ", ")")

  /** Assignment column: 0-based id of the argmin centroid, first-min
    * tiebreak (= smallest cid, same as the oracle's ORDER BY score, cid).
    */
  private def clusterExpr(centroids: Array[Array[Double]]): String = {
    val scores = centroids.map { c =>
      val norm2 = c.foldLeft(0.0)((acc, v) => acc + v * v)
      s"-2D * ${Dedup.dot("embedding", dotLit(c))} + ${norm2}D"
    }.mkString("array(", ", ", ")")
    s"array_position($scores, array_min($scores)) - 1"
  }

  private def assign(e: DataFrame, centroids: Array[Array[Double]]): DataFrame =
    e.withColumn("cid", expr(clusterExpr(centroids)).cast("int"))

  /** The (vec_id, embedding) base each query's actions re-derive from
    * the scan. A fanOut + localCheckpoint variant (materialize once,
    * feed the init collect + 2 Lloyd jobs + final assignment) was
    * A/B-measured in r11 and REJECTED: q43 0.71→2.00 s, q43b 0.86→1.85,
    * q34b 1.19→2.63 in matched windows — the eager checkpoint job plus
    * 32-task scheduling per action cost far more than the ~0.1 s
    * one-task scan+argmin it saves at this scale (the BMP/WAV tradeoff:
    * per-row work below the exchange price keeps the narrow plan).
    */
  private def base(s: SparkSession, dir: String): DataFrame =
    Synth.embeddings(s, dir).select(col("vec_id"), col("embedding"))

  /** Lloyd iterations; returns the final centroids. */
  def train(e: DataFrame): Array[Array[Double]] = {
    val init: Array[Array[Double]] = e
      .filter(col("vec_id") < k).orderBy("vec_id")
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    (1 to iters).foldLeft(init) { (centroids, _) =>
      val sums: Array[Row] = assign(e, centroids)
        .select(col("cid"), posexplode(col("embedding")).as(Seq("d", "x")))
        .groupBy("cid", "d")
        .agg(
          sum(floor(col("x").cast("double") * scale).cast("long")).as("s"),
          count(lit(1)).as("n"))
        .collect()
      val next = centroids.map(_.clone())
      sums.foreach { r =>
        val (cid, d) = (r.getInt(0), r.getInt(1))
        next(cid)(d) = r.getLong(2).toDouble / r.getLong(3).toDouble / scale.toDouble
      }
      next
    }
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Trained-IVF clustering: 2 Lloyd rounds from the deterministic seed,
    // then the final assignment — the list of (vector, cluster) pairs an
    // IVF index would partition by.
    "q43_kmeans" -> { (s, dir) =>
      val e = base(s, dir)
      val centroids = train(e)
      assign(e, centroids)
        .select(col("vec_id"), col("cid").as("cluster"))
        .orderBy("vec_id")
    },

    // End-to-end trained IVF search: top-k cosine inside the query's
    // TRAINED cluster (q42's probe shape with q43's centroids). The
    // cluster column is the partition key a real IVF index would bucket
    // the vectors by; the probe touches ~n/k of the data.
    "q43b_ivf_trained" -> { (s, dir) =>
      val e = base(s, dir)
      val assigned = assign(e, train(e))
        .select(col("vec_id"), col("embedding"), col("cid").as("cluster"))
      val q = assigned.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
          col("cluster"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id"))
      broadcast(q).join(assigned, "cluster")
        .withColumn("cosine", expr(Dedup.dot("q_emb", "embedding")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 10)
        .select("query_id", "rk", "vec_id", "cosine")
        .orderBy("query_id", "rk")
    },

    // SemDeDup (Abbas et al. 2023): semantic dedup at corpus scale.
    // Cluster embeddings with trained k-means, then compare pairs ONLY
    // inside a cluster — Σ n_c² work instead of n² (the published scale
    // path for embedding dedup; q34's label-blocked form needs an a-priori
    // key, this one derives it from the data). Keep-min-id rule: a vector
    // is dropped iff some lower-id vector in its cluster exceeds the
    // similarity threshold. The per-cluster join shuffles on cid; at
    // 100 TB, k grows with the corpus so cluster sizes stay bounded and
    // no partition ever sees more than one cluster's pairs.
    "q34b_semdedup" -> { (s, dir) =>
      val e = base(s, dir)
      val assigned = assign(e, train(e))
        .select(col("vec_id"), col("embedding"), col("cid").as("cluster"))
      val a = assigned.toDF("id_a", "emb_a", "cluster")
      val b = assigned.toDF("id_b", "emb_b", "cluster")
      val dups = a.join(b, "cluster")
        .filter(col("id_a") < col("id_b"))
        .filter(expr(Dedup.dot("emb_a", "emb_b")) > 0.4)
        .select(col("id_b").as("vec_id")).distinct()
      assigned.select("vec_id", "cluster")
        .join(dups.withColumn("dup", lit(true)), Seq("vec_id"), "left")
        .select(col("vec_id"), col("cluster"),
          (!coalesce(col("dup"), lit(false))).as("kept"))
        .orderBy("vec_id")
    }
  )

  private val dDot =
    "list_reduce(list_transform(list_zip(%s, %s), " +
      "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)"

  private def duckAssign(cTable: String, out: String): String = {
    val dotVC = dDot.format("v.embedding", "c.embedding")
    val dotCC = dDot.format("c.embedding", "c.embedding")
    s"""$out AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT v.vec_id, c.cid, row_number() OVER (PARTITION BY v.vec_id
       |      ORDER BY (-2 * $dotVC + $dotCC), c.cid) AS rn
       |    FROM e v CROSS JOIN $cTable c) WHERE rn = 1)""".stripMargin
  }

  private def duckUpdate(aTable: String, cPrev: String, out: String): String =
    s"""m_$out AS (
       |  SELECT a.cid, r.d,
       |    cast(sum(cast(floor(CAST(v.embedding[r.d] AS DOUBLE) * $scale) as bigint)) as double)
       |      / count(*) / $scale AS val
       |  FROM $aTable a JOIN e v USING (vec_id) CROSS JOIN range(1, 65) r(d)
       |  GROUP BY a.cid, r.d),
       |$out AS (
       |  SELECT p.cid, coalesce(m.emb, p.embedding) AS embedding
       |  FROM $cPrev p LEFT JOIN (
       |    SELECT cid, list(val ORDER BY d) AS emb FROM m_$out GROUP BY cid) m
       |  USING (cid))""".stripMargin

  private val duckTrainCtes =
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |c0 AS (
       |  SELECT vec_id AS cid,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
       |  FROM embeddings WHERE vec_id < $k),
       |${duckAssign("c0", "a0")},
       |${duckUpdate("a0", "c0", "c1")},
       |${duckAssign("c1", "a1")},
       |${duckUpdate("a1", "c1", "c2")},
       |${duckAssign("c2", "a2")}""".stripMargin

  def oracle: Map[String, String] = Map(
    "q43_kmeans" ->
      s"""$duckTrainCtes
         |SELECT vec_id, cast(cid as int) AS cluster FROM a2
         |ORDER BY vec_id""".stripMargin,

    "q43b_ivf_trained" -> {
      val dotQE = dDot.format("q.embedding", "v.embedding")
      s"""$duckTrainCtes,
         |av AS (SELECT e.vec_id, e.embedding, a2.cid AS cluster
         |       FROM e JOIN a2 USING (vec_id)),
         |qs AS (SELECT vec_id AS query_id, embedding, cluster
         |       FROM av WHERE vec_id < 5)
         |SELECT query_id, rk, vec_id, cosine FROM (
         |  SELECT q.query_id, v.vec_id, $dotQE AS cosine,
         |    cast(row_number() OVER (PARTITION BY q.query_id
         |      ORDER BY $dotQE DESC, v.vec_id) as int) AS rk
         |  FROM qs q JOIN av v ON q.cluster = v.cluster)
         |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin
    },

    "q34b_semdedup" -> {
      val dotAB = dDot.format("a.embedding", "b.embedding")
      s"""$duckTrainCtes,
         |av AS (SELECT e.vec_id, e.embedding, a2.cid AS cluster
         |       FROM e JOIN a2 USING (vec_id)),
         |dups AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM av a JOIN av b
         |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
         |  WHERE $dotAB > 0.4)
         |SELECT av.vec_id, cast(av.cluster as int) AS cluster,
         |  av.vec_id NOT IN (SELECT vec_id FROM dups) AS kept
         |FROM av ORDER BY vec_id""".stripMargin
    }
  )
}
