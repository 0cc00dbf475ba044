package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Community detection by synchronous label propagation (Raghavan et
  * al. 2007) over [[TextRank.wordGraph]] — words that co-occur settle
  * on a shared label, and the label groups are topic clusters. The
  * cheap alternative to modularity optimization that runs in O(|E|)
  * per round.
  *
  * Textbook LPA is nondeterministic (sequential updates, random tie
  * breaks). This is the SYNCHRONOUS deterministic variant every
  * distributed engine actually ships: all vertices update from the
  * previous round's labels simultaneously, a vertex adopts the label
  * with the highest incident edge weight, and ties break to the
  * lexicographically smallest label — a pure function of the graph, so
  * the oracle replays it exactly.
  *
  * Scale shape (the [[PageRank]] loop contract): per round, ONE
  * |edges|-bounded join ships each neighbor's current label, one
  * shuffle sums weights per (vertex, label), and the per-vertex argmax
  * is a dense_rank-free window over each vertex's candidate labels
  * (≤ degree rows). `localCheckpoint` cuts lineage per round. Rounds
  * never touch the corpus — the graph is compacted once.
  */
object LabelProp extends QueryFamily {

  private val rounds = 2
  private val topN = 25

  /** One synchronous round: labels(id, lbl) → labels'(id, lbl). */
  private def step(wedges: DataFrame, labels: DataFrame): DataFrame = {
    val byVertex = Window.partitionBy("dst")
      .orderBy(col("wt").desc, col("lbl"))
    wedges
      .join(labels.withColumnRenamed("id", "src"), "src")
      .groupBy("dst", "lbl")
      .agg(sum(col("cnt")).as("wt"))
      .withColumn("rn", row_number().over(byVertex))
      .filter(col("rn") === 1)
      .select(col("dst").as("id"), col("lbl"))
      .localCheckpoint()
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Two synchronous rounds from singleton labels, then the community
    // roll-up: (community label, member count), largest first.
    "q121_label_prop" -> { (s, dir) =>
      val (verts, wedges) = TextRank.wordGraph(s, dir)
      val w = wedges.localCheckpoint()
      val init = verts.withColumn("lbl", col("id"))
      val fin = (1 to rounds).foldLeft(init)((l, _) => step(w, l))
      fin.groupBy(col("lbl").as("community"))
        .agg(count(lit(1)).as("n_members"))
        .orderBy(col("n_members").desc, col("community"))
        .limit(topN)
    },

    // Newman modularity of the q121 communities — the quality metric
    // that says whether the label-prop partition is real structure or
    // noise (the q46-recall / q126-calibration pattern: the engine
    // measures its own operators). Over the symmetric weighted graph,
    // Q = Σ_c (w_in_c/W − (s_deg_c/W)²) with W = Σ cnt (each undirected
    // edge counted twice). Every numerator is an exact bigint
    // (w_in_c·W − s_deg_c²), so the per-community contributions AND the
    // global Q are single fixed-order divides — hash-exact. Cost: the
    // LPA rounds plus two |edges|-bounded label joins and three
    // community-sized aggregates.
    "q164_modularity" -> { (s, dir) =>
      val (verts, wedges) = TextRank.wordGraph(s, dir)
      val w = wedges.localCheckpoint()
      val init = verts.withColumn("lbl", col("id"))
      val labels = (1 to rounds).foldLeft(init)((l, _) => step(w, l))
      val wTot = w.agg(sum(col("cnt")).as("wtot"))
      val inW = w
        .join(labels.toDF("src", "l_src"), "src")
        .join(labels.toDF("dst", "l_dst"), "dst")
        .filter(col("l_src") === col("l_dst"))
        .groupBy(col("l_src").as("community"))
        .agg(sum(col("cnt")).as("w_in"))
      val degW = w.join(labels.toDF("src", "community"), "src")
        .groupBy("community").agg(sum(col("cnt")).as("s_deg"))
      val per = labels.groupBy(col("lbl").as("community"))
        .agg(count(lit(1)).as("n_members"))
        .join(degW, "community")
        .join(inW, Seq("community"), "left")
        .withColumn("w_in", coalesce(col("w_in"), lit(0L)))
        .crossJoin(broadcast(wTot))
        .withColumn("num",
          col("w_in") * col("wtot") - col("s_deg") * col("s_deg"))
        .localCheckpoint() // read twice: global Q sum + the top-20 cut
      val overall = per.agg(sum(col("num")).as("qnum"))
      per.crossJoin(broadcast(overall))
        .withColumn("contribution",
          expr("cast(num as double) / cast(wtot * wtot as double)"))
        .withColumn("modularity",
          expr("cast(qnum as double) / cast(wtot * wtot as double)"))
        .select("community", "n_members", "w_in", "s_deg", "contribution",
          "modularity")
        .orderBy(col("n_members").desc, col("community"))
        .limit(20)
    }
  )

  def oracle: Map[String, String] = {
    val roundCtes = (1 to rounds).map { i =>
      s"""c$i AS (
         |  SELECT e.dst AS id, l.lbl, cast(sum(e.cnt) as bigint) AS wt
         |  FROM wedges e JOIN l${i - 1} l ON l.id = e.src
         |  GROUP BY e.dst, l.lbl),
         |l$i AS (
         |  SELECT id, lbl FROM (
         |    SELECT id, lbl,
         |      row_number() OVER (PARTITION BY id
         |        ORDER BY wt DESC, lbl) AS rn
         |    FROM c$i) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    Map(
      "q121_label_prop" ->
        s"""WITH ${TextRank.duckGraphCtes},
           |l0 AS (SELECT id, id AS lbl FROM verts),
           |$roundCtes
           |SELECT lbl AS community, cast(count(*) as bigint) AS n_members
           |FROM l$rounds GROUP BY lbl
           |ORDER BY n_members DESC, community LIMIT $topN""".stripMargin,

      "q164_modularity" ->
        s"""WITH ${TextRank.duckGraphCtes},
           |l0 AS (SELECT id, id AS lbl FROM verts),
           |$roundCtes,
           |lab AS (SELECT id, lbl FROM l$rounds),
           |wtot AS (SELECT cast(sum(cnt) as bigint) AS wtot FROM wedges),
           |inw AS (
           |  SELECT ls.lbl AS community, cast(sum(e.cnt) as bigint) AS w_in
           |  FROM wedges e
           |    JOIN lab ls ON ls.id = e.src
           |    JOIN lab ld ON ld.id = e.dst
           |  WHERE ls.lbl = ld.lbl GROUP BY 1),
           |degw AS (
           |  SELECT l.lbl AS community, cast(sum(e.cnt) as bigint) AS s_deg
           |  FROM wedges e JOIN lab l ON l.id = e.src GROUP BY 1),
           |per AS (
           |  SELECT s.community, cast(s.n_members as bigint) AS n_members,
           |    coalesce(i.w_in, 0) AS w_in, d.s_deg,
           |    cast(coalesce(i.w_in, 0) * (SELECT wtot FROM wtot)
           |      - d.s_deg * d.s_deg as bigint) AS num
           |  FROM (SELECT lbl AS community, count(*) AS n_members
           |        FROM lab GROUP BY 1) s
           |    JOIN degw d USING (community)
           |    LEFT JOIN inw i USING (community)),
           |qn AS (SELECT cast(sum(num) as bigint) AS qnum FROM per)
           |SELECT community, n_members, cast(w_in as bigint) AS w_in, s_deg,
           |  cast(num as double)
           |    / cast((SELECT wtot FROM wtot) * (SELECT wtot FROM wtot)
           |      as double) AS contribution,
           |  cast((SELECT qnum FROM qn) as double)
           |    / cast((SELECT wtot FROM wtot) * (SELECT wtot FROM wtot)
           |      as double) AS modularity
           |FROM per ORDER BY n_members DESC, community LIMIT 20""".stripMargin
    )
  }
}
