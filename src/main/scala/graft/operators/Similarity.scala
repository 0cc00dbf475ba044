package graft.operators

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the `embeddings` table.
  *
  *  - q40: brute-force cosine top-k — the exact baseline. The (small) query
  *    set is broadcast, so the scan side never shuffles: at 100 TB this is
  *    a map-only pass over the vectors.
  *  - q41: random-hyperplane LSH — each vector maps to an 8-bit bucket
  *    (sign of dot with 8 deterministic pseudo-random planes); search only
  *    probes the query's bucket. This is the scale path: bucket assignment
  *    is map-only and the candidate join touches ~n/256 of the data.
  *
  * Plane weights are md5-derived halves (hexdigit − 7.5), exactly
  * representable in binary floating point, so Spark and the DuckDB oracle
  * compute bit-identical dot products.
  */
/** Return row of [[Similarity.cellClosure]]'s union-find UDF. TOP-LEVEL
  * on purpose: a case class nested inside the object makes Janino fail
  * to compile the UDF's result serializer ("No applicable
  * constructor/method found" on the accessor) and the stage falls back
  * to interpreted after a failed compile attempt PER RUN — a top-level
  * class resolves cleanly (found by the r12 full-sweep codegen-error
  * scan).
  */
private[operators] case class IdComp(id: Long, comp: Long)

object Similarity extends QueryFamily {

  private val nPlanes = 8
  private val dim = 64
  private val nQueries = 5
  private val topK = 10

  private[operators] def md5hex(s: String): String =
    MessageDigest.getInstance("MD5")
      .digest(s.getBytes(StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  /** weight(p, d) = hexval(md5("plane<p>:<d>")[0]) − 7.5 ∈ {−7.5 … 7.5}. */
  private[operators] val planes: Array[Array[Double]] =
    Array.tabulate(nPlanes, dim) { (p, d) =>
      Integer.parseInt(md5hex(s"plane$p:$d").substring(0, 1), 16) - 7.5
    }

  private val nCentroids = 8

  /** IVF "centroids" for q42's fixed-contract oracle: deterministic
    * pseudo-vectors (same md5-derived halves construction as the LSH
    * planes, different salt). Real trained centroids are
    * [[KMeans.train]] (q43) — q42 keeps the pseudo set so its oracle
    * stays a closed-form expression.
    */
  private[operators] val centroids: Array[Array[Double]] =
    Array.tabulate(nCentroids, dim) { (c, d) =>
      Integer.parseInt(md5hex(s"centroid$c:$d").substring(0, 1), 16) - 7.5
    }

  private val nProjDims = 16

  /** q107's Johnson–Lindenstrauss sign matrix: entry(j, d) ∈ {−1, 1}
    * from the same md5 derivation as the LSH planes (different salt).
    * ±1 times a float is exact in binary floating point, so projected
    * coordinates are bit-identical across engines.
    */
  private[operators] val projSigns: Array[Array[Double]] =
    Array.tabulate(nProjDims, dim) { (j, d) =>
      if (Integer.parseInt(md5hex(s"proj$j:$d").substring(0, 1), 16) < 8) -1.0
      else 1.0
    }

  private def projRowSpark(j: Int): String =
    projSigns(j).map(w => s"${w}D").mkString("array(", ", ", ")")
  private def projRowDuck(j: Int): String =
    projSigns(j).mkString("[", ", ", "]")

  /** dim→nProjDims projection as an array expression (Spark SQL). */
  private def projExprSpark(col: String): String =
    (0 until nProjDims).map(j => Dedup.dot(col, projRowSpark(j)))
      .mkString("array(", ", ", ")")
  private def projExprDuck(col: String): String =
    (0 until nProjDims).map(j => dotDuck(col, projRowDuck(j)))
      .mkString("[", ", ", "]")

  private def centroidArrayDuck(c: Int): String =
    centroids(c).mkString("[", ", ", "]")

  /** 1-based index of the max-dot centroid (first occurrence on ties).
    * private[graft]: the q195 streaming twin assigns arriving vectors
    * with the SAME expression so batch and stream agree cell-for-cell.
    */
  private[graft] def clusterExprSpark(col: String): String =
    clusterExprSparkK(col, nCentroids)

  /** Corpus-size-derived IVF cell count (r10 verdict #2): cells grow
    * with the corpus — ⌈n/256⌉ clamped to [8, 4096] — so within-cell
    * pair work (q195's quadratic term, q42's candidate set) stays
    * bounded per cell as the corpus scales, BY CONSTRUCTION rather than
    * by a documented intention. At every driver scale factor (n ≤ 2000)
    * this derives exactly the historical 8; the bench's derived 2×/4×/8×
    * corpora get 16/32/63 cells. Deterministic from cardinality alone,
    * so the DuckDB oracle re-derives it from count(*)
    * ([[cellAssignCtesDuck]]) and both engines emit it as the `n_cells`
    * column. The 4096 clamp is where the literal-argmax expression stops
    * being reasonable (4096·64 literals); past it a production build
    * joins against a centroid TABLE instead (the oracle's shape).
    *
    * Deliberately NOT parameterized: q192's ivf family (the comparative
    * frontier keeps every family on the historical fixed-8 so cost axes
    * stay comparable across rounds) and q48b's IVF-PQ coarse quantizer
    * (quantizer cell count is index configuration chosen with the PQ
    * codebook budget, not a corpus-cardinality function — the paper's
    * nlist knob). The corpus-derived count applies where cell size
    * bounds PAIR work: q42 search candidates, q195 within-cell closure,
    * and their streaming twins.
    */
  private[graft] def cellCountFor(n: Long): Int =
    math.max(8L, math.min(4096L, math.ceil(n / 256.0).toLong)).toInt

  /** Memoized corpus cardinality → cell count, keyed on corpus content
    * like every index artifact (a parquet count(*) is metadata-only but
    * the bench probes repeatedly; the CorpusKey fingerprint also makes
    * regenerated data re-count).
    */
  private val cellCountCache =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]
  private[graft] def corpusCells(s: SparkSession, dir: String): Int =
    cellCountCache.computeIfAbsent(
      CorpusKey.tableName(s, "graft_embn", dir),
      _ => cellCountFor(Synth.embeddings(s, dir).count()))

  /** Centroid c beyond the fixed-8 prefix: same md5 derivation, open
    * index range. c < 8 returns the identical historical vectors.
    */
  private[graft] def centroidK(c: Int): Array[Double] =
    if (c < nCentroids) centroids(c)
    else Array.tabulate(dim)(d =>
      Integer.parseInt(md5hex(s"centroid$c:$d").substring(0, 1), 16) - 7.5)

  /** [[clusterExprSpark]] generalized over the centroid count. */
  private[graft] def clusterExprSparkK(col: String, k: Int): String = {
    val ds = (0 until k)
      .map(c => Dedup.dot(col,
        centroidK(c).map(w => s"${w}D").mkString("array(", ", ", ")")))
      .mkString("array(", ", ", ")")
    s"array_position($ds, array_max($ds))"
  }

  /** DuckDB CTE block that re-derives the cell count from count(*) and
    * assigns every vector its cell GENERICALLY — centroid weights are
    * computed in SQL from the same md5 derivation (strpos of the first
    * hex digit − 8.5 ≡ parseInt(hex,16) − 7.5, exact doubles both
    * ways), the dot folds in the same d-ascending order, and the argmax
    * tie-break (lowest c on equal dots) mirrors array_position-of-max.
    * Emits CTEs: params(k), cgrid, cent, cdots, cassign(vec_id, cell).
    */
  private[operators] def cellAssignCtesDuck(table: String = "embeddings"): String =
    s"""params AS (SELECT greatest(8, least(4096,
       |  cast(ceil(count(*) / 256.0) as bigint))) AS k FROM $table),
       |cgrid AS (SELECT cs.c, ds.d,
       |  cast(strpos('0123456789abcdef', substring(md5(concat('centroid',
       |    cast(cs.c as varchar), ':', cast(ds.d as varchar))), 1, 1))
       |    as double) - 8.5 AS w
       |  FROM (SELECT unnest(range(0, (SELECT k FROM params))) AS c) cs,
       |       (SELECT unnest(range(0, 64)) AS d) ds),
       |cent AS (SELECT c, list(w ORDER BY d) AS cw FROM cgrid GROUP BY c),
       |cdots AS (SELECT e.vec_id, ct.c, ${dotDuck("e.embedding", "ct.cw")} AS dt
       |  FROM $table e CROSS JOIN cent ct),
       |cassign AS (SELECT vec_id, c + 1 AS cell FROM (
       |  SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY dt DESC, c) AS rk FROM cdots) WHERE rk = 1)""".stripMargin
  private[operators] def clusterExprDuck(col: String): String = {
    val ds = (0 until nCentroids)
      .map(c => dotDuck(col, centroidArrayDuck(c)))
      .mkString("[", ", ", "]")
    s"cast(list_position($ds, list_max($ds)) as bigint)"
  }

  /** Render one plane as a SQL array literal (halves print exactly). */
  private def planeArraySpark(p: Int): String =
    planes(p).map(w => s"${w}D").mkString("array(", ", ", ")")
  private def planeArrayDuck(p: Int): String =
    planes(p).mkString("[", ", ", "]")

  /** 8-char '0'/'1' bucket string for an embedding column (Spark SQL). */
  private def bucketExprSpark(col: String): String =
    (0 until nPlanes)
      .map(p => s"if(${Dedup.dot(col, planeArraySpark(p))} > 0, '1', '0')")
      .mkString("concat(", ", ", ")")

  /** q118 shortlist depth: Hamming-candidate pool the exact rerank pays
    * full-precision cosine on. 50 of n keeps the rerank trivially small
    * while covering top-10 with headroom (1-bit signs lose real
    * resolution — the 5× pool absorbs it).
    */
  private val hammingShortlist = 50

  /** Sign bits of dims [32h, 32h+32) packed little-endian into a BIGINT
    * — two half-words per 64-dim vector. Rendered as a literal sum of
    * `if(element > 0, 2^d, 0)` terms: pure integer arithmetic both
    * engines fold identically, and per-term literals stay < 2^32.
    */
  private def packHalfSpark(h: Int): String =
    (0 until 32).map { d =>
      s"if(element_at(embedding, ${h * 32 + d + 1}) > 0, ${1L << d}L, 0L)"
    }.mkString(" + ")

  private def packHalfDuck(c: String, h: Int): String =
    (0 until 32).map { d =>
      s"CASE WHEN $c[${h * 32 + d + 1}] > 0 THEN ${1L << d} ELSE 0 END"
    }.mkString("(", " + ", ")::BIGINT")

  private[operators] def dotDuck(a: String, b: String): String =
    s"list_reduce(list_transform(list_zip($a, $b), " +
      s"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)"

  private def bucketExprDuck(col: String): String =
    (0 until nPlanes)
      .map(p => s"CASE WHEN ${dotDuck(col, planeArrayDuck(p))} > 0 THEN '1' ELSE '0' END")
      .mkString("concat(", ", ", ")")

  /** Broadcast-query top-k ranking, shared by q40/q41/q42/q46: the query
    * side (with optional blocking column) broadcasts, true cosine ranks
    * inside each query's candidate set. `blockCol = None` → exact
    * brute-force over every vector (crossJoin); `Some(c)` → candidates
    * restricted to the query's block (LSH bucket / IVF cluster).
    *
    * Ranking is the bounded-heap [[graft.functions.TopKByScore]]
    * aggregate, not a row_number window: the window form sorts each
    * query's ENTIRE candidate set (for brute force, the whole corpus per
    * query) to keep k rows; the heap keeps k candidates per query per
    * task and merges map-side, so only k·|queries| rows ever shuffle.
    * Same (cosine DESC, vec_id ASC) order — results are bit-identical
    * (the oracles still use the window rendering).
    */
  private def rankTopK(e: DataFrame, blockCol: Option[String]): DataFrame = {
    val qCols = Seq(col("vec_id").as("query_id"), col("embedding").as("q_emb")) ++
      blockCol.map(col)
    val q = broadcast(e.filter(col("vec_id") < nQueries).select(qCols: _*))
    val joined = blockCol match {
      case Some(c) => q.join(e, c)
      case None    => q.crossJoin(e)
    }
    joined
      .withColumn("cosine", expr(Dedup.dot("q_emb", "embedding")))
      .groupBy("query_id")
      .agg(expr(s"graft_topk(cosine, vec_id, $topK)").as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rk"),
        col("col.id").as("vec_id"), col("col.score").as("cosine"))
  }

  /** One (id, comp) row per edge-touched vertex of a cell-local edge
    * list, comp = min id of the vertex's connected component — the exact
    * CC fixpoint, computed LOCALLY. q195's edges are within-cell BY
    * CONSTRUCTION (the pair join keys on `cell`), so no component can
    * ever span cells and the distributed min-label loop (edge
    * checkpoint + sym build + ~6 propagate/jump jobs at this graph's
    * depth) is pure overhead for it: one groupBy(cell) — which reuses
    * the pair join's existing hash(cell) partitioning, so no new
    * exchange — feeds a per-cell union-find over a FEW HUNDRED edges
    * (cells are ⌈n/256⌉-derived, so cell size — and with it this
    * closure's input — stays bounded as the corpus scales; the same
    * argument that bounds the pair work bounds the union-find).
    * Union-by-min makes every root the min id of its class, so
    * find(v) IS the component label, order-independent and
    * engine-identical to the oracle's recursive closure.
    */
  private val cellUnionFind =
    udf { (es: Seq[org.apache.spark.sql.Row]) =>
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { e =>
        val a = e.getLong(0); val b = e.getLong(1)
        if (!parent.contains(a)) parent(a) = a
        if (!parent.contains(b)) parent(b) = b
        val ra = find(a); val rb = find(b)
        if (ra < rb) parent(rb) = ra
        else if (rb < ra) parent(ra) = rb
      }
      parent.keysIterator.map(v => IdComp(v, find(v))).toSeq
    }

  /** The grouped rendering of [[cellUnionFind]] over a (cell, id_a,
    * id_b) edge frame — one (vec_id, comp) row per touched vertex.
    * private[graft]: ConnectedComponentsSpec proves it point-equal to
    * the distributed loop on cell-blocked graphs.
    */
  private[graft] def cellClosure(edges: DataFrame): DataFrame =
    edges
      .groupBy("cell")
      .agg(collect_list(struct(col("id_a"), col("id_b"))).as("es"))
      .select(explode(cellUnionFind(col("es"))).as("t"))
      .select(col("t.id").as("vec_id"), col("t.comp").as("comp"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = queriesNormalized ++ Map(
    // Brute-force cosine top-k: broadcast queries × all vectors.
    "q40_knn_brute" -> { (s, dir) =>
      rankTopK(Synth.embeddings(s, dir), None).orderBy("query_id", "rk")
    },

    // LSH-bucketed ANN: assign every vector its hyperplane bucket
    // (map-only), then rank true cosine only inside the query's bucket.
    "q41_knn_lsh" -> { (s, dir) =>
      val e = Synth.embeddings(s, dir)
        .withColumn("bucket", expr(bucketExprSpark("embedding")))
      rankTopK(e, Some("bucket")).orderBy("query_id", "rk")
    },

    // Multi-probe LSH (Lv et al., VLDB'07): probe the query's own bucket
    // PLUS the 8 buckets at Hamming distance 1 (one sign bit flipped) —
    // the standard recall lift that avoids building more hash tables.
    // Candidates grow to ~9n/256 of the corpus; assignment stays
    // map-only, the probe list explodes on the broadcast QUERY side
    // (9·|queries| rows), and no dedup is needed because every vector
    // lives in exactly one bucket and the 9 probe buckets are distinct.
    "q41b_knn_multiprobe" -> { (s, dir) =>
      val e = Synth.embeddings(s, dir)
        .withColumn("bucket", expr(bucketExprSpark("embedding")))
      val flips = (0 until nPlanes).map { i =>
        expr(s"concat(substring(bucket, 1, $i), " +
          s"if(substring(bucket, ${i + 1}, 1) = '1', '0', '1'), " +
          s"substring(bucket, ${i + 2}, ${nPlanes - i - 1}))")
      }
      val q = broadcast(e.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
          explode(array(col("bucket") +: flips: _*)).as("bucket")))
      q.join(e, "bucket")
        .withColumn("cosine", expr(Dedup.dot("q_emb", "embedding")))
        .groupBy("query_id")
        .agg(expr(s"graft_topk(cosine, vec_id, $topK)").as("top"))
        .select(col("query_id"), posexplode(col("top")))
        .select(col("query_id"), (col("pos") + 1).cast("int").as("rk"),
          col("col.id").as("vec_id"), col("col.score").as("cosine"))
        .orderBy("query_id", "rk")
    },

    // ANN quality measurement: recall@k of the LSH index against the
    // exact brute-force ranking — the metric that decides whether an
    // approximate index is usable. Both sides are deterministic top-k
    // sets; the overlap count joins them on (query_id, vec_id). At scale
    // this runs on a sampled probe set: cost = one exact pass for the
    // sample + the index probes, never index-wide.
    "q46_ann_recall" -> { (s, dir) =>
      val e = Synth.embeddings(s, dir)
      val exact = rankTopK(e, None).select("query_id", "vec_id")
      val approx = rankTopK(
          e.withColumn("bucket", expr(bucketExprSpark("embedding"))),
          Some("bucket"))
        .select("query_id", "vec_id").withColumn("hit", lit(1))
      exact.join(approx, Seq("query_id", "vec_id"), "left")
        .groupBy("query_id")
        .agg(count(col("hit")).as("n_hit"))
        .withColumn("recall",
          col("n_hit").cast("double") / lit(topK.toDouble))
        .select("query_id", "n_hit", "recall")
        .orderBy("query_id")
    },

    // ANN recall/cost FRONTIER (r8 verdict #8) — the report an operator
    // runs before picking an index: every index family evaluated against
    // the same exact truth in ONE query, emitting per (family, query)
    // the candidate-set size (the probe COST) and recall@10 (the probe
    // QUALITY). Families: brute (the anchor: n candidates, recall 1),
    // LSH (q41), multi-probe LSH (q41b), IVF (q42), PQ-ADC (q48 — the
    // full-scan-of-codes profile: n candidates but byte-sized ones; the
    // frontier surfaces that its cost axis is different in KIND).
    // The embedding table is scanned ONCE: a single projection computes
    // every family's probe key (bucket, cluster, PQ codes), is
    // checkpointed, and all five branches + the exact pass read the
    // checkpoint. Integer candidate counts and hit counts keep the
    // report hash-exact; only recall divides.
    "q192_ann_frontier" -> { (s, dir) =>
      import ProductQuantization.{nSub => pqSub}
      val base = (0 until pqSub).foldLeft(
          Synth.embeddings(s, dir).select(col("vec_id"), col("embedding"))
            .withColumn("bucket", expr(bucketExprSpark("embedding")))
            .withColumn("cluster", expr(clusterExprSpark("embedding")))) {
          (df, m) => df.withColumn(s"code$m",
            expr(ProductQuantization.codeSpark("embedding", m)))
        }.localCheckpoint()
      val qs = base.filter(col("vec_id") < nQueries)
      val exact = rankTopK(base, None)
        .select(col("query_id"), col("vec_id"), lit(1).as("hit"))
      // cand: (query_id, vec_id, score) rows; one aggregation gets the
      // candidate count AND the bounded-heap top-k in the same pass
      def report(family: String, cand: DataFrame): DataFrame =
        cand.groupBy("query_id")
          .agg(count(lit(1)).as("n_cand"),
            expr(s"graft_topk(score, vec_id, $topK)").as("top"))
          .select(col("query_id"), col("n_cand"), explode(col("top")).as("t"))
          .select(col("query_id"), col("n_cand"), col("t.id").as("vec_id"))
          .join(exact, Seq("query_id", "vec_id"), "left")
          .groupBy("query_id", "n_cand")
          .agg(count(col("hit")).as("n_hit"))
          .select(lit(family).as("family"), col("query_id"), col("n_cand"),
            col("n_hit"),
            (col("n_hit").cast("double") / lit(topK.toDouble)).as("recall"))
      def cosScored(j: DataFrame): DataFrame = j
        .withColumn("score", expr(Dedup.dot("q_emb", "embedding")))
        .select("query_id", "vec_id", "score")
      val qPlain = qs.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"), col("bucket"), col("cluster"))
      val brute = cosScored(broadcast(qPlain.drop("bucket", "cluster"))
        .crossJoin(base.select("vec_id", "embedding")))
      val lsh = cosScored(broadcast(qPlain.drop("cluster"))
        .join(base.select("vec_id", "embedding", "bucket"), "bucket"))
      val flips = (0 until nPlanes).map { i =>
        expr(s"concat(substring(bucket, 1, $i), " +
          s"if(substring(bucket, ${i + 1}, 1) = '1', '0', '1'), " +
          s"substring(bucket, ${i + 2}, ${nPlanes - i - 1}))")
      }
      val mp = cosScored(broadcast(qPlain.drop("cluster")
          .select(col("query_id"), col("q_emb"),
            explode(array(col("bucket") +: flips: _*)).as("bucket")))
        .join(base.select("vec_id", "embedding", "bucket"), "bucket"))
      val ivf = cosScored(broadcast(qPlain.drop("bucket"))
        .join(base.select("vec_id", "embedding", "cluster"), "cluster"))
      val qTabs = broadcast((0 until pqSub).foldLeft(
          qs.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))) {
          (df, m) => df.withColumn(s"tab$m",
            expr(ProductQuantization.tableSpark("q_emb", m)))
        }.drop("q_emb"))
      val adcScore = (0 until pqSub)
        .map(m => s"element_at(tab$m, cast(code$m as int))")
        .reduce((a, b) => s"($a + $b)")
      val pq = qTabs
        .crossJoin(base.select(col("vec_id") +:
          (0 until pqSub).map(m => col(s"code$m")): _*))
        .withColumn("score", expr(adcScore))
        .select("query_id", "vec_id", "score")
      report("brute", brute)
        .unionByName(report("lsh", lsh))
        .unionByName(report("multiprobe", mp))
        .unionByName(report("ivf", ivf))
        .unionByName(report("pq_adc", pq))
        .orderBy("family", "query_id")
    },

    // SemDeDup-style SEMANTIC dedup (Abbas et al. 2023 shape) — the
    // embedding-space sibling of q61's MinHash pipeline: cluster the
    // corpus (the IVF cells stand in for the paper's k-means), call a
    // WITHIN-CELL pair a semantic duplicate when cosine ≥ τ, close the
    // dup relation with connected components, keep one doc per group
    // (min-id canonical — q61's convention; the paper keeps the
    // farthest-from-centroid member, a one-line swap on the same
    // machinery). Cross-cell pairs are ignored BY DESIGN — that is the
    // approximation that makes SemDeDup linear-ish, and the oracle
    // mirrors the same blocking, so the hash match verifies the
    // closure, not a lucky recall. At 100 TB the cell count GROWS WITH
    // THE CORPUS by construction — [[cellCountFor]] (r10 verdict #2):
    // ⌈n/256⌉ clamped, re-derived by the oracle from count(*) and
    // emitted as n_cells — so within-cell pair work stays bounded per
    // cell as the corpus scales; CC contracts to touched vertices only,
    // exactly as q187.
    "q195_semantic_dedup" -> { (s, dir) =>
      val tau = 0.35 // the synthetic table's dup band (max pairwise 0.51)
      val k = corpusCells(s, dir)
      // repartition BEFORE the argmax-of-k-dots cell expression: the
      // corpus is one parquet file = one scan task, so without the
      // fan-out the k x 64-dim centroid dots run on a single core and
      // the checkpointed frame stays one partition for both pair sides
      val e = Synth.embeddings(s, dir)
        .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
        .select(col("vec_id"), col("embedding"))
        .withColumn("cell", expr(clusterExprSparkK("embedding", k)))
        .localCheckpoint() // feeds both pair sides + the final attach
      // pair generation via the checkpointed self-join (the measured
      // ReusedExchange shape — bucketPairs would collect embedding
      // arrays into per-cell lists; see COVERAGE.md bench notes r9)
      val a = e.select(col("cell"), col("vec_id").as("id_a"),
        col("embedding").as("emb_a"))
      val b = e.select(col("cell"), col("vec_id").as("id_b"),
        col("embedding").as("emb_b"))
      val edges = a.join(b.hint("shuffle_hash"), Seq("cell"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("cos", expr(Dedup.dot("emb_a", "emb_b")))
        .filter(col("cos") >= tau)
        .select(col("cell"), col("id_a"), col("id_b"))
      // Per-cell LOCAL closure (r12, guide §8 — use what the optimizer
      // cannot know): every edge is within-cell by the join above, so
      // components never span cells and [[cellUnionFind]] computes the
      // identical min-id fixpoint in ONE aggregation over the pair
      // join's existing hash(cell) partitioning — replacing the shared
      // distributed CC loop's edge checkpoint + sym build + propagate/
      // jump jobs (~8 jobs at this graph's depth; the loop remains the
      // right tool for q35/q61/q187, whose band-verified edges have no
      // blocking key bounding their components).
      val comp = cellClosure(edges)
      e.select(col("vec_id"), col("cell").cast("int").as("cell"))
        .join(comp, Seq("vec_id"), "left")
        .withColumn("sem_group", coalesce(col("comp"), col("vec_id")))
        .withColumn("keep", col("vec_id") === col("sem_group"))
        .withColumn("n_cells", lit(k).cast("int"))
        .select("vec_id", "cell", "sem_group", "keep", "n_cells")
        .orderBy("vec_id")
    },

    // Johnson–Lindenstrauss random-projection ANN: project the 64-dim
    // embeddings to 16 dims with a deterministic ±1 sign matrix (the
    // Achlioptas construction — ±1 entries preserve pairwise dots in
    // expectation at 1/4 the arithmetic and memory), rank candidates by
    // the PROJECTED dot product, and report recall@k against the exact
    // 64-dim ranking (the q46 measurement shape). This is the cheap
    // pre-filter tier of a production ANN stack: at 100 TB the projection
    // is a map-only pass that shrinks the vector bytes 4×
    // (scan/shuffle/cache all benefit), and the exact re-rank runs only
    // on the shortlist. Signs are md5-derived so both engines compute
    // bit-identical projections.
    "q107_random_projection" -> { (s, dir) =>
      val e = Synth.embeddings(s, dir)
      val pr = e.withColumn("proj", expr(projExprSpark("embedding")))
      val q = broadcast(pr.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("proj").as("q_proj")))
      val approx = q.crossJoin(pr)
        .withColumn("pdot", expr(Dedup.dot("q_proj", "proj")))
        .groupBy("query_id")
        .agg(expr(s"graft_topk(pdot, vec_id, $topK)").as("top"))
        .select(col("query_id"), posexplode(col("top")))
        .select(col("query_id"), col("col.id").as("vec_id"))
        .withColumn("hit", lit(1))
      val exact = rankTopK(e, None).select("query_id", "vec_id")
      exact.join(approx, Seq("query_id", "vec_id"), "left")
        .groupBy("query_id")
        .agg(count(col("hit")).as("n_hit"))
        .withColumn("recall",
          col("n_hit").cast("double") / lit(topK.toDouble))
        .select("query_id", "n_hit", "recall")
        .orderBy("query_id")
    },

    // Class-centroid cohesion — per-label centroid vs the global
    // centroid, the embedding-space health report (collapsed classes
    // score ≈ 1 everywhere; separated classes spread): components are
    // quantized to integer 1/1024ths (floor of an exact double product —
    // engine-identical), and because cos(centroid_a, centroid_b) =
    // cos(sum_a, sum_b) (the 1/n factors cancel), the whole measurement
    // reduces to exact bigint sums — Σ s_i·g_i, Σ s_i², Σ g_i² — with
    // two sqrt/one divide at the very end. Plan: one (label, dim)
    // shuffle of quantized components, dim-keyed rollup to the global
    // vector, label-sized final aggregates. The quantization scale is
    // part of the operator contract (it bounds Σ s_i² under bigint for
    // corpora to ~10⁹ vectors/label).
    "q168_centroid_cohesion" -> { (s, dir) =>
      val comp = Synth.embeddings(s, dir)
        .select(col("label"), posexplode(expr(
          "transform(embedding, x -> cast(floor(cast(x as double) * 1024) as bigint))"))
          .as(Seq("dim", "q")))
      val perLabel = comp.groupBy("label", "dim").agg(sum(col("q")).as("sl"))
      val global = perLabel.groupBy("dim").agg(sum(col("sl")).as("g"))
      val stats = perLabel.join(global, "dim")
        .groupBy("label")
        .agg(sum(expr("sl * g")).as("dot_sg"), sum(expr("sl * sl")).as("n2_s"))
      val gn = global.agg(sum(expr("g * g")).as("n2_g"))
      val counts = Synth.embeddings(s, dir)
        .groupBy("label").agg(count(lit(1)).as("n_vecs"))
      stats.join(counts, "label")
        .crossJoin(broadcast(gn))
        .withColumn("cos_to_global", expr(
          "cast(dot_sg as double) / " +
            "(sqrt(cast(n2_s as double)) * sqrt(cast(n2_g as double)))"))
        .select("label", "n_vecs", "cos_to_global")
        .orderBy("label")
    },

    // Matryoshka truncation recall — the dimension-ablation measurement
    // behind MRL-style embeddings (Kusupati et al. 2022): rank by the
    // dot product of just the FIRST 16 of 64 dimensions and report
    // recall@k against the exact full-dimension ranking (the q46/q107
    // measurement shape). The number that decides whether a 4× cheaper
    // prefix-truncated index tier is usable: truncation is a zero-cost
    // slice (no projection matrix at all — cheaper than q107's JL
    // signs), and at 100 TB the 16-dim prefix scan is 4× smaller in
    // bytes, shuffle, and cache.
    "q167_matryoshka_recall" -> { (s, dir) =>
      val e = Synth.embeddings(s, dir)
      val tr = e.withColumn("trunc", expr("slice(embedding, 1, 16)"))
      val q = broadcast(tr.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("trunc").as("q_tr")))
      val approx = q.crossJoin(tr)
        .withColumn("tdot", expr(Dedup.dot("q_tr", "trunc")))
        .groupBy("query_id")
        .agg(expr(s"graft_topk(tdot, vec_id, $topK)").as("top"))
        .select(col("query_id"), posexplode(col("top")))
        .select(col("query_id"), col("col.id").as("vec_id"))
        .withColumn("hit", lit(1))
      val exact = rankTopK(e, None).select("query_id", "vec_id")
      exact.join(approx, Seq("query_id", "vec_id"), "left")
        .groupBy("query_id")
        .agg(count(col("hit")).as("n_hit"))
        .withColumn("recall",
          col("n_hit").cast("double") / lit(topK.toDouble))
        .select("query_id", "n_hit", "recall")
        .orderBy("query_id")
    },

    // Binary quantization + Hamming shortlist + exact rerank — the
    // 1-bit-per-dimension compression tier below q116's int8: each
    // embedding collapses to its 64 sign bits packed into two BIGINTs
    // (32 bits each — the half-word split keeps every shifted literal
    // < 2^32, so neither engine can overflow a signed 64-bit lane), and
    // candidate distance is bit_count(xor) — 2 XORs + 2 popcounts per
    // pair instead of 64 fused multiply-adds, on 8 bytes instead of 256.
    // At 100 TB the packed fingerprints are a 32× smaller scan that fits
    // page cache, the Hamming pass is map-only against broadcast query
    // words, and only the 50-deep shortlist pays the full-precision
    // cosine. Everything up to the final cosine is integer arithmetic —
    // hash-exact across engines.
    "q118_binary_hamming" -> { (s, dir) =>
      val e = Synth.embeddings(s, dir)
        .withColumn("w0", expr(packHalfSpark(0)))
        .withColumn("w1", expr(packHalfSpark(1)))
      val q = broadcast(e.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
          col("w0").as("q0"), col("w1").as("q1")))
      val short = q.crossJoin(e)
        .withColumn("hamming",
          expr("bit_count(q0 ^ w0) + bit_count(q1 ^ w1)"))
        .groupBy("query_id")
        .agg(expr(
          s"graft_topk(cast(-hamming as double), vec_id, $hammingShortlist)")
          .as("top"))
        .select(col("query_id"), explode(col("top")).as("c"))
        .select(col("query_id"), col("c.id").as("vec_id"),
          (-col("c.score")).cast("int").as("hamming"))
      short.join(e, "vec_id")
        .join(q.select(col("query_id"), col("q_emb")), "query_id")
        .withColumn("cosine", expr(Dedup.dot("q_emb", "embedding")))
        .groupBy("query_id")
        .agg(expr(s"graft_topk(cosine, vec_id, $topK)").as("top"))
        .select(col("query_id"), posexplode(col("top")))
        .select(col("query_id"), (col("pos") + 1).cast("int").as("rk"),
          col("col.id").as("vec_id"), col("col.score").as("cosine"))
        .orderBy("query_id", "rk")
    },

    // IVF-style ANN: assign every vector to its nearest pseudo-centroid
    // (map-only argmax over k dot products), then search only the query's
    // cluster. With real (trained) centroids this is the standard IVF
    // index shape: candidate set shrinks by ~n/k, assignment is a narrow
    // scan, and the cluster column doubles as the partitioning key for
    // co-located search at scale. k is corpus-derived ([[cellCountFor]],
    // r10 verdict #2) and emitted as n_cells — both engines compute it,
    // so the derivation itself is oracle-checked.
    "q42_knn_ivf" -> { (s, dir) =>
      val k = corpusCells(s, dir)
      val e = Synth.embeddings(s, dir)
        .withColumn("cluster", expr(clusterExprSparkK("embedding", k)))
      rankTopK(e, Some("cluster"))
        .withColumn("n_cells", lit(k).cast("int"))
        .orderBy("query_id", "rk")
    },

    // ColBERT-style LATE INTERACTION (MaxSim) — multi-vector retrieval:
    // a query is a SET of token vectors (vec_ids 0-2 here) and a
    // document a SET of vectors (each label's members), scored
    // sim(Q, D) = Σ_{q∈Q} max_{d∈D} ⟨q, d⟩ — the late-interaction
    // operator single-vector ANN (q40-q48) cannot express: per query
    // token the BEST-matching doc vector wins, so one strong token
    // match isn't averaged away. Plan shape: the 3 query vectors
    // broadcast, the corpus pass is map-only (3 dots per vector), the
    // per-(doc, token) maxes are map-side-combinable aggregates, and
    // the final Σ is a FIXED-ORDER (m0 + m1) + m2 of exact
    // correctly-rounded doubles — hash-exact. At production scale each
    // query token routes through an ANN probe (q43b/q175) and this
    // same MaxSim tail scores the union of shortlists.
    "q180_late_interaction" -> { (s, dir) =>
      val e = Synth.embeddings(s, dir)
      val q = broadcast(e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("q_idx"), col("embedding").as("q_emb")))
      e.select(col("label"), col("embedding")).crossJoin(q)
        .withColumn("d", expr(Dedup.dot("q_emb", "embedding")))
        .groupBy("label")
        .agg(
          max(when(col("q_idx") === 0, col("d"))).as("m0"),
          max(when(col("q_idx") === 1, col("d"))).as("m1"),
          max(when(col("q_idx") === 2, col("d"))).as("m2"))
        .withColumn("maxsim", (col("m0") + col("m1")) + col("m2"))
        .select("label", "m0", "m1", "m2", "maxsim")
        .orderBy(col("maxsim").desc, col("label"))
    },

    // TWO-TIER Matryoshka + IVF search — the production composition of
    // q167 (prefix-truncation ranking) and q42 (IVF routing), the index
    // the MRL paper actually ships: ROUTE on the cheap tier (cluster
    // assignment AND shortlist ranking both use only the first 16 of 64
    // dimensions — a 4× smaller scan), then RERANK only the 50-deep
    // shortlist at full width. Emitted: recall@10 of the tiered result
    // against the exact full-width ranking (the number that decides
    // whether the 4× cheaper tier is usable), per query. Plan shape at
    // 100 TB: both tier passes are map-only against broadcast queries
    // (the cluster join key rides the corpus scan), every ranking is the
    // bounded-heap graft_topk — only shortlist·|queries| rows ever reach
    // a shuffle, and the corpus side adds NO new shuffle over q42's.
    "q175_tiered_ann" -> { (s, dir) =>
      val e = Synth.embeddings(s, dir)
        .withColumn("trunc", expr("slice(embedding, 1, 16)"))
        .withColumn("cl", expr(cluster16ExprSpark("trunc")))
      val qT = broadcast(e.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("trunc").as("q_tr"),
          col("cl")))
      val short = qT.join(e, "cl")
        .withColumn("tdot", expr(Dedup.dot("q_tr", "trunc")))
        .groupBy("query_id")
        .agg(expr(s"graft_topk(tdot, vec_id, $tieredShortlist)").as("top"))
        .select(col("query_id"), explode(col("top")).as("c"))
        .select(col("query_id"), col("c.id").as("vec_id"))
      val qF = broadcast(e.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb")))
      val tiered = short
        .join(e.select(col("vec_id"), col("embedding")), "vec_id")
        .join(qF, "query_id")
        .withColumn("cosine", expr(Dedup.dot("q_emb", "embedding")))
        .groupBy("query_id")
        .agg(expr(s"graft_topk(cosine, vec_id, $topK)").as("top"))
        .select(col("query_id"), explode(col("top")).as("c"))
        .select(col("query_id"), col("c.id").as("vec_id"))
        .withColumn("hit", lit(1))
      rankTopK(e, None).select("query_id", "vec_id")
        .join(tiered, Seq("query_id", "vec_id"), "left")
        .groupBy("query_id")
        .agg(count(col("hit")).as("n_hit"))
        .withColumn("recall",
          col("n_hit").cast("double") / lit(topK.toDouble))
        .select("query_id", "n_hit", "recall")
        .orderBy("query_id")
    }
  )

  /** q175's shortlist depth — the full-width rerank budget per query.
    * 50 of ~n/8 cluster members keeps the expensive tier trivially
    * small while giving the 16-dim router 5× headroom over top-10.
    */
  private val tieredShortlist = 50

  /** 1-based argmax cluster over the FIRST-16-DIM centroid prefixes —
    * q175's cheap router (the full-width assignment is
    * [[clusterExprSpark]]).
    */
  private def centroidArray16Spark(c: Int): String =
    centroids(c).take(16).map(w => s"${w}D").mkString("array(", ", ", ")")
  private def centroidArray16Duck(c: Int): String =
    centroids(c).take(16).mkString("[", ", ", "]")
  private[operators] def cluster16ExprSpark(col: String): String = {
    val ds = (0 until nCentroids)
      .map(c => Dedup.dot(col, centroidArray16Spark(c)))
      .mkString("array(", ", ", ")")
    s"array_position($ds, array_max($ds))"
  }
  private[operators] def cluster16ExprDuck(col: String): String = {
    val ds = (0 until nCentroids)
      .map(c => dotDuck(col, centroidArray16Duck(c)))
      .mkString("[", ", ", "]")
    s"cast(list_position($ds, list_max($ds)) as bigint)"
  }

  private[operators] val normCosExpr =
    // ONE rendering of the normalized cosine, shared comment for both
    // engines: dot / (sqrt(|a|²) · sqrt(|b|²)). Every step — the
    // left-fold dot, both sqrts, the multiply, the divide — is an IEEE
    // correctly-rounded double op in a fixed order, so the doubles are
    // engine-identical without any decimal quantization.
    (a: String, b: String, dot: (String, String) => String) =>
      s"${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))"

  def queriesNormalized: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TRUE cosine (normalized, not the raw dot the other ANN queries
    // rank by — those operate on unit-normalized synthetic data where
    // dot ≡ cosine; this one proves the full normalization path): top-20
    // neighbors of one broadcast query vector under dot/(‖a‖‖b‖).
    // Map-only scan + one broadcast row + bounded-heap ranking.
    "q53_true_cosine" -> { (s, dir) =>
      val e = Synth.embeddings(s, dir)
      val q = broadcast(e.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb")))
      e.crossJoin(q)
        .filter(col("vec_id") =!= 0)
        .withColumn("cosine",
          expr(normCosExpr("q_emb", "embedding", Dedup.dot)))
        .groupBy(lit(0).as("query_id"))
        .agg(expr("graft_topk(cosine, vec_id, 20)").as("top"))
        .select(col("query_id"), posexplode(col("top")))
        .select(col("query_id"), (col("pos") + 1).cast("int").as("rk"),
          col("col.id").as("vec_id"), col("col.score").as("cosine"))
        .orderBy("rk")
    },

    // Hard-negative mining — the contrastive-training batch-construction
    // primitive (DPR/SimCSE shape): for each query vector, the k
    // most-similar candidates that are (a) not the query itself, (b) a
    // DIFFERENT label (same-label rows are the positives), and (c) below
    // the near-duplicate ceiling (cosine ≥ 0.25 marks suspected
    // duplicates/label noise — excluded the way SemDeDup drops them).
    // What survives is the highest-similarity true negatives, the pairs
    // that move a contrastive loss most. Plan shape at 100 TB: the query
    // side broadcasts (queries are a sample, KBs), the corpus pass is
    // map-only, and graft_topk's bounded heap means only k·|queries|
    // rows ever reach the single shuffle — at production scale the
    // crossJoin swaps for an ANN index probe (q43b/q48b) with this same
    // filter+rank tail.
    "q105_hard_negatives" -> { (s, dir) =>
      val e = Synth.embeddings(s, dir)
      val q = broadcast(e.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
          col("label").as("q_label")))
      q.crossJoin(e)
        .filter(col("vec_id") =!= col("query_id") &&
          col("label") =!= col("q_label"))
        .withColumn("cosine",
          expr(normCosExpr("q_emb", "embedding", Dedup.dot)))
        .filter(col("cosine") < hardNegCeil)
        .groupBy("query_id")
        .agg(expr(s"graft_topk(cosine, vec_id, $topK)").as("top"))
        .select(col("query_id"), posexplode(col("top")))
        .select(col("query_id"), (col("pos") + 1).cast("int").as("rk"),
          col("col.id").as("vec_id"), col("col.score").as("cosine"))
        .orderBy("query_id", "rk")
    }
  )

  /** q105's near-duplicate ceiling: ~the 98th percentile of the corpus
    * cosine distribution (max pairwise cosine here is 0.39) — high enough
    * to keep real hard negatives, low enough to actually exclude rows at
    * every scale factor. The `<` comparison is engine-safe because both
    * sides compute the identical fixed-order IEEE double (normCosExpr).
    */
  private val hardNegCeil = 0.25

  def oracleNormalized: Map[String, String] = Map(
    "q53_true_cosine" -> {
      val cos = normCosExpr("q.embedding", "e.embedding", dotDuck)
      s"""SELECT 0 AS query_id,
         |  cast(row_number() OVER (ORDER BY $cos DESC, e.vec_id) as int) AS rk,
         |  e.vec_id AS vec_id, $cos AS cosine
         |FROM embeddings e CROSS JOIN (
         |  SELECT embedding FROM embeddings WHERE vec_id = 0) q
         |WHERE e.vec_id <> 0
         |ORDER BY rk LIMIT 20""".stripMargin
    },

    "q105_hard_negatives" -> {
      val cos = normCosExpr("q.embedding", "e.embedding", dotDuck)
      s"""SELECT query_id, rk, vec_id, cosine FROM (
         | SELECT q.vec_id AS query_id, e.vec_id AS vec_id, $cos AS cosine,
         |  cast(row_number() OVER (PARTITION BY q.vec_id
         |    ORDER BY $cos DESC, e.vec_id) as int) AS rk
         | FROM embeddings q CROSS JOIN embeddings e
         | WHERE q.vec_id < $nQueries AND e.vec_id <> q.vec_id
         |   AND e.label <> q.label AND $cos < $hardNegCeil)
         |WHERE rk <= $topK ORDER BY query_id, rk""".stripMargin
    }
  )

  def oracle: Map[String, String] = oracleNormalized ++ Map(
    "q40_knn_brute" ->
      s"""SELECT query_id, rk, vec_id, cosine FROM (
         | SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
         |  ${dotDuck("q.embedding", "e.embedding")} AS cosine,
         |  cast(row_number() OVER (PARTITION BY q.vec_id
         |    ORDER BY ${dotDuck("q.embedding", "e.embedding")} DESC, e.vec_id) as int) AS rk
         | FROM embeddings q CROSS JOIN embeddings e
         | WHERE q.vec_id < $nQueries)
         |WHERE rk <= $topK ORDER BY query_id, rk""".stripMargin,

    "q41_knn_lsh" ->
      s"""WITH b AS (
         | SELECT vec_id, embedding, ${bucketExprDuck("embedding")} AS bucket
         | FROM embeddings)
         |SELECT query_id, rk, vec_id, cosine FROM (
         | SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
         |  ${dotDuck("q.embedding", "e.embedding")} AS cosine,
         |  cast(row_number() OVER (PARTITION BY q.vec_id
         |    ORDER BY ${dotDuck("q.embedding", "e.embedding")} DESC, e.vec_id) as int) AS rk
         | FROM b q JOIN b e ON q.bucket = e.bucket
         | WHERE q.vec_id < $nQueries)
         |WHERE rk <= $topK ORDER BY query_id, rk""".stripMargin,

    "q41b_knn_multiprobe" -> {
      val flips = (0 until nPlanes).map { i =>
        s"concat(substring(bucket, 1, $i), " +
          s"CASE WHEN substring(bucket, ${i + 1}, 1) = '1' THEN '0' ELSE '1' END, " +
          s"substring(bucket, ${i + 2}, ${nPlanes - i - 1}))"
      }
      s"""WITH b AS (
         | SELECT vec_id, embedding, ${bucketExprDuck("embedding")} AS bucket
         | FROM embeddings),
         |probes AS (
         | SELECT vec_id AS query_id, embedding AS q_emb,
         |  unnest([bucket, ${flips.mkString(", ")}]) AS bucket
         | FROM b WHERE vec_id < $nQueries)
         |SELECT query_id, rk, vec_id, cosine FROM (
         | SELECT p.query_id, e.vec_id AS vec_id,
         |  ${dotDuck("p.q_emb", "e.embedding")} AS cosine,
         |  cast(row_number() OVER (PARTITION BY p.query_id
         |    ORDER BY ${dotDuck("p.q_emb", "e.embedding")} DESC, e.vec_id) as int) AS rk
         | FROM probes p JOIN b e ON p.bucket = e.bucket)
         |WHERE rk <= $topK ORDER BY query_id, rk""".stripMargin
    },

    "q46_ann_recall" ->
      s"""WITH ex AS (
         | SELECT query_id, vec_id FROM (
         |  SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
         |   row_number() OVER (PARTITION BY q.vec_id
         |     ORDER BY ${dotDuck("q.embedding", "e.embedding")} DESC, e.vec_id) AS rk
         |  FROM embeddings q CROSS JOIN embeddings e
         |  WHERE q.vec_id < $nQueries)
         | WHERE rk <= $topK),
         |b AS (
         | SELECT vec_id, embedding, ${bucketExprDuck("embedding")} AS bucket
         | FROM embeddings),
         |ap AS (
         | SELECT query_id, vec_id FROM (
         |  SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
         |   row_number() OVER (PARTITION BY q.vec_id
         |     ORDER BY ${dotDuck("q.embedding", "e.embedding")} DESC, e.vec_id) AS rk
         |  FROM b q JOIN b e ON q.bucket = e.bucket
         |  WHERE q.vec_id < $nQueries)
         | WHERE rk <= $topK)
         |SELECT ex.query_id AS query_id,
         |  cast(count(ap.vec_id) as bigint) AS n_hit,
         |  cast(count(ap.vec_id) as double) / $topK AS recall
         |FROM ex LEFT JOIN ap
         |  ON ap.query_id = ex.query_id AND ap.vec_id = ex.vec_id
         |GROUP BY ex.query_id ORDER BY query_id""".stripMargin,

    "q195_semantic_dedup" ->
      s"""WITH RECURSIVE ${cellAssignCtesDuck()},
         |b AS (
         | SELECT e.vec_id, e.embedding, a.cell
         | FROM embeddings e JOIN cassign a USING (vec_id)),
         |edges AS (
         | SELECT a.vec_id AS src, bb.vec_id AS dst
         | FROM b a JOIN b bb ON a.cell = bb.cell AND a.vec_id < bb.vec_id
         | WHERE ${dotDuck("a.embedding", "bb.embedding")} >= 0.35),
         |sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
         |reach(src, dst) AS (
         | SELECT src, dst FROM sym
         | UNION
         | SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src)
         |SELECT e.vec_id AS vec_id, cast(e.cell as int) AS cell,
         | least(e.vec_id, coalesce(min(r.dst), e.vec_id)) AS sem_group,
         | e.vec_id = least(e.vec_id, coalesce(min(r.dst), e.vec_id)) AS keep,
         | (SELECT cast(k as int) FROM params) AS n_cells
         |FROM b e LEFT JOIN reach r ON r.src = e.vec_id
         |GROUP BY e.vec_id, e.cell ORDER BY vec_id""".stripMargin,

    "q192_ann_frontier" -> {
      import ProductQuantization.{nSub => pqSub}
      val codeCols = (0 until pqSub)
        .map(m => s"${ProductQuantization.codeDuck("embedding", m)} AS code$m")
        .mkString(",\n  ")
      val tabCols = (0 until pqSub)
        .map(m => s"${ProductQuantization.tableDuck("embedding", m)} AS tab$m")
        .mkString(",\n  ")
      val adc = (0 until pqSub)
        .map(m => s"q.tab$m[cast(e.code$m as int)]")
        .reduce((a, b) => s"($a + $b)")
      val flips = (0 until nPlanes).map { i =>
        s"concat(substring(bucket, 1, $i), " +
          s"CASE WHEN substring(bucket, ${i + 1}, 1) = '1' THEN '0' ELSE '1' END, " +
          s"substring(bucket, ${i + 2}, ${nPlanes - i - 1}))"
      }
      def rep(f: String) =
        s"""rep_$f AS (
           | SELECT '$f' AS family, n.query_id, n.n_cand,
           |  cast(count(ex.vec_id) as bigint) AS n_hit,
           |  cast(count(ex.vec_id) as double) / $topK AS recall
           | FROM (SELECT query_id, cast(count(*) as bigint) AS n_cand
           |       FROM cand_$f GROUP BY query_id) n
           | JOIN top_$f t ON t.query_id = n.query_id
           | LEFT JOIN ex ON ex.query_id = t.query_id AND ex.vec_id = t.vec_id
           | GROUP BY n.query_id, n.n_cand)""".stripMargin
      def top(f: String) =
        s"""top_$f AS (
           | SELECT query_id, vec_id FROM (
           |  SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
           |    ORDER BY score DESC, vec_id) AS rk FROM cand_$f)
           | WHERE rk <= $topK)""".stripMargin
      s"""WITH b AS (
         | SELECT vec_id, embedding,
         |  ${bucketExprDuck("embedding")} AS bucket,
         |  ${clusterExprDuck("embedding")} AS cluster,
         |  $codeCols
         | FROM embeddings),
         |qt AS (
         | SELECT vec_id AS query_id, $tabCols
         | FROM embeddings WHERE vec_id < $nQueries),
         |ex AS (
         | SELECT query_id, vec_id FROM (
         |  SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
         |   row_number() OVER (PARTITION BY q.vec_id
         |     ORDER BY ${dotDuck("q.embedding", "e.embedding")} DESC, e.vec_id) AS rk
         |  FROM embeddings q CROSS JOIN embeddings e
         |  WHERE q.vec_id < $nQueries)
         | WHERE rk <= $topK),
         |cand_brute AS (
         | SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
         |  ${dotDuck("q.embedding", "e.embedding")} AS score
         | FROM embeddings q CROSS JOIN embeddings e WHERE q.vec_id < $nQueries),
         |cand_lsh AS (
         | SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
         |  ${dotDuck("q.embedding", "e.embedding")} AS score
         | FROM b q JOIN b e ON q.bucket = e.bucket WHERE q.vec_id < $nQueries),
         |probes AS (
         | SELECT vec_id AS query_id, embedding AS q_emb,
         |  unnest([bucket, ${flips.mkString(", ")}]) AS bucket
         | FROM b WHERE vec_id < $nQueries),
         |cand_multiprobe AS (
         | SELECT p.query_id, e.vec_id AS vec_id,
         |  ${dotDuck("p.q_emb", "e.embedding")} AS score
         | FROM probes p JOIN b e ON p.bucket = e.bucket),
         |cand_ivf AS (
         | SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
         |  ${dotDuck("q.embedding", "e.embedding")} AS score
         | FROM b q JOIN b e ON q.cluster = e.cluster WHERE q.vec_id < $nQueries),
         |cand_pq_adc AS (
         | SELECT q.query_id, e.vec_id AS vec_id, $adc AS score
         | FROM qt q CROSS JOIN b e),
         |${top("brute")}, ${top("lsh")}, ${top("multiprobe")},
         |${top("ivf")}, ${top("pq_adc")},
         |${rep("brute")}, ${rep("lsh")}, ${rep("multiprobe")},
         |${rep("ivf")}, ${rep("pq_adc")}
         |SELECT * FROM rep_brute
         |UNION ALL SELECT * FROM rep_lsh
         |UNION ALL SELECT * FROM rep_multiprobe
         |UNION ALL SELECT * FROM rep_ivf
         |UNION ALL SELECT * FROM rep_pq_adc
         |ORDER BY family, query_id""".stripMargin
    },

    "q107_random_projection" ->
      s"""WITH pr AS (
         | SELECT vec_id, embedding, ${projExprDuck("embedding")} AS proj
         | FROM embeddings),
         |ex AS (
         | SELECT query_id, vec_id FROM (
         |  SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
         |   row_number() OVER (PARTITION BY q.vec_id
         |     ORDER BY ${dotDuck("q.embedding", "e.embedding")} DESC, e.vec_id) AS rk
         |  FROM embeddings q CROSS JOIN embeddings e
         |  WHERE q.vec_id < $nQueries)
         | WHERE rk <= $topK),
         |ap AS (
         | SELECT query_id, vec_id FROM (
         |  SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
         |   row_number() OVER (PARTITION BY q.vec_id
         |     ORDER BY ${dotDuck("q.proj", "e.proj")} DESC, e.vec_id) AS rk
         |  FROM pr q CROSS JOIN pr e
         |  WHERE q.vec_id < $nQueries)
         | WHERE rk <= $topK)
         |SELECT ex.query_id AS query_id,
         |  cast(count(ap.vec_id) as bigint) AS n_hit,
         |  cast(count(ap.vec_id) as double) / $topK AS recall
         |FROM ex LEFT JOIN ap
         |  ON ap.query_id = ex.query_id AND ap.vec_id = ex.vec_id
         |GROUP BY ex.query_id ORDER BY query_id""".stripMargin,

    "q168_centroid_cohesion" ->
      """WITH comp AS (
        |  SELECT label, i AS dim,
        |    cast(floor(cast(embedding[i] as double) * 1024) as bigint) AS q
        |  FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i)),
        |per_label AS (
        |  SELECT label, dim, cast(sum(q) as bigint) AS sl
        |  FROM comp GROUP BY 1, 2),
        |gsum AS (
        |  SELECT dim, cast(sum(sl) as bigint) AS g
        |  FROM per_label GROUP BY 1),
        |stats AS (
        |  SELECT label, cast(sum(sl * g) as bigint) AS dot_sg,
        |    cast(sum(sl * sl) as bigint) AS n2_s
        |  FROM per_label JOIN gsum USING (dim) GROUP BY label),
        |gn AS (SELECT cast(sum(g * g) as bigint) AS n2_g FROM gsum),
        |counts AS (SELECT label, count(*) AS n_vecs FROM embeddings GROUP BY 1)
        |SELECT s.label AS label, n_vecs,
        |  cast(dot_sg as double)
        |    / (sqrt(cast(n2_s as double)) * sqrt(cast((SELECT n2_g FROM gn)
        |      as double))) AS cos_to_global
        |FROM stats s JOIN counts USING (label)
        |ORDER BY label""".stripMargin,

    "q167_matryoshka_recall" ->
      s"""WITH tr AS (
         | SELECT vec_id, embedding, list_slice(embedding, 1, 16) AS trunc
         | FROM embeddings),
         |ex AS (
         | SELECT query_id, vec_id FROM (
         |  SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
         |   row_number() OVER (PARTITION BY q.vec_id
         |     ORDER BY ${dotDuck("q.embedding", "e.embedding")} DESC, e.vec_id) AS rk
         |  FROM embeddings q CROSS JOIN embeddings e
         |  WHERE q.vec_id < $nQueries)
         | WHERE rk <= $topK),
         |ap AS (
         | SELECT query_id, vec_id FROM (
         |  SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
         |   row_number() OVER (PARTITION BY q.vec_id
         |     ORDER BY ${dotDuck("q.trunc", "e.trunc")} DESC, e.vec_id) AS rk
         |  FROM tr q CROSS JOIN tr e
         |  WHERE q.vec_id < $nQueries)
         | WHERE rk <= $topK)
         |SELECT ex.query_id AS query_id,
         |  cast(count(ap.vec_id) as bigint) AS n_hit,
         |  cast(count(ap.vec_id) as double) / $topK AS recall
         |FROM ex LEFT JOIN ap
         |  ON ap.query_id = ex.query_id AND ap.vec_id = ex.vec_id
         |GROUP BY ex.query_id ORDER BY query_id""".stripMargin,

    "q118_binary_hamming" -> {
      val ham = "(bit_count(xor(q.w0, e.w0)) + bit_count(xor(q.w1, e.w1)))"
      s"""WITH p AS (
         | SELECT vec_id, embedding,
         |  ${packHalfDuck("embedding", 0)} AS w0,
         |  ${packHalfDuck("embedding", 1)} AS w1
         | FROM embeddings),
         |short AS (
         | SELECT query_id, vec_id FROM (
         |  SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
         |   row_number() OVER (PARTITION BY q.vec_id
         |     ORDER BY $ham ASC, e.vec_id) AS srk
         |  FROM p q CROSS JOIN p e
         |  WHERE q.vec_id < $nQueries)
         | WHERE srk <= $hammingShortlist)
         |SELECT query_id, rk, vec_id, cosine FROM (
         | SELECT s.query_id, s.vec_id,
         |  ${dotDuck("q.embedding", "e.embedding")} AS cosine,
         |  cast(row_number() OVER (PARTITION BY s.query_id
         |    ORDER BY ${dotDuck("q.embedding", "e.embedding")} DESC,
         |      s.vec_id) as int) AS rk
         | FROM short s
         |  JOIN embeddings e ON e.vec_id = s.vec_id
         |  JOIN embeddings q ON q.vec_id = s.query_id)
         |WHERE rk <= $topK ORDER BY query_id, rk""".stripMargin
    },

    "q42_knn_ivf" ->
      s"""WITH ${cellAssignCtesDuck()},
         |c AS (
         | SELECT e.vec_id, e.embedding, a.cell AS cluster
         | FROM embeddings e JOIN cassign a USING (vec_id))
         |SELECT query_id, rk, vec_id, cosine,
         | (SELECT cast(k as int) FROM params) AS n_cells FROM (
         | SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
         |  ${dotDuck("q.embedding", "e.embedding")} AS cosine,
         |  cast(row_number() OVER (PARTITION BY q.vec_id
         |    ORDER BY ${dotDuck("q.embedding", "e.embedding")} DESC, e.vec_id) as int) AS rk
         | FROM c q JOIN c e ON q.cluster = e.cluster
         | WHERE q.vec_id < $nQueries)
         |WHERE rk <= $topK ORDER BY query_id, rk""".stripMargin,

    // the same per-(label, query-token) maxes; the Σ keeps the fixed
    // (m0 + m1) + m2 nesting so the doubles are engine-identical
    "q180_late_interaction" ->
      s"""WITH q AS (
         | SELECT vec_id AS q_idx, embedding AS q_emb
         | FROM embeddings WHERE vec_id < 3),
         |d AS (
         | SELECT e.label, q.q_idx,
         |  ${dotDuck("q.q_emb", "e.embedding")} AS d
         | FROM embeddings e CROSS JOIN q),
         |m AS (
         | SELECT label,
         |  max(CASE WHEN q_idx = 0 THEN d END) AS m0,
         |  max(CASE WHEN q_idx = 1 THEN d END) AS m1,
         |  max(CASE WHEN q_idx = 2 THEN d END) AS m2
         | FROM d GROUP BY label)
         |SELECT label, m0, m1, m2, (m0 + m1) + m2 AS maxsim
         |FROM m ORDER BY maxsim DESC, label""".stripMargin,

    // route on 16-dim prefixes (cluster + shortlist), rerank the
    // shortlist full-width, score against the exact full ranking
    "q175_tiered_ann" ->
      s"""WITH c AS (
         | SELECT vec_id, embedding, list_slice(embedding, 1, 16) AS trunc,
         |  ${cluster16ExprDuck("list_slice(embedding, 1, 16)")} AS cl
         | FROM embeddings),
         |short AS (
         | SELECT query_id, vec_id FROM (
         |  SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
         |   row_number() OVER (PARTITION BY q.vec_id
         |     ORDER BY ${dotDuck("q.trunc", "e.trunc")} DESC, e.vec_id) AS srk
         |  FROM c q JOIN c e ON q.cl = e.cl
         |  WHERE q.vec_id < $nQueries)
         | WHERE srk <= $tieredShortlist),
         |ap AS (
         | SELECT query_id, vec_id FROM (
         |  SELECT s.query_id, s.vec_id,
         |   row_number() OVER (PARTITION BY s.query_id
         |     ORDER BY ${dotDuck("q.embedding", "e.embedding")} DESC,
         |       s.vec_id) AS rk
         |  FROM short s
         |   JOIN embeddings e ON e.vec_id = s.vec_id
         |   JOIN embeddings q ON q.vec_id = s.query_id)
         | WHERE rk <= $topK),
         |ex AS (
         | SELECT query_id, vec_id FROM (
         |  SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
         |   row_number() OVER (PARTITION BY q.vec_id
         |     ORDER BY ${dotDuck("q.embedding", "e.embedding")} DESC, e.vec_id) AS rk
         |  FROM embeddings q CROSS JOIN embeddings e
         |  WHERE q.vec_id < $nQueries)
         | WHERE rk <= $topK)
         |SELECT ex.query_id AS query_id,
         |  cast(count(ap.vec_id) as bigint) AS n_hit,
         |  cast(count(ap.vec_id) as double) / $topK AS recall
         |FROM ex LEFT JOIN ap
         |  ON ap.query_id = ex.query_id AND ap.vec_id = ex.vec_id
         |GROUP BY ex.query_id ORDER BY query_id""".stripMargin
  )
}
