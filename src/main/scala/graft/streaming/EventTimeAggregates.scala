package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Event-time streaming aggregates. The reference runs NoWindowing
  * (SURVEY T1) — these are the engine capabilities beyond parity that any
  * user of a streaming analytics engine expects: watermarked tumbling
  * windows and custom keyed state.
  *
  * State sizing at scale: watermarks bound the window state to
  * (watermark / window) buckets per key; the sessionizer keeps one small
  * struct per active user and expires it via event-time timeout, so state
  * is O(active keys), never O(events).
  */
object EventTimeAggregates {

  /** Tumbling-window counts/sums per event_type. Late data beyond the
    * watermark is dropped; windows finalize (Append mode) once the
    * watermark passes their end.
    */
  def windowedCounts(
      events: DataFrame,
      windowLength: String = "10 minutes",
      watermarkDelay: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Streaming exact dedup — the streaming twin of q30: drop rows whose
    * `event_id` was already seen within the watermark horizon.
    * `dropDuplicatesWithinWatermark` (not plain dropDuplicates) keys the
    * state TTL to the watermark, so state is O(events per watermark
    * window), never O(all ids ever seen) — the only dedup that survives an
    * unbounded 100 TB stream. Trade-off (same as the reference's
    * at-least-once contract): an id recurring after the horizon passes
    * again.
    */
  def streamingDedup(
      events: DataFrame,
      watermarkDelay: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming corpus curation — the streaming twin of the batch
    * q60/q64 funnel: quality gate (map-only) → watermark-bounded exact
    * dedup on the content hash → temperature sampling via a
    * STREAM-STATIC join against a precomputed per-language threshold
    * table. A streaming job cannot see global language counts, so
    * production computes thresholds offline from the existing corpus
    * (exactly [[graft.operators.Curation]]'s q64 aggregation) and the
    * static side broadcasts into every micro-batch. Dedup state is
    * O(docs per watermark window); everything else is stateless.
    *
    * `docs` columns: doc_id, text, lang, ts (event time).
    * `langThresholds` columns: lang, thresh (u32 keep threshold).
    */
  def streamingCuration(
      docs: DataFrame,
      langThresholds: DataFrame,
      minChars: Int,
      watermarkDelay: String = "30 minutes"): DataFrame =
    docs
      .filter(length(trim(col("text"))) >= minChars)
      .withColumn("content_hash", md5(col("text").cast("binary")))
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("content_hash")
      .withColumn("sample_u", expr(
        graft.operators.Curation.u32Spark("resample:", "cast(doc_id as string)")))
      .join(broadcast(langThresholds), "lang")
      .filter(col("sample_u") < col("thresh"))
      .select("doc_id", "lang", "content_hash", "sample_u")

  /** Streaming ANN probe — online retrieval against the persisted IVF
    * index ([[graft.operators.AnnIndex]] layout): a stream of query
    * vectors stream-static joins the index on the cluster id and each
    * query's top-k ranks via the bounded-heap `graft_topk` aggregate, so
    * only k rows per query ever hold state. The static side is a plain
    * (bucketed, in production) table joined into every micro-batch —
    * Spark re-plans the static scan per batch, so IVF bucket pruning
    * applies batch by batch. Update output mode: a query's top-k emits
    * when its micro-batch completes (each query_id arrives once).
    *
    * `queries` (streaming): query_id, q_emb, cid. `index` (static):
    * vec_id, embedding, cid.
    */
  def streamingAnnProbe(queries: DataFrame, index: DataFrame, k: Int): DataFrame = {
    queries.join(index, "cid")
      .withColumn("cosine", expr(graft.operators.Dedup.dot("q_emb", "embedding")))
      .groupBy("query_id")
      .agg(expr(s"graft_topk(cosine, vec_id, $k)").as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rk"),
        col("col.id").as("vec_id"), col("col.score").as("cosine"))
  }

  /** Streaming incremental dedup — the streaming twin of q62/q62b: each
    * micro-batch of arriving docs is minhash-banded (map-only native
    * signatures) and stream-static joined against the PERSISTED corpus
    * band index ([[graft.operators.DedupIndex]] layout) on (band,
    * bucket); band collisions verify at exact Jaccard against the static
    * corpus-shingle table, and each duplicate emits with its canonical
    * `dup_of` (min colliding corpus id). Everything is stateless per
    * micro-batch except the final per-doc min — Update mode, one row of
    * state per in-flight doc (each doc_id arrives once). The corpus
    * side's bucketing satisfies the join distribution exactly as in the
    * batch path, so arriving batches never shuffle the corpus.
    *
    * `docs` (streaming): doc_id, text. `index` (static): doc_id, band,
    * bucket. `corpusShingles` (static): doc_id, sh. Emits only verified
    * duplicates: (doc_id, dup_of).
    */
  def streamingIncrementalDedup(
      docs: DataFrame,
      index: DataFrame,
      corpusShingles: DataFrame,
      threshold: Double = 0.8): DataFrame = {
    // the shingle array rides along with the band rows: verifying via a
    // join back to the stream's own shingle pass would be a stream-stream
    // self-join (unsupported in Update mode); carrying the column keeps
    // every join below stream-static
    val bands = graft.operators.Dedup.bandBucketsWithShingles(
      docs.select(col("doc_id"),
        expr(s"graft_shingles(${graft.operators.Dedup.toks}, 3)").as("sh")))
      .select(col("doc_id").as("id_new"), col("sh").as("sh_n"),
        col("band"), col("bucket"))
    bands.join(
      index.select(col("doc_id").as("id_old"), col("band"), col("bucket")),
      Seq("band", "bucket"))
      .join(corpusShingles.select(col("doc_id").as("id_old"), col("sh").as("sh_o")),
        "id_old")
      .withColumn("inter", expr("size(array_intersect(sh_n, sh_o))"))
      .withColumn("jaccard", col("inter").cast("double") /
        (expr("size(sh_n)") + expr("size(sh_o)") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .groupBy(col("id_new").as("doc_id"))
      .agg(min(col("id_old")).as("dup_of"))
  }

  /** One doc retained in a band bucket's state. */
  final case class SeenDoc(id: Long, sh: Seq[String])
  /** Per-(band, bucket) state: docs seen in this bucket so far, capped. */
  final case class BucketState(docs: Seq[SeenDoc])
  /** A banded arriving doc (shingles ride along for in-op verify). */
  final case class BandDoc(doc_id: Long, sh: Seq[String], band: Int, bucket: String)
  /** An undirected near-dup edge. */
  final case class ClusterEdge(src: Long, dst: Long)

  /** Streaming twin of q187's incremental cluster maintenance, stage 1:
    * the VERIFIED EDGE stream. Three branches, unioned:
    *
    *   - new-old: arriving docs minhash-band (map-only) and stream-static
    *     join the PERSISTED corpus band index on (band, bucket), then
    *     verify at exact Jaccard against the static corpus-shingle table
    *     — identical to [[streamingIncrementalDedup]]'s probe.
    *   - new-new ACROSS MICRO-BATCHES: flatMapGroupsWithState keyed by
    *     (band, bucket); state is the docs previously seen in that
    *     bucket (shingles included, so the verify runs IN the operator —
    *     a join back to earlier batches would be a stream-stream
    *     self-join). State is bounded by `bucketCap` docs per bucket ×
    *     shingle-set size — the streaming rendering of the batch
    *     PostingCap hub guard, with the same recall trade at the cap.
    *     Runs on RocksDB exactly like every other stateful op here
    *     (RocksDbStateSpec).
    *   - a self-edge per arriving doc, which carries the batch's doc
    *     list to the map-maintenance sink so edge-less docs still get a
    *     singleton cluster row.
    *
    * The edges are NOT contracted here: endpoint → current-rep lookup
    * must see the MAINTAINED map (reps merge as batches accumulate), so
    * it happens inside the [[mergeClusterBatch]] foreachBatch sink, not
    * against a static snapshot.
    *
    * `docs` (streaming): doc_id, text. `index` (static): doc_id, band,
    * bucket. `corpusShingles` (static): doc_id, sh.
    */
  def streamingClusterEdges(
      docs: DataFrame,
      index: DataFrame,
      corpusShingles: DataFrame,
      threshold: Double = 0.8,
      bucketCap: Int = 1024): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val bands = graft.operators.Dedup.bandBucketsWithShingles(
      docs.select(col("doc_id"),
        expr(s"graft_shingles(${graft.operators.Dedup.toks}, 3)").as("sh")))
    val newOld = bands
      .select(col("doc_id").as("id_new"), col("sh").as("sh_n"),
        col("band"), col("bucket"))
      .join(index.select(col("doc_id").as("id_old"), col("band"),
        col("bucket")), Seq("band", "bucket"))
      .join(corpusShingles.select(col("doc_id").as("id_old"),
        col("sh").as("sh_o")), "id_old")
      .withColumn("inter", expr("size(array_intersect(sh_n, sh_o))"))
      .withColumn("jaccard", col("inter").cast("double") /
        (expr("size(sh_n)") + expr("size(sh_o)") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_new").as("src"), col("id_old").as("dst"))
    val newNew = bands
      .select(col("doc_id"), col("sh"), col("band"), col("bucket"))
      .as[BandDoc]
      .groupByKey(b => (b.band, b.bucket))
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (_: (Int, String), rows: Iterator[BandDoc],
            state: GroupState[BucketState]) => {
          var seen = state.getOption.map(_.docs).getOrElse(Seq.empty)
          val out = Seq.newBuilder[ClusterEdge]
          // doc_id order keeps emission deterministic within a batch
          rows.toSeq.sortBy(_.doc_id).foreach { b =>
            if (!seen.exists(_.id == b.doc_id)) {
              // mirror the batch verify exactly: intersection counts
              // DISTINCT common shingles (array_intersect), the
              // denominator uses RAW array lengths
              val nSet = b.sh.toSet
              seen.foreach { o =>
                val inter = o.sh.toSet.count(nSet)
                val j = inter.toDouble / (b.sh.size + o.sh.size - inter)
                if (j >= threshold) out += ClusterEdge(b.doc_id, o.id)
              }
              if (seen.size < bucketCap) seen = seen :+ SeenDoc(b.doc_id, b.sh)
              else {
                // same overflow asymmetry as the semantic twin (r10
                // advice): the doc's own edges emitted, later same-bucket
                // arrivals miss edges to it — observable, never silent
                bandBucketOverflows.incrementAndGet()
                System.err.println(
                  s"[graft] band-bucket state at cap ($bucketCap): " +
                    s"doc ${b.doc_id} not stored — later same-bucket " +
                    "arrivals will miss edges to it")
              }
            }
          }
          state.update(BucketState(seen))
          out.result().iterator
        })
      .toDF("src", "dst")
    // from the PRE-banding doc stream — `bands` has one row per
    // (doc, band), which would emit nBands duplicate self-edges per doc
    // and tax every consumer's shuffle (r9 advice)
    val selfEdges = docs.select(col("doc_id").as("src"),
      col("doc_id").as("dst"))
    newOld.unionByName(newNew).unionByName(selfEdges)
  }

  final case class CellVec(vec_id: Long, cell: Int, emb: Seq[Float])

  final case class SeenVec(id: Long, emb: Seq[Float])

  final case class CellState(vecs: Seq[SeenVec])

  /** Streaming twin of q195 semantic dedup (r9 verdict #5) — the
    * embedding-space sibling of [[streamingClusterEdges]]: arriving
    * vectors are assigned their IVF cell with the SAME centroid-argmax
    * expression batch q195 uses (cells agree by construction), then
    *
    *  - new↔corpus edges come from a stream-static join against the
    *    cell-indexed corpus projection (refreshed offline like the band
    *    index) — within-cell only, cosine ≥ τ, the q195 blocking;
    *  - new↔new edges (same cell, possibly across micro-batches) come
    *    from per-cell `flatMapGroupsWithState`: bounded state of the
    *    cell's arrived vectors (≤ `cellCap`), the verify mirroring the
    *    batch dot exactly — index-order double accumulation, the
    *    [[graft.functions.VectorDot]] contract;
    *  - one self-edge per arriving vector seeds singleton clusters.
    *
    * Feed the output to [[mergeClusterBatch]] — the LSM cluster-map
    * maintenance is shared with the q187 twin unchanged. State is
    * O(cells touched × cellCap × dim floats); at 100 TB the cell count
    * grows with the corpus (finer k-means) so per-cell occupancy stays
    * bounded — the same argument as batch q195's pair work.
    *
    * `vecs` (streaming): vec_id, embedding. `corpus` (static): vec_id,
    * cell, embedding.
    *
    * Cap-overflow semantics (r10 advice): when a cell's state is already
    * at `cellCap`, an arriving vector STILL emits edges against the
    * stored vectors but is NOT added to state — every LATER same-cell
    * arrival misses its edge to the overflow vector, so stream output
    * diverges from batch q195 beyond the cap. That asymmetry is the
    * deliberate bound (unbounded state is the alternative), and it is
    * now observable: each overflow increments [[semanticCellOverflows]]
    * and logs the (cell, vec_id) once per vector, so an operator watching
    * the counter knows to grow the cell count (finer clustering) before
    * divergence accumulates. RocksDbStateSpec pins the semantics with a
    * cellCap=2 case.
    */
  /** Count of vectors that arrived at a full cell and were dropped from
    * state (edges already emitted are kept). Per-JVM diagnostic — in
    * local mode the spec reads it directly; on a cluster each executor
    * logs its own drops and a production deployment wires this to a
    * metrics sink.
    */
  val semanticCellOverflows = new java.util.concurrent.atomic.AtomicLong(0)

  /** [[streamingClusterEdges]]'s counterpart: docs dropped from a full
    * band-bucket's state (same per-JVM diagnostic contract).
    */
  val bandBucketOverflows = new java.util.concurrent.atomic.AtomicLong(0)

  def streamingSemanticEdges(
      vecs: DataFrame,
      corpus: DataFrame,
      tau: Double = 0.35,
      cellCap: Int = 4096,
      nCells: Int = 8): DataFrame = {
    val s = vecs.sparkSession
    import s.implicits._
    // nCells must match the cell count the corpus index was built with
    // (batch q195 derives it from corpus cardinality — Similarity
    // .cellCountFor); pass the same value or cells disagree and the
    // stream misses every cross-assignment edge
    val assigned = vecs.select(col("vec_id"), col("embedding"),
      expr(graft.operators.Similarity.clusterExprSparkK("embedding", nCells))
        .cast("int").as("cell"))
    val newOld = assigned
      .join(corpus.select(col("vec_id").as("id_old"), col("cell"),
        col("embedding").as("emb_old")), Seq("cell"))
      .withColumn("cos", expr(graft.operators.Dedup.dot("embedding", "emb_old")))
      .filter(col("cos") >= tau)
      .select(col("vec_id").as("src"), col("id_old").as("dst"))
    val newNew = assigned
      .select(col("vec_id"), col("cell"), col("embedding").as("emb"))
      .as[CellVec]
      .groupByKey(_.cell)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (_: Int, rows: Iterator[CellVec],
            state: GroupState[CellState]) => {
          var seen = state.getOption.map(_.vecs).getOrElse(Seq.empty)
          val out = Seq.newBuilder[ClusterEdge]
          // vec_id order keeps emission deterministic within a batch
          rows.toSeq.sortBy(_.vec_id).foreach { v =>
            if (!seen.exists(_.id == v.vec_id)) {
              seen.foreach { o =>
                if (o.emb.length == v.emb.length) {
                  var acc = 0.0
                  var i = 0
                  while (i < v.emb.length) {
                    acc += v.emb(i).toDouble * o.emb(i).toDouble
                    i += 1
                  }
                  if (acc >= tau) out += ClusterEdge(v.vec_id, o.id)
                }
              }
              if (seen.size < cellCap) seen = seen :+ SeenVec(v.vec_id, v.emb)
              else {
                semanticCellOverflows.incrementAndGet()
                System.err.println(
                  s"[graft] semantic-dedup cell state at cap ($cellCap): " +
                    s"vec ${v.vec_id} not stored — later same-cell arrivals " +
                    "will miss edges to it (grow the cell count)")
              }
            }
          }
          state.update(CellState(seen))
          out.result().iterator
        })
      .toDF("src", "dst")
    val selfEdges = vecs.select(col("vec_id").as("src"),
      col("vec_id").as("dst"))
    newOld.unionByName(newNew).unionByName(selfEdges)
  }

  /** Streaming twin of q187, stage 2 — the foreachBatch sink that folds
    * one micro-batch of verified edges into the maintained cluster map.
    * The map is an LSM-style pair: `baseTable` (the corpus map, seeded
    * once) plus an append-only parquet log at `updatesDir` of
    * (doc_id, cluster_id, ver) rows — each batch appends ONLY changed
    * rows (new docs + re-pointed clusters), never rewrites the corpus
    * (in production this is a MERGE into a transactional table; the
    * read-side compaction is [[currentClusterMap]]). Work per batch is
    * O(batch + collisions + affected clusters): endpoints contract to
    * their CURRENT reps, connected components runs over touched
    * vertices only, and re-pointing is one join against the touched
    * components — the exact shape of batch q187. Replays append the
    * same rows under the same `ver`, which the read-side max_by
    * collapses — at-least-once ⇒ same map.
    */
  def mergeClusterBatch(edges: DataFrame, baseTable: String,
      updatesDir: String, batchId: Long): Unit = {
    val s = edges.sparkSession
    val cur = currentClusterMap(s, baseTable, updatesDir).localCheckpoint()
    val e = edges.distinct().localCheckpoint()
    val contracted = e
      .join(cur.toDF("src", "srep"), Seq("src"), "left")
      .join(cur.toDF("dst", "drep"), Seq("dst"), "left")
      .select(coalesce(col("srep"), col("src")).as("src"),
        coalesce(col("drep"), col("dst")).as("dst"))
      .distinct()
    val touched = contracted.select(col("src").as("id"))
      .union(contracted.select(col("dst").as("id"))).distinct()
    val comp = graft.operators.ConnectedComponents.run(touched, contracted)
    val newIds = e.select(col("src").as("doc_id"))
      .union(e.select(col("dst").as("doc_id"))).distinct()
      .join(cur.select("doc_id"), Seq("doc_id"), "left_anti")
    val newAssign = newIds
      .join(comp.toDF("doc_id", "component"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("cluster_id"))
    val repointed = cur
      .join(comp.toDF("cluster_id", "newc"), "cluster_id")
      .filter(col("newc") =!= col("cluster_id"))
      .select(col("doc_id"), col("newc").as("cluster_id"))
    newAssign.unionByName(repointed)
      .withColumn("ver", lit(batchId))
      .write.mode("append").parquet(updatesDir)
  }

  /** Read-side compaction of the maintained map: latest `ver` wins per
    * doc (base rows carry ver = -1). A production deployment compacts
    * the log periodically; correctness only needs the max_by.
    */
  def currentClusterMap(s: SparkSession, baseTable: String,
      updatesDir: String): DataFrame = {
    val base = s.table(baseTable)
      .select(col("doc_id"), col("cluster_id"), lit(-1L).as("ver"))
    val all =
      try base.unionByName(
        s.read.parquet(updatesDir).select("doc_id", "cluster_id", "ver"))
      catch { case _: org.apache.spark.sql.AnalysisException => base }
    all.groupBy("doc_id")
      .agg(expr("max_by(cluster_id, ver)").as("cluster_id"))
  }

  /** Streaming n-gram novelty — the streaming twin of batch q194: each
    * arriving doc is scored for the fraction of its distinct 5-grams
    * absent from the PRECOMPUTED reference gram table (stream-static
    * left join — the reference is an earlier snapshot or a benchmark
    * suite, refreshed offline exactly like the q62b band index). Update
    * mode.
    *
    * State: without `eventTime`, the counter pair per doc_id is kept
    * FOREVER — a streaming aggregation only evicts keyed state past a
    * watermark, and doc_id alone has no event time. That unbounded
    * growth (one small row per doc ever seen) is acceptable for bounded
    * replays/tests only (r9 advice). For a production stream pass
    * `eventTime` = the arrival-timestamp column: docs are grouped under
    * their arrival window and the watermark evicts each window's state
    * `delay` past its close. A doc's grams all arrive in one row, so
    * windowing never splits a doc and the scores are identical.
    *
    * `docs` (streaming): doc_id, text [, eventTime col].
    * `refGrams` (static): gram.
    */
  def streamingNovelty(docs: DataFrame, refGrams: DataFrame,
      eventTime: Option[String] = None,
      windowDur: String = "10 minutes",
      delay: String = "10 minutes"): DataFrame = {
    val src = eventTime.fold(docs)(c => docs.withWatermark(c, delay))
    val grams = src.select(
      col("doc_id") +: eventTime.map(col).toSeq :+ explode(
        expr(s"graft_shingles(${graft.operators.Dedup.toks}, 5)")).as("gram"): _*)
      .join(refGrams.select(col("gram")).withColumn("hit", lit(1)),
        Seq("gram"), "left")
    val grouped = eventTime match {
      case Some(c) => grams.groupBy(col("doc_id"), window(col(c), windowDur))
      case None    => grams.groupBy(col("doc_id"))
    }
    grouped
      .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("n_seen"))
      .withColumn("novelty_ppm",
        expr("(n_grams - n_seen) * 1000000L div n_grams"))
      .select("doc_id", "n_grams", "n_seen", "novelty_ppm")
  }

  /** Streaming twin of q199's quantization-drift signal — ANN index
    * maintenance as a live monitor: arriving vectors are assigned
    * against the FIXED base-trained codebooks (the same
    * [[graft.operators.ProductQuantization.residStructs]] kernel as the
    * batch append path, map-only with the codebooks broadcast as
    * literals) and the per-subspace running residual mass updates a
    * streaming aggregation whose state is the fixed 8-row counter grid
    * regardless of stream volume (the streamingCms mergeable-state
    * argument — no watermark needed because the state cannot grow).
    * Each micro-batch emits the refreshed drift_ppm per subspace; the
    * alert rule "drift_ppm > SLO ⇒ retrain" runs downstream. Update
    * mode.
    *
    * `vecs` (streaming): embedding. `base` (static): m, n_base,
    * base_resid_fp — the training-time residual masses from the batch
    * q199 run (or any snapshot of it).
    */
  def streamingQuantDrift(vecs: DataFrame,
      cb: Array[Array[Array[Double]]], base: DataFrame): DataFrame = {
    vecs
      .select(graft.operators.ProductQuantization.residExplode(cb).as("sub"))
      .select(col("sub.m").as("m"), col("sub.rfp").as("rfp"))
      .join(base.select(col("m"), col("n_base"), col("base_resid_fp")),
        Seq("m"))
      .groupBy("m")
      .agg(count(lit(1)).as("n_app"), sum(col("rfp")).as("app_resid_fp"),
        first(col("n_base")).as("n_base"),
        first(col("base_resid_fp")).as("base_resid_fp"))
      .withColumn("drift_ppm", expr(
        "cast(floor((cast(app_resid_fp as double) * cast(n_base as double))" +
          " / (cast(greatest(base_resid_fp, 1L) as double)" +
          " * cast(n_app as double)) * 1000000D) as long)"))
      .select("m", "n_base", "n_app", "base_resid_fp", "app_resid_fp",
        "drift_ppm")
  }

  /** Streaming twin of q201's bigram-LM quality scoring — the CCNet
    * filter where it actually runs in production: at INGESTION, each
    * arriving doc scored against count tables trained offline on the
    * reference corpus (stream-static joins on the gram keys, the
    * refreshed-offline contract of the band index / refGrams). Same
    * all-integer arithmetic as batch q201, so stream and batch agree
    * millionths-for-millionths. State follows [[streamingNovelty]]'s
    * contract exactly: unbounded one-counter-pair-per-doc without
    * `eventTime` (bounded replays/tests only), watermark-evicted
    * arrival windows with it.
    *
    * `docs` (streaming): doc_id, text [, eventTime col]. `bigrams`
    * (static): a, b, cab. `heads` (static): a, ca. `vocab`: |V| from
    * training.
    */
  def streamingLmScore(docs: DataFrame, bigrams: DataFrame,
      heads: DataFrame, vocab: Long,
      eventTime: Option[String] = None,
      windowDur: String = "10 minutes",
      delay: String = "10 minutes"): DataFrame = {
    val src = eventTime.fold(docs)(c => docs.withWatermark(c, delay))
    val et = eventTime.map(col).toSeq
    val pairs = src
      .select(col("doc_id") +: et :+
        expr(graft.operators.Dedup.toks).as("tk"): _*)
      .filter(expr("size(tk) >= 2"))
      .select(col("doc_id") +: et :+ col("tk") :+
        explode(expr("sequence(1, size(tk) - 1)")).as("i"): _*)
      .select(col("doc_id") +: et :+
        expr("element_at(tk, i)").as("a") :+
        expr("element_at(tk, i + 1)").as("b"): _*)
      .join(bigrams.select(col("a"), col("b"), col("cab")),
        Seq("a", "b"), "left")
      .join(heads.select(col("a"), col("ca")), Seq("a"), "left")
      .withColumn("p_ppm", expr(
        s"(coalesce(cab, 0L) + 1L) * 1000000L div (coalesce(ca, 0L) + ${vocab}L)"))
    val grouped = eventTime match {
      case Some(c) => pairs.groupBy(col("doc_id"), window(col(c), windowDur))
      case None    => pairs.groupBy(col("doc_id"))
    }
    grouped
      .agg(count(lit(1)).as("n_bigrams"),
        expr("sum(p_ppm) div count(1)").as("mean_p_ppm"))
      .select("doc_id", "n_bigrams", "mean_p_ppm")
  }

  /** Streaming append path of the q204 kNN graph — incremental ANN-index
    * maintenance, the same fixed-index contract as q199's PQ append:
    * each ARRIVING vector acquires its top-M outgoing edges against the
    * FROZEN corpus (no rebuild), via stream-static joins on the exact
    * blockings the batch build uses — the arriving vector's IVF cell and
    * LSH bucket, keyed and scored by the SHARED expressions
    * ([[graft.operators.AnnGraph.bucketExpr]]/`scoreExpr`), so batch and
    * stream agree edge-for-edge. Duplicate candidates are impossible BY
    * CONSTRUCTION, not by a stateful distinct: the bucket join excludes
    * same-cell partners (those arrive via the cell join), so the two
    * candidate sets are disjoint and the per-vector graft_topk heap (one
    * streaming-aggregation group per arriving vector, Update mode — the
    * whole candidate set lands in one micro-batch because the corpus
    * side is static) sees each partner once.
    *
    * Emitted: (src = arriving vec_id, dst, w) — the append edges. The
    * REVERSE (old→new) edges and the re-capping of old vertices are the
    * periodic compaction's job, exactly the LSM contract of
    * [[mergeClusterBatch]]: the search serves from graph ∪ append-log
    * until the next rebuild folds both. State contract follows
    * [[streamingLmScore]]: one bounded heap per arriving vector,
    * unbounded group count without a watermark (bounded replays/tests),
    * production wraps arrival windows.
    *
    * `vecs` (streaming): vec_id, embedding [, eventTime col]. `corpus`
    * (static): vec_id, embedding, bucket, cell — the batch build's base
    * projection. With `eventTime` the per-arrival heap groups live in
    * watermark-evicted windows (the production contract); without, one
    * group per arriving vector, unbounded (bounded replays/tests).
    */
  def streamingGraphAppend(vecs: DataFrame, corpus: DataFrame,
      degreeM: Int = graft.operators.AnnGraph.degreeM,
      eventTime: Option[String] = None,
      windowDur: String = "10 minutes",
      delay: String = "10 minutes",
      nCells: Int = 8): DataFrame = {
    import graft.operators.AnnGraph
    val src0 = eventTime.fold(vecs)(c => vecs.withWatermark(c, delay))
    val et = eventTime.map(col).toSeq
    // nCells must match the cell count the corpus graph was built with
    // (AnnGraph derives it from corpus cardinality — cellCountFor)
    val assigned = src0.select(col("vec_id").as("src") +: et :+
      col("embedding").as("emb_new") :+
      expr(AnnGraph.bucketExpr("embedding")).as("bucket") :+
      expr(graft.operators.Similarity.clusterExprSparkK("embedding", nCells))
        .as("cell"): _*)
    val old = corpus.select(col("vec_id").as("dst"),
      col("embedding").as("emb_old"), col("bucket").as("o_bucket"),
      col("cell").as("o_cell"))
    val byCell = assigned.join(old, col("cell") === col("o_cell"))
    val byBucket = assigned.join(old,
      col("bucket") === col("o_bucket") && col("cell") =!= col("o_cell"))
    val scored = byCell.unionByName(byBucket)
      .filter(col("src") =!= col("dst"))
      .withColumn("w", expr(AnnGraph.scoreExpr("emb_new", "emb_old")))
    val grouped = eventTime match {
      case Some(c) => scored.groupBy(col("src"), window(col(c), windowDur))
      case None    => scored.groupBy(col("src"))
    }
    grouped
      .agg(expr(s"graft_topk(cast(w as double), dst, $degreeM)").as("top"))
      .select(col("src"), explode(col("top")).as("t"))
      .select(col("src"), col("t.id").as("dst"),
        col("t.score").cast("long").as("w"))
  }

  /** Streaming twin of q203's DSIR importance selection (r10 verdict
    * #6) — the at-ingestion filter the op exists for in Xie et al.
    * 2023: each arriving doc is scored against BOTH offline-trained
    * bigram models in ONE pass (stream-static joins on the gram keys —
    * target trained on the curated reference, raw trained on the
    * candidate pool; the refreshed-offline contract of
    * [[streamingLmScore]]'s tables), and the importance surrogate
    * imp_ppm = mean p_target − mean p_raw in exact integer millionths
    * is emitted per doc — millionths-for-millionths equal to the batch
    * q203 rows (selection/top-k happens downstream of the score, as in
    * the batch query's orderBy+limit). Watermark contract follows
    * [[streamingLmScore]] exactly: unbounded per-doc state without
    * `eventTime`, watermark-evicted arrival windows with it.
    *
    * `docs` (streaming): doc_id, text [, eventTime col]. Static:
    * (tBigrams, tHeads, tVocab) the target model, (rBigrams, rHeads,
    * rVocab) the raw model — columns (a, b, cab) / (a, ca).
    */
  def streamingDsirImportance(docs: DataFrame,
      tBigrams: DataFrame, tHeads: DataFrame, tVocab: Long,
      rBigrams: DataFrame, rHeads: DataFrame, rVocab: Long,
      eventTime: Option[String] = None,
      windowDur: String = "10 minutes",
      delay: String = "10 minutes"): DataFrame = {
    val src = eventTime.fold(docs)(c => docs.withWatermark(c, delay))
    val et = eventTime.map(col).toSeq
    val pairs = src
      .select(col("doc_id") +: et :+
        expr(graft.operators.Dedup.toks).as("tk"): _*)
      .filter(expr("size(tk) >= 2"))
      .select(col("doc_id") +: et :+ col("tk") :+
        explode(expr("sequence(1, size(tk) - 1)")).as("i"): _*)
      .select(col("doc_id") +: et :+
        expr("element_at(tk, i)").as("a") :+
        expr("element_at(tk, i + 1)").as("b"): _*)
      .join(tBigrams.select(col("a"), col("b"), col("cab").as("cab_t")),
        Seq("a", "b"), "left")
      .join(tHeads.select(col("a"), col("ca").as("ca_t")), Seq("a"), "left")
      .join(rBigrams.select(col("a"), col("b"), col("cab").as("cab_r")),
        Seq("a", "b"), "left")
      .join(rHeads.select(col("a"), col("ca").as("ca_r")), Seq("a"), "left")
      .withColumn("pt_ppm", expr(
        s"(coalesce(cab_t, 0L) + 1L) * 1000000L div (coalesce(ca_t, 0L) + ${tVocab}L)"))
      .withColumn("pr_ppm", expr(
        s"(coalesce(cab_r, 0L) + 1L) * 1000000L div (coalesce(ca_r, 0L) + ${rVocab}L)"))
    val grouped = eventTime match {
      case Some(c) => pairs.groupBy(col("doc_id"), window(col(c), windowDur))
      case None    => pairs.groupBy(col("doc_id"))
    }
    grouped
      .agg(count(lit(1)).as("n_bigrams"),
        expr("sum(pt_ppm) div count(1)").as("p_target_ppm"),
        expr("sum(pr_ppm) div count(1)").as("p_raw_ppm"))
      .withColumn("imp_ppm", col("p_target_ppm") - col("p_raw_ppm"))
      .select("doc_id", "n_bigrams", "p_target_ppm", "p_raw_ppm", "imp_ppm")
  }

  /** Streaming count-min sketch — the batch q102 sketch maintained
    * incrementally: the (row, bucket) counts are a streaming aggregation
    * whose state is the FIXED d×W integer grid regardless of stream
    * volume (the mergeable-sketch property, expressed as streaming
    * state — no watermark needed because the state cannot grow). Each
    * micro-batch updates only touched buckets; frequency estimation is
    * a lookup over the maintained grid, overestimate by construction.
    * `tokens` columns: token (string).
    */
  def streamingCms(tokens: DataFrame, d: Int = 3, w: Int = 1024): DataFrame =
    (0 until d).map { i =>
      tokens.select(
        expr(s"${graft.operators.Curation.u32Spark(s"cms$i:", "token")} % $w")
          .as("bucket"))
        .withColumn("row", lit(i))
    }.reduce(_ unionAll _)
      .groupBy("row", "bucket").agg(count(lit(1)).as("c"))

  /** Streaming distribution-drift monitor — the streaming twin of batch
    * q112: per tumbling event-time window, histogram a bucketed feature
    * of the arriving data and emit the total-variation distance against
    * a REFERENCE histogram (precomputed offline from the accepted
    * corpus, broadcast into every micro-batch as the static side of a
    * stream-static join). One row per finalized window; the alert rule
    * is `tv > SLO`.
    *
    * Buckets absent from a window still carry reference mass; a
    * stream-static join cannot emit static-side-unmatched rows, so TV
    * uses the missing-mass identity instead: with p the window
    * histogram and q the reference,
    *   TV = ½ (Σ_{present} |p_i − q_i| + (1 − Σ_{present} q_i)).
    * Two chained event-time aggregations (Spark's multi-stateful-op
    * support): state per open window is O(#buckets) — histogram width,
    * never stream volume. The per-window bucket list is re-assembled
    * with collect_list and folded with the aggregate() HOF so the
    * ratio p_i = n_i/tot can use the window total computed in the same
    * aggregation.
    *
    * `rows` columns: ts (event time), bucket (bigint).
    * `refHist` columns: bucket, ref_p (double, Σ ref_p = 1).
    */
  def streamingDriftMonitor(
      rows: DataFrame,
      refHist: DataFrame,
      windowLength: String = "10 minutes",
      watermarkDelay: String = "30 minutes"): DataFrame =
    rows
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLength).as("w"), col("bucket"))
      .agg(count(lit(1)).as("n"))
      .join(broadcast(refHist), Seq("bucket"), "left")
      .withColumn("ref_p", coalesce(col("ref_p"), lit(0.0)))
      .groupBy(window(col("w"), windowLength).as("w"))
      .agg(
        sum(col("n")).as("tot"),
        collect_list(struct(col("n"), col("ref_p"))).as("pairs"))
      .withColumn("tv",
        expr("""0.5D * (
          aggregate(pairs, 0D,
            (acc, p) -> acc + abs(cast(p.n as double) / cast(tot as double) - p.ref_p))
          + (1D - aggregate(pairs, 0D, (acc, p) -> acc + p.ref_p)))"""))
      .select(col("w.start").as("window_start"), col("tot").as("n_rows"),
        col("tv"))

  /** Streaming priority sample — the streaming twin of batch q145
    * (Duffield–Lund–Thorup): maintain the top-k priorities (w/u with
    * the deterministic salted-md5 u) over an unbounded doc stream. The
    * bounded-heap graft_topk aggregate IS the streaming state — a
    * TypedImperativeAggregate's buffer serves directly as aggregation
    * state, so state is exactly one k-entry heap (KBs), independent of
    * stream volume, and each micro-batch folds in map-side before
    * touching it. Complete-mode emit: the current k-row sample.
    *
    * `docs` columns: doc_id (bigint), w (bigint weight > 0).
    */
  def streamingPrioritySample(docs: DataFrame, k: Int): DataFrame = {
    docs
      .withColumn("h", expr(graft.operators.Curation
        .u32Spark("priority:", "cast(doc_id as string)")))
      .withColumn("priority",
        col("w").cast("double") * lit(4294967296.0) /
          (col("h") + lit(1L)).cast("double"))
      .agg(expr(s"graft_topk(priority, doc_id, $k)").as("sample"))
  }

  final case class QuotaDoc(source: String, doc_id: Long, n_tokens: Long)
  final case class QuotaState(seenTokens: Long)
  final case class QuotaAdmission(
      source: String, doc_id: Long, n_tokens: Long, cum_tokens: Long)

  /** Streaming mixture sampling to a per-source token budget — the
    * streaming twin of the batch q99: admit arriving docs until their
    * source's running token count crosses its quota, then the source is
    * closed for good (q99's prefix semantics: the running count keeps
    * growing with REJECTED docs too, so once it passes the budget no
    * later doc can reopen the window — exactly the batch filter
    * `cum <= budget` over a monotone cumulative sum). State is ONE
    * counter per source — sources are hundreds at most, so NoTimeout is
    * safe where per-user state would not be. Within a micro-batch, docs
    * are drawn in the same deterministic md5 order as q99; across
    * batches, arrival order decides (a stream cannot re-order history).
    */
  def streamingQuotaSampler(
      docs: Dataset[QuotaDoc],
      budgets: Map[String, Long],
      defaultBudget: Long): Dataset[QuotaAdmission] = {
    import docs.sparkSession.implicits._
    docs
      .groupByKey(_.source)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (source: String, ds: Iterator[QuotaDoc], state: GroupState[QuotaState]) => {
          val budget = budgets.getOrElse(source, defaultBudget)
          var seen = state.getOption.map(_.seenTokens).getOrElse(0L)
          val out = ds.toSeq
            .sortBy(d => (md5Hex(d.doc_id.toString), d.doc_id))
            .flatMap { d =>
              seen += d.n_tokens
              if (seen <= budget)
                Some(QuotaAdmission(source, d.doc_id, d.n_tokens, seen))
              else None
            }
          state.update(QuotaState(seen))
          out.iterator
        })
  }

  final case class DailyCount(event_type: String, day_num: Long, n: Long)
  final case class DayBin(day_num: Long, n: Long)
  final case class BurstState(
      maxDay: Long, bins: Seq[DayBin], droppedLate: Long)
  final case class BurstFlag(
      event_type: String, day_num: Long, n: Long, prev7: Long,
      is_burst: Boolean)

  /** Streaming twin of the batch q127 burst detector: consumes CLOSED
    * (event_type, day_num, n) daily-count rows — the append-mode output
    * of an upstream watermarked daily window — and flags days whose
    * volume exceeds 2× the trailing-7-day sum, with the same
    * all-integer predicate as the batch query (n·7 > 2·Σ_prev7 ∧
    * n ≥ 10). State per event type is a ≤ 7-entry day ring (bins older
    * than day−6 can never fall inside a later day's lookback, so
    * they're dropped on every update) — O(#types × 7), independent of
    * stream volume, which is why NoTimeout is safe here where per-user
    * state would leak. Assumes each (type, day) arrives once and days
    * arrive non-decreasing per type — exactly what a watermarked window
    * emits; within a micro-batch, rows are applied in day order.
    *
    * The contract is ENFORCED, not just documented: state tracks the
    * max emitted day per type, and a row at or before it (a late
    * re-emit the upstream watermark should have suppressed) is dropped
    * and counted rather than silently computing prev7 against
    * already-pruned bins and corrupting the ring for later days.
    */
  def streamingBurstDetector(daily: Dataset[DailyCount]): Dataset[BurstFlag] = {
    import daily.sparkSession.implicits._
    daily
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (et: String, rows: Iterator[DailyCount], state: GroupState[BurstState]) => {
          val st = state.getOption
            .getOrElse(BurstState(Long.MinValue, Seq.empty, 0L))
          var hist = st.bins
          var maxDay = st.maxDay
          var dropped = st.droppedLate
          val out = rows.toSeq.sortBy(_.day_num).flatMap { r =>
            if (r.day_num <= maxDay) { // contract violation: fail safe
              dropped += 1
              None
            } else {
              val prev7 = hist.iterator
                .filter(b => b.day_num >= r.day_num - 7 && b.day_num < r.day_num)
                .map(_.n).sum
              hist = (hist :+ DayBin(r.day_num, r.n))
                .filter(_.day_num >= r.day_num - 6)
              maxDay = r.day_num
              Some(BurstFlag(et, r.day_num, r.n, prev7,
                r.n * 7 > prev7 * 2 && r.n >= 10))
            }
          }
          state.update(BurstState(maxDay, hist, dropped))
          out.iterator
        })
  }

  final case class CusumState(
      maxDay: Long, prefix: Long, minPrefix: Long, droppedLate: Long)
  final case class CusumPoint(
      event_type: String, day: Long, n: Long, cusum: Long, is_alarm: Boolean)

  /** Streaming twin of the batch q173 CUSUM chart. Where the batch form
    * derives its reference mean from the full window, a stream cannot
    * see the future — so the per-type scaled parameters (tot, dcnt) are
    * INPUTS (from a trailing calibration window or the batch job), and
    * the recursion runs in its natural sequential home: keyed state
    * holding (prefix, min prefix) — two longs per type. On the same
    * dense input with the batch-derived parameters, the points equal
    * q173's rows exactly (EventTimeSpec). Same contract as the other
    * daily twins: days non-decreasing per type, late re-emits dropped
    * and counted.
    */
  def streamingCusum(
      daily: Dataset[DailyCount],
      params: Map[String, (Long, Long)]): Dataset[CusumPoint] = {
    import daily.sparkSession.implicits._
    require(params.nonEmpty, "streamingCusum needs calibration parameters")
    // An UNCALIBRATED type must never reach the recursion: defaulting its
    // (tot, dcnt) to (0, 1) would make step = n and the alarm threshold 0
    // — every first nonzero day alarms, silently. Types absent from the
    // params map are dropped at the door (the dead-letter route: the
    // caller sees them missing from the output and re-calibrates), so
    // only keys with real batch-derived parameters carry state at all.
    daily
      .filter(r => params.contains(r.event_type))
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (et: String, rows: Iterator[DailyCount], state: GroupState[CusumState]) => {
          val st = state.getOption
            .getOrElse(CusumState(Long.MinValue, 0L, Long.MaxValue, 0L))
          var maxDay = st.maxDay
          var prefix = st.prefix
          var minPrefix = st.minPrefix
          var dropped = st.droppedLate
          val (tot, dcnt) = params(et) // membership enforced upstream
          val out = rows.toSeq.sortBy(_.day_num).flatMap { r =>
            if (r.day_num <= maxDay) { dropped += 1; None }
            else {
              prefix += r.n * dcnt - tot - tot / 10
              minPrefix = math.min(minPrefix, prefix)
              maxDay = r.day_num
              val cusum = prefix - math.min(0L, minPrefix)
              Some(CusumPoint(et, r.day_num, r.n, cusum, cusum > tot))
            }
          }
          state.update(CusumState(maxDay, prefix, minPrefix, dropped))
          out.iterator
        })
  }

  /** Watermarked STREAM-STREAM interval join — view → purchase
    * attribution within `horizon`, the two-input join shape none of the
    * stream-static twins cover: BOTH sides are unbounded, so the join
    * must buffer state and the watermarks are what bound it. The range
    * condition `view.ts ≤ purchase.ts ≤ view.ts + horizon` plus the two
    * watermarks lets Spark compute exactly how long each side's rows
    * can still match — views age out `horizon` past the purchase-side
    * watermark, purchases as soon as their own watermark passes — so
    * state is O(events per watermark+horizon window), never O(stream).
    * Inner join ⇒ results emit immediately on match (no watermark wait);
    * a row later than `delay` against its own side's watermark is
    * dropped by the join semantics, the standard streaming-join
    * contract (EventTimeSpec drives both properties).
    */
  def streamingAttribution(
      views: DataFrame,
      purchases: DataFrame,
      horizon: String = "1 hour",
      delay: String = "2 hours"): DataFrame = {
    val v = views.withWatermark("ts", delay)
      .select(col("user_id"), col("ts").as("view_ts"),
        col("event_id").as("view_id"))
    val p = purchases.withWatermark("ts", delay)
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
    v.join(p,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("view_ts") &&
        col("purchase_ts") <= col("view_ts") + expr(s"interval $horizon"))
      .select("user_id", "view_id", "purchase_id", "view_ts", "purchase_ts")
  }

  final case class EventAt(
      user_id: Long, ts_us: Long, event_id: Long, event_type: String)
  final case class MarkovState(
      lastTs: Long, lastId: Long, lastType: String, droppedLate: Long)
  final case class Transition(user_id: Long, from_type: String, to_type: String)

  /** Streaming twin of the batch q179 Markov bigrams: the transition
    * (from, to) pairs a next-event model trains on, emitted as events
    * arrive. State per user is ONE (last ts, event_id, type) triple —
    * O(active users), stream-volume-independent. Rows inside a
    * micro-batch are ordered by (ts, event_id) — the same total order
    * the batch lead() uses — so on in-order input the emitted
    * transition multiset equals q179's bigrams exactly (EventTimeSpec
    * proves count-equality across a micro-batch split + restart). Same
    * late contract as the daily twins: a row at or before the last seen
    * (ts, event_id) is dropped and counted, never spliced into history.
    * Downstream the (from, to) counts/probabilities are an ordinary
    * streaming aggregation over this append stream.
    */
  def streamingMarkov(events: Dataset[EventAt]): Dataset[Transition] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (uid: Long, rows: Iterator[EventAt], state: GroupState[MarkovState]) => {
          val st = state.getOption
            .getOrElse(MarkovState(Long.MinValue, Long.MinValue, null, 0L))
          var lastTs = st.lastTs
          var lastId = st.lastId
          var lastType = st.lastType
          var dropped = st.droppedLate
          val out = rows.toSeq.sortBy(r => (r.ts_us, r.event_id)).flatMap { r =>
            if (r.ts_us < lastTs ||
              (r.ts_us == lastTs && r.event_id <= lastId)) {
              dropped += 1
              None
            } else {
              val t =
                if (lastType != null) Some(Transition(uid, lastType, r.event_type))
                else None
              lastTs = r.ts_us
              lastId = r.event_id
              lastType = r.event_type
              t
            }
          }
          state.update(MarkovState(lastTs, lastId, lastType, dropped))
          out.iterator
        })
  }

  final case class MgState(counters: Map[String, Long], n: Long, batch: Long)
  final case class MgSummary(
      bucket: Int, batch: Long, n: Long, items: Map[String, Long])

  /** Streaming heavy hitters by Misra–Gries summaries — the
    * deterministic-memory alternative to the CMS grid
    * ([[streamingCms]]): CMS answers point queries about ANY item,
    * MG maintains the top candidates themselves. Items hash to
    * `buckets` independent summaries (an item lives in exactly ONE
    * bucket, so each bucket is a faithful MG over its own substream);
    * each keeps k counters with the classic decrement-all step. State
    * is O(buckets × k) — stream-volume-independent — and the summary
    * guarantee survives any arrival order: counts never overestimate,
    * undercount by at most n_bucket/(k+1), and every item more frequent
    * than n_bucket/(k+1) is present. Emission is one row per bucket per
    * batch (Update mode) carrying the batch ordinal, so a reader takes
    * each bucket's latest row.
    */
  def streamingHeavyHitters(
      items: Dataset[String], k: Int, buckets: Int = 8): Dataset[MgSummary] = {
    import items.sparkSession.implicits._
    items
      .map(s => (math.floorMod(s.hashCode, buckets), s))
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout())(
        (bucket: Int, rows: Iterator[(Int, String)], state: GroupState[MgState]) => {
          val st = state.getOption.getOrElse(MgState(Map.empty, 0L, 0L))
          var c = st.counters
          var n = st.n
          rows.foreach { case (_, item) =>
            n += 1
            if (c.contains(item)) c = c.updated(item, c(item) + 1)
            else if (c.size < k) c = c.updated(item, 1L)
            else c = c.map { case (i, v) => i -> (v - 1) }.filter(_._2 > 0)
          }
          val nb = st.batch + 1
          state.update(MgState(c, n, nb))
          MgSummary(bucket, nb, n, c)
        })
  }

  final case class EwmaState(
      firstDay: Long, maxDay: Long, bins: Seq[DayBin], droppedLate: Long)
  final case class EwmaPoint(event_type: String, day: Long, n: Long,
      ewma_num: Long, ewma_den: Long, ewma: Double)

  /** Streaming twin of the batch q150 EWMA: per type, the trailing
    * 14-day integer-weighted smoothed volume, emitted as each day's
    * count arrives. State is the last 13 day bins + the series head day
    * (for the partial-horizon denominator) — O(#types × 13), stream-
    * volume-independent, the burst-detector sizing argument. Same
    * contract too: input is the DENSE per-day count stream a finalized
    * windowed aggregation emits, days non-decreasing per type; a late
    * re-emit is dropped and counted, never recomputed against pruned
    * bins. Weights are [[graft.operators.Series.EwmaWeights]] — the
    * identical integer micro-weights — so on the same dense input the
    * streaming points equal q150's rows exactly, doubles included.
    */
  def streamingEwma(daily: Dataset[DailyCount]): Dataset[EwmaPoint] = {
    import daily.sparkSession.implicits._
    val w = graft.operators.Series.EwmaWeights
    val dens = graft.operators.Series.EwmaDens
    daily
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (et: String, rows: Iterator[DailyCount], state: GroupState[EwmaState]) => {
          val st = state.getOption
            .getOrElse(EwmaState(Long.MinValue, Long.MinValue, Seq.empty, 0L))
          var first = st.firstDay
          var maxDay = st.maxDay
          var bins = st.bins
          var dropped = st.droppedLate
          val out = rows.toSeq.sortBy(_.day_num).flatMap { r =>
            if (maxDay != Long.MinValue && r.day_num <= maxDay) {
              dropped += 1
              None
            } else {
              if (first == Long.MinValue) first = r.day_num
              val num = w(0) * r.n + bins.iterator
                .filter(b => r.day_num - b.day_num < w.length)
                .map(b => w((r.day_num - b.day_num).toInt) * b.n).sum
              val den = dens(
                math.min(r.day_num - first, (w.length - 1).toLong).toInt)
              // next day t' ≥ day+1 needs offsets t'−b ≤ 13 ⇒ b ≥ day−12
              bins = (bins :+ DayBin(r.day_num, r.n))
                .filter(_.day_num >= r.day_num - (w.length - 2))
              maxDay = r.day_num
              Some(EwmaPoint(et, r.day_num, r.n, num, den,
                num.toDouble / den.toDouble))
            }
          }
          state.update(EwmaState(first, maxDay, bins, dropped))
          out.iterator
        })
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  final case class SessionEvent(user_id: Long, event_id: Long, ts_us: Long)
  final case class SessionState(sessionSeq: Long, lastTsUs: Long, nEvents: Long)
  final case class SessionAssignment(
      user_id: Long, event_id: Long, session_seq: Long, events_in_session: Long)

  /** Custom keyed state: assign events to sessions split on `gap` of
    * event-time silence — the streaming twin of the batch q17_sessionize
    * query. flatMapGroupsWithState keeps one SessionState per user and
    * expires it via EVENT-TIME timeout once the watermark passes
    * lastTs + gap: an idle user's session can never reopen (any later
    * event is > gap away by definition), so dropping the struct keeps
    * state O(ACTIVE keys) — NoTimeout would grow it O(all users ever
    * seen), unbounded on a 100 TB stream. Trade-off: session_seq counts
    * per state lifetime, so a user returning after expiry restarts at 1
    * (session MEMBERSHIP — which events share a session — is unchanged).
    */
  def sessionize(
      events: Dataset[SessionEvent],
      gapUs: Long = 1800L * 1000 * 1000,
      watermarkDelay: String = "30 minutes"): Dataset[SessionAssignment] = {
    import events.sparkSession.implicits._
    val gapMs = math.max(1L, gapUs / 1000)
    events
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", watermarkDelay)
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        (userId: Long, evs: Iterator[SessionEvent], state: GroupState[SessionState]) => {
          if (state.hasTimedOut) {
            // watermark passed lastTs + gap: the session is closed for good
            state.remove()
            Iterator.empty
          } else {
            var st = state.getOption.getOrElse(SessionState(0L, Long.MinValue, 0L))
            val out = evs.toSeq.sortBy(e => (e.ts_us, e.event_id)).map { e =>
              st =
                if (st.lastTsUs == Long.MinValue) SessionState(1L, e.ts_us, 1L)
                else if (e.ts_us - st.lastTsUs > gapUs)
                  SessionState(st.sessionSeq + 1, e.ts_us, 1L)
                else st.copy(lastTsUs = e.ts_us, nEvents = st.nEvents + 1)
              SessionAssignment(userId, e.event_id, st.sessionSeq, st.nEvents)
            }
            state.update(st)
            // timeout must sit strictly above the current watermark
            // (getCurrentWatermarkMs is unavailable under batch execution,
            // where timeouts never fire anyway)
            val wm =
              try state.getCurrentWatermarkMs()
              catch { case _: UnsupportedOperationException => Long.MinValue }
            state.setTimeoutTimestamp(math.max(st.lastTsUs / 1000 + gapMs, wm + 1))
            out.iterator
          }
        })
  }

  final case class DocSegment(
      doc_id: Long, seq: Int, tokens: Seq[String], last: Boolean)
  final case class CdcChunk(
      doc_id: Long, chunk: Long, start: Long, chunk_text: String)
  final case class CdcChunkState(
      nextSeq: Int, pos: Long, lastToken: String, chunkIdx: Long,
      chunkStart: Long, chunkTokens: Seq[String],
      buffered: Map[Int, (Seq[String], Boolean)])
  final case class ChunkKept(doc_id: Long, chunk: Long, kept: Boolean)

  /** The q176 boundary hash, JVM-side: first 4 md5 bytes of
    * `"cdc:<prev> <cur>"` as an unsigned 32-bit value — bit-identical to
    * the SQL rendering `conv(substring(md5(...), 1, 8), 16, 10)`.
    */
  private def cdcBoundaryHash(prev: String, cur: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"cdc:$prev $cur".getBytes("UTF-8"))
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  /** Streaming twin of the q176 CDC chunker — incremental corpora are
    * content-defined chunking's whole point: documents arrive as ordered
    * token SEGMENTS, possibly split across micro-batches, and chunk
    * boundaries must land at the same content positions the batch pass
    * finds (a boundary can straddle a segment split — the carried
    * `lastToken` is what makes that work). Emits each chunk as soon as
    * its closing boundary (or the doc's last segment) arrives.
    *
    * State per OPEN doc: the current unclosed chunk's tokens + one
    * lastToken + counters, plus any out-of-order segments buffered until
    * their predecessors arrive — O(open chunk + in-flight reordering),
    * never O(document), and removed entirely when the doc's `last`
    * segment is processed. EventTimeSpec proves the composed
    * chunker→dedup pipeline point-equal to batch q176 across micro-batch
    * splits mid-document and a checkpoint restart.
    */
  def streamingCdcChunks(
      segments: Dataset[DocSegment], d: Int = 16): Dataset[CdcChunk] = {
    import segments.sparkSession.implicits._
    segments
      .groupByKey(_.doc_id)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (doc: Long, rows: Iterator[DocSegment], state: GroupState[CdcChunkState]) => {
          val st0 = state.getOption.getOrElse(
            CdcChunkState(0, 0L, null, 0L, 0L, Vector.empty, Map.empty))
          var buffered = st0.buffered ++
            rows.map(r => r.seq -> ((r.tokens, r.last)))
          var nextSeq = st0.nextSeq
          var pos = st0.pos
          var lastToken = st0.lastToken
          var chunkIdx = st0.chunkIdx
          var chunkStart = st0.chunkStart
          var chunkTokens = st0.chunkTokens
          var docClosed = false
          val out = scala.collection.mutable.ArrayBuffer.empty[CdcChunk]
          while (buffered.contains(nextSeq) && !docClosed) {
            val (toks, last) = buffered(nextSeq)
            buffered -= nextSeq
            toks.foreach { cur =>
              if (lastToken != null && cdcBoundaryHash(lastToken, cur) % d == 0) {
                out += CdcChunk(doc, chunkIdx, chunkStart,
                  chunkTokens.mkString(" "))
                chunkIdx += 1
                chunkStart = pos
                chunkTokens = Vector.empty
              }
              chunkTokens = chunkTokens :+ cur
              lastToken = cur
              pos += 1
            }
            if (last) {
              if (pos > 0)
                out += CdcChunk(doc, chunkIdx, chunkStart,
                  chunkTokens.mkString(" "))
              docClosed = true
            }
            nextSeq += 1
          }
          if (docClosed) state.remove()
          else state.update(CdcChunkState(nextSeq, pos, lastToken, chunkIdx,
            chunkStart, chunkTokens, buffered))
          out.iterator
        })
  }

  /** Streaming dedup over the [[streamingCdcChunks]] output — the second
    * stage of the incremental q176 pipeline (staged as its own query, the
    * way a production run persists the chunk stream between them: two
    * arbitrary-stateful operators with different keys cannot share one
    * streaming query). First arrival of a chunk text is kept; within a
    * micro-batch ties break by (doc_id, start) — the same order the batch
    * window uses — so feeding chunks in doc order reproduces q176's keep
    * set exactly. State: one boolean per DISTINCT chunk text — the dedup
    * index itself; a 100 TB deployment probes the persisted
    * [[graft.operators.DedupIndex]] table instead of keeping it in the
    * state store.
    */
  def streamingChunkDedup(chunks: Dataset[CdcChunk]): Dataset[ChunkKept] = {
    import chunks.sparkSession.implicits._
    chunks
      .groupByKey(_.chunk_text)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (_: String, rows: Iterator[CdcChunk], state: GroupState[Boolean]) => {
          val seen = state.getOption.getOrElse(false)
          val sorted = rows.toSeq.sortBy(r => (r.doc_id, r.start))
          val out = sorted.zipWithIndex.map { case (r, i) =>
            ChunkKept(r.doc_id, r.chunk, !seen && i == 0)
          }
          state.update(true)
          out.iterator
        })
  }
}
