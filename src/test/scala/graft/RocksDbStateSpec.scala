package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventTimeAggregates

/** The stateful streaming twins on the PRODUCTION state backend.
  *
  * Every EventTimeSpec case runs on the default HDFS-backed state store,
  * which keeps all state on the JVM heap — fine for specs, not for a
  * 100 TB deployment where keyed state (dedup indexes, open-doc chunk
  * state, per-user sessions) outgrows memory. Spark ships the RocksDB
  * provider for exactly that; this spec proves the arbitrary-stateful
  * operators (flatMapGroupsWithState with a case-class state, kryo'd
  * buffers, state removal at doc close) produce IDENTICAL results under
  * `RocksDBStateStoreProvider`, including across a checkpoint restart —
  * so the production backend is a config swap, not a code change.
  */
class RocksDbStateSpec extends AnyFunSuite with SparkSuite {

  override protected def sparkConf = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  test("CDC chunker + chunk dedup run on RocksDB state, restart included, same results") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass")
      .contains("RocksDB"))

    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4),
      (3L, "totally different content with its own words entirely here now"))
    val segments = docs.flatMap { case (id, text) =>
      val toks = text.trim.split("\\s+").toSeq
      val cut = toks.length / 2
      Seq(
        EventTimeAggregates.DocSegment(id, 0, toks.take(cut), last = false),
        EventTimeAggregates.DocSegment(id, 1, toks.drop(cut), last = true))
    }
    val (s1, s2) = segments.splitAt(segments.length / 2) // mid-document

    val mem = MemoryStream[EventTimeAggregates.DocSegment]
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt-rocks").toString
    val outDir = java.nio.file.Files.createTempDirectory("rocks-out").toString
    val chunks = EventTimeAggregates.streamingCdcChunks(mem.toDS())
    def start() = chunks.writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()
    val q1 = start()
    mem.addData(s1: _*)
    q1.processAllAvailable()
    q1.stop() // restart: RocksDB state must reload from the checkpoint
    val q2 = start()
    val got =
      try {
        mem.addData(s2: _*)
        q2.processAllAvailable()
        spark.read.parquet(outDir).as[EventTimeAggregates.CdcChunk]
          .collect().sortBy(c => (c.doc_id, c.start))
      } finally q2.stop()

    // truth: the same chunking computed directly (single-partition batch
    // path through the same code under a batch Dataset would not
    // exercise the state store — compare against an in-process rebuild)
    val expected = docs.flatMap { case (id, text) =>
      val toks = text.trim.split("\\s+")
      val md = java.security.MessageDigest.getInstance("MD5")
      def h(prev: String, cur: String): Long = {
        val d = md.digest(s"cdc:$prev $cur".getBytes("UTF-8"))
        ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
          ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, String)]
      var start = 0L; var idx = 0L
      val cur = scala.collection.mutable.ArrayBuffer.empty[String]
      toks.zipWithIndex.foreach { case (t, i) =>
        if (i > 0 && h(toks(i - 1), t) % 16 == 0) {
          out += ((id, idx, start, cur.mkString(" ")))
          idx += 1; start = i.toLong; cur.clear()
        }
        cur += t
      }
      if (toks.nonEmpty) out += ((id, idx, start, cur.mkString(" ")))
      out
    }.sortBy(t => (t._1, t._3))
    assert(got.map(c => (c.doc_id, c.chunk, c.start, c.chunk_text)).toSeq
      == expected, "RocksDB-backed chunking differs")

    // stage 2 on RocksDB too: dedup kept-count matches the content
    // (docs 1 and 2 are identical — doc 2 keeps nothing)
    val memD = MemoryStream[EventTimeAggregates.CdcChunk]
    val kept = EventTimeAggregates.streamingChunkDedup(memD.toDS())
    val qd = kept.writeStream.format("memory").queryName("rocks_kept")
      .outputMode(OutputMode.Append()).start()
    try {
      memD.addData(got.toSeq: _*)
      qd.processAllAvailable()
      val perDoc = spark.sql("select doc_id, kept from rocks_kept").collect()
        .map(r => (r.getLong(0), r.getBoolean(1))).groupBy(_._1)
        .map { case (id, xs) => id -> xs.count(_._2) }
      assert(perDoc(2L) == 0, s"identical doc 2 must keep nothing: $perDoc")
      assert(perDoc(1L) > 0 && perDoc(3L) > 0)
    } finally qd.stop()
  }

  test("event-time sessionizer state expires on RocksDB exactly as on the default store") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // same shape as EventTimeSpec's sessionizer split test, on RocksDB:
    // two bursts a gap apart for one user → two sessions, state carried
    // across micro-batches
    val mem = MemoryStream[EventTimeAggregates.SessionEvent]
    val out = EventTimeAggregates.sessionize(mem.toDS(), gapUs = 1000L)
    val q = out.writeStream.format("memory").queryName("rocks_sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(
        EventTimeAggregates.SessionEvent(7L, 1L, 1000L),
        EventTimeAggregates.SessionEvent(7L, 2L, 1500L))
      q.processAllAvailable()
      mem.addData(EventTimeAggregates.SessionEvent(7L, 3L, 10000L))
      q.processAllAvailable()
      val sess = spark.sql(
        "select event_id, session_seq from rocks_sessions").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(sess(1L) == sess(2L), "burst must share a session")
      assert(sess(3L) == sess(1L) + 1, s"gap must open a new session: $sess")
    } finally q.stop()
  }

  test("incremental cluster maintenance equals the full rebuild across 3 micro-batches, RocksDB + restart") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val ctx = spark.sqlContext
    val theta = 0.3

    // word-run texts: A and C overlap too little to cluster (J = 0.2 at
    // 3-gram shingles); the BRIDGE contains both runs, so it is ≥ theta
    // similar to each — near-dup similarity is NOT transitive, which is
    // exactly what forces a cluster MERGE on arrival
    def run(a: Int, b: Int) = (a to b).map(i => s"w$i").mkString(" ")
    val tA = run(1, 20)
    val tC = run(13, 32)
    // run(6,31) band-collides with BOTH A and C under the production
    // minhash geometry (verified offline; hashes are deterministic):
    // J(A,bridge)=0.45, J(C,bridge)=0.68, J(A,C)=0.20
    val tBridge = run(6, 31)
    val tNovel = run(100, 119)
    val tOther = run(200, 219)

    // corpus: cluster {1, 2} (exact dups), singletons 3 (=tC) and 4
    val corpus = Seq((1L, tA), (2L, tA), (3L, tC), (4L, tOther))
      .toDF("doc_id", "text")
    val corpusSh = corpus.select(col("doc_id"),
      expr(s"graft_shingles(${graft.operators.Dedup.toks}, 3)").as("sh"))
    graft.operators.DedupIndex.write(
      graft.operators.Dedup.bandBuckets(corpusSh), "ic_band_idx", 4)
    val index = spark.table("ic_band_idx")

    // full-rebuild truth over a doc set: band-collision candidates
    // verified at exact Jaccard (the q61/q187 semantics, computed here in
    // Scala so the truth does not run the intersect-size rewrite it
    // checks), then union-find — the same theorem batch q187's oracle checks
    def fullRebuild(docs: org.apache.spark.sql.DataFrame): Map[Long, Long] = {
      val sh = docs.select(col("doc_id"),
        expr(s"graft_shingles(${graft.operators.Dedup.toks}, 3)").as("sh"))
      val bands = graft.operators.Dedup.bandBuckets(sh)
      val pairs = bands.toDF("id_a", "band", "bucket")
        .join(bands.toDF("id_b", "band", "bucket"), Seq("band", "bucket"))
        .filter(col("id_a") < col("id_b")).select("id_a", "id_b").distinct()
        .join(sh.toDF("id_a", "sh_a"), "id_a")
        .join(sh.toDF("id_b", "sh_b"), "id_b")
        .select("id_a", "id_b", "sh_a", "sh_b").collect()
        .filter { r =>
          val (a, b) = (r.getSeq[String](2), r.getSeq[String](3))
          val inter = a.toSet.intersect(b.toSet).size
          inter.toDouble / (a.size + b.size - inter) >= theta
        }.map(r => (r.getLong(0), r.getLong(1)))
      val ids = docs.select("doc_id").collect().map(_.getLong(0))
      val root = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
      def find(x: Long): Long =
        if (root(x) == x) x else { val r = find(root(x)); root(x) = r; r }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { val m = math.min(ra, rb); root(ra) = m; root(rb) = m }
      }
      ids.map(i => i -> find(i)).toMap
    }

    // seed the maintained map with the corpus-only rebuild
    val baseTable = "ic_base_map"
    spark.sql(s"DROP TABLE IF EXISTS $baseTable")
    // a previous JVM's warehouse dir survives the in-memory catalog
    val loc = new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir") + s"/$baseTable"))
    if (loc.exists) org.apache.commons.io.FileUtils.deleteDirectory(loc)
    fullRebuild(corpus).toSeq.toDF("doc_id", "cluster_id")
      .write.saveAsTable(baseTable)
    val updatesDir =
      java.nio.file.Files.createTempDirectory("ic-updates").toString + "/log"
    val ckpt = java.nio.file.Files.createTempDirectory("ic-ckpt").toString

    val mem = MemoryStream[(Long, String)]
    val edges = EventTimeAggregates.streamingClusterEdges(
      mem.toDF().toDF("doc_id", "text"), index, corpusSh, theta)
    def start() = edges.writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        EventTimeAggregates.mergeClusterBatch(b, baseTable, updatesDir, id)
      }
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()

    var q = start()
    val streamed = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    try {
      // batch 1: a dup of corpus cluster {1,2} + a novel singleton
      streamed ++= Seq((10L, tA), (11L, tNovel))
      mem.addData((10L, tA), (11L, tNovel))
      q.processAllAvailable()
      // batch 2: cross-batch new-new (12 matches 11 from batch 1)
      streamed += ((12L, tNovel))
      mem.addData((12L, tNovel))
      q.processAllAvailable()
      q.stop()
      // restart from the checkpoint: bucket state (doc 11/12's bucket
      // occupancy) must come back from RocksDB
      q = start()
      // batch 3: the bridge doc merges corpus clusters {1,2,10} and {3}
      streamed += ((13L, tBridge))
      mem.addData((13L, tBridge))
      q.processAllAvailable()
    } finally q.stop()

    val maintained = EventTimeAggregates
      .currentClusterMap(spark, baseTable, updatesDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = fullRebuild(corpus.unionByName(
      streamed.toSeq.toDF("doc_id", "text")))
    assert(maintained == expected,
      s"maintained $maintained\nexpected $expected")
    // the scenario must actually exercise each event, or the equality
    // proves less than it claims
    assert(expected(10L) == 1L, "batch dup must join the corpus cluster")
    assert(expected(12L) == 11L, "cross-batch new-new must cluster")
    assert(expected(3L) == 1L && expected(13L) == 1L,
      s"the bridge must merge corpus cluster 3 into 1: $expected")
  }

  test("streaming semantic dedup equals the batch q195 closure across 3 micro-batches, RocksDB + restart") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val ctx = spark.sqlContext
    val tau = 0.35
    val dim = 64

    def basis(d: Int, scale: Float): Array[Float] =
      Array.tabulate(dim)(i => if (i == d) scale else 0f)
    def scalaDot(a: Seq[Float], b: Seq[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    def cellsOf(vs: Seq[(Long, Array[Float])]): Map[Long, Int] =
      vs.toDF("vec_id", "embedding")
        .withColumn("cell", expr(graft.operators.Similarity
          .clusterExprSpark("embedding")).cast("int"))
        .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap

    // the bridge scenario needs two orthogonal vectors in the SAME IVF
    // cell whose mix also lands in that cell — search the (deterministic
    // md5 centroid) geometry for such a dim pair; 64 dims over 16 cells
    // pigeonhole plenty of same-cell pairs
    val basisCells = cellsOf((0 until dim).map(d => (d.toLong, basis(d, 0.7f))))
    val bridgePick = (for {
      d1 <- 0 until dim; d2 <- d1 + 1 until dim
      if basisCells(d1) == basisCells(d2)
      x = Array.tabulate(dim)(i => if (i == d1 || i == d2) 0.6f else 0f)
      cx = cellsOf(Seq((0L, x)))(0L)
      if cx == basisCells(d1)
    } yield (d1, d2, x)).headOption
    assert(bridgePick.isDefined, "no same-cell bridge geometry found")
    val (d1, d2, bridge) = bridgePick.get
    val freeDims = (0 until dim).filterNot(d => d == d1 || d == d2)
    val a1 = basis(d1, 0.7f)            // corpus cluster {1, 2}
    val b3 = basis(d2, 0.7f)            // corpus singleton, SAME cell as a1
    val other = basis(freeDims.head, 0.7f)
    val novel = basis(freeDims.last, 0.8f)
    // dot(a1,a1)=0.49 ≥ τ; dot(a1,b3)=0 < τ (same cell, verify rejects);
    // dot(bridge,a1)=dot(bridge,b3)=0.42 ≥ τ — the merge edge pair
    assert(scalaDot(bridge, a1) >= tau && scalaDot(bridge, b3) >= tau)

    val corpusVecs = Seq((1L, a1), (2L, a1), (3L, b3), (4L, other))
    val corpusCells = cellsOf(corpusVecs)
    val corpus = corpusVecs.toDF("vec_id", "embedding")
      .withColumn("cell", expr(graft.operators.Similarity
        .clusterExprSpark("embedding")).cast("int"))
      .localCheckpoint()

    // full-rebuild truth: within-cell pairs at cosine ≥ τ (the q195
    // blocking), then union-find — the theorem batch q195's oracle checks
    def fullRebuild(vs: Seq[(Long, Array[Float])]): Map[Long, Long] = {
      val cells = cellsOf(vs)
      val pairs = for {
        (ia, va) <- vs; (ib, vb) <- vs
        if ia < ib && cells(ia) == cells(ib) && scalaDot(va, vb) >= tau
      } yield (ia, ib)
      val root = scala.collection.mutable.Map(vs.map(_._1 -> 0L).map {
        case (id, _) => id -> id }.toSeq: _*)
      def find(x: Long): Long =
        if (root(x) == x) x else { val r = find(root(x)); root(x) = r; r }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { val m = math.min(ra, rb); root(ra) = m; root(rb) = m }
      }
      vs.map { case (id, _) => id -> find(id) }.toMap
    }

    val baseTable = "sem_base_map"
    spark.sql(s"DROP TABLE IF EXISTS $baseTable")
    val loc = new java.io.File(new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir") + s"/$baseTable"))
    if (loc.exists) org.apache.commons.io.FileUtils.deleteDirectory(loc)
    fullRebuild(corpusVecs).toSeq.toDF("doc_id", "cluster_id")
      .write.saveAsTable(baseTable)
    val updatesDir =
      java.nio.file.Files.createTempDirectory("sem-updates").toString + "/log"
    val ckpt = java.nio.file.Files.createTempDirectory("sem-ckpt").toString

    val mem = MemoryStream[(Long, Array[Float])]
    val edges = EventTimeAggregates.streamingSemanticEdges(
      mem.toDF().toDF("vec_id", "embedding"), corpus, tau)
    def start() = edges.writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        EventTimeAggregates.mergeClusterBatch(b, baseTable, updatesDir, id)
      }
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()

    var q = start()
    val streamed = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]
    try {
      // batch 1: a dup of corpus cluster {1,2} + a novel singleton
      streamed ++= Seq((10L, a1), (11L, novel))
      mem.addData((10L, a1), (11L, novel))
      q.processAllAvailable()
      // batch 2: cross-batch new-new (12 matches 11 from batch 1)
      streamed += ((12L, novel))
      mem.addData((12L, novel))
      q.processAllAvailable()
      q.stop()
      // restart from the checkpoint: cell state (novel's cell occupancy)
      // must come back from RocksDB
      q = start()
      // batch 3: the bridge merges corpus clusters {1,2,10} and {3}
      streamed += ((13L, bridge))
      mem.addData((13L, bridge))
      q.processAllAvailable()
    } finally q.stop()

    val maintained = EventTimeAggregates
      .currentClusterMap(spark, baseTable, updatesDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = fullRebuild(corpusVecs ++ streamed)
    assert(maintained == expected,
      s"maintained $maintained\nexpected $expected")
    assert(expected(10L) == 1L, "batch dup must join the corpus cluster")
    assert(expected(12L) == 11L, "cross-batch new-new must cluster")
    assert(expected(3L) == 1L && expected(13L) == 1L,
      s"the bridge must merge corpus cluster 3 into 1: $expected")
    // the same-cell-but-dissimilar corpus pair must NOT merge: blocking
    // admits (a1, b3) as a candidate, the cosine verify rejects it
    assert(corpusCells(1L) == corpusCells(3L))
  }

  test("semantic dedup cellCap overflow: edges emitted, vector dropped from state, counter observable") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val ctx = spark.sqlContext
    // one direction, four ids: every pair lands in the same IVF cell with
    // cosine 0.49 >= tau, so absent a cap all six edges would emit
    val dim = 64
    val v = Array.tabulate(dim)(i => if (i == 0) 0.7f else 0f)
    val corpus = Seq.empty[(Long, Int, Array[Float])]
      .toDF("vec_id", "cell", "embedding")
    val ckpt = java.nio.file.Files.createTempDirectory("cap-ckpt").toString
    val mem = MemoryStream[(Long, Array[Float])]
    val edges = EventTimeAggregates.streamingSemanticEdges(
      mem.toDF().toDF("vec_id", "embedding"), corpus, tau = 0.35, cellCap = 2)
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val before = EventTimeAggregates.semanticCellOverflows.get()
    val q = edges.writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        got.synchronized {
          got ++= b.collect().map(r => (r.getLong(0), r.getLong(1)))
        }
        ()
      }
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: ids 1,2 fill the cap; 3 overflows — it still emits
      // (3,1),(3,2) against stored state but is NOT stored
      mem.addData((1L, v), (2L, v), (3L, v))
      q.processAllAvailable()
      // batch 2: 4 overflows too — edges to the STORED 1,2 only; the
      // edge to the dropped 3 is the documented divergence from batch
      mem.addData((4L, v))
      q.processAllAvailable()
    } finally q.stop()
    val pairs = got.filterNot(e => e._1 == e._2).toSet // drop self-edges
    assert(pairs == Set((2L, 1L), (3L, 1L), (3L, 2L), (4L, 1L), (4L, 2L)),
      s"got $pairs")
    assert(!pairs.contains((4L, 3L)),
      "edge to the overflow-dropped vector must be missing (pinned divergence)")
    assert(EventTimeAggregates.semanticCellOverflows.get() - before == 2,
      "ids 3 and 4 each overflow the cap once")
  }

  test("kNN-graph append on RocksDB state across a checkpoint restart: same edges") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val ctx = spark.sqlContext
    import graft.operators.{AnnGraph, Similarity}
    val all = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val isNew = col("vec_id") % 50 === 0
    val corpus = all.filter(!isNew)
      .withColumn("bucket", expr(AnnGraph.bucketExpr("embedding")))
      .withColumn("cell", expr(Similarity.clusterExprSpark("embedding")))
      .localCheckpoint()
    val arriving = all.filter(isNew).as[(Long, Seq[Float])].collect().toSeq
      .sortBy(_._1)
    val ckpt = java.nio.file.Files.createTempDirectory("gapp-ckpt").toString
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val mem = MemoryStream[(Long, Seq[Float])]
    def start() = EventTimeAggregates.streamingGraphAppend(
        mem.toDF().toDF("vec_id", "embedding"), corpus)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        got.synchronized {
          got ++= b.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        }
        ()
      }
      .outputMode(OutputMode.Update()).start()
    var q = start()
    try {
      mem.addData(arriving.take(4): _*)
      q.processAllAvailable()
      q.stop()
      // restart from the checkpoint: the per-arrival heap groups must
      // come back from RocksDB; the remaining arrivals append after
      q = start()
      mem.addData(arriving.drop(4): _*)
      q.processAllAvailable()
    } finally q.stop()
    // latest emission per (src, dst) — Update mode may re-emit a group
    val gotSet = got.groupBy(e => (e._1, e._2)).map(_._2.last).toSet
    val expected = EventTimeAggregates.streamingGraphAppend(
        arriving.toDF("vec_id", "embedding"), corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(gotSet == expected,
      s"only-stream ${(gotSet -- expected).take(5)} " +
        s"only-batch ${(expected -- gotSet).take(5)}")
  }
}
