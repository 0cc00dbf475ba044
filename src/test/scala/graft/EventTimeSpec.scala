package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventTimeAggregates
import graft.streaming.EventTimeAggregates._

/** Event-time streaming: watermarked tumbling windows finalize in Append
  * mode and drop late data; the stateful sessionizer splits on gaps and
  * carries state across micro-batches.
  */
class EventTimeSpec extends AnyFunSuite with SparkSuite {

  override protected def cores = 2

  test("watermarked tumbling window finalizes closed windows, drops late rows") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "event_type", "value")
    val out = EventTimeAggregates.windowedCounts(df, "10 minutes", "10 minutes")
    val q = out.writeStream.format("memory").queryName("win")
      .outputMode(OutputMode.Append()).start()
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    try {
      mem.addData((t(1), "click", 1.0), (t(2), "click", 2.0))
      q.processAllAvailable()
      // watermark still at 10:02-10min → nothing finalized
      assert(spark.sql("select * from win").count() == 0)

      mem.addData((t(25), "view", 1.0)) // watermark → 10:15, closes 10:00 window
      q.processAllAvailable()
      mem.addData((t(3), "click", 99.0)) // late beyond watermark → dropped
      q.processAllAvailable()
      mem.addData((t(45), "view", 1.0)) // watermark → 10:35, closes 10:20 window
      q.processAllAvailable()

      val rows = spark.sql(
        "select window_start, event_type, n_events, sum_value from win order by 1")
        .collect().map(r => (r.getTimestamp(0).toString, r.getString(1),
          r.getLong(2), r.getDouble(3)))
      assert(rows.contains(("2024-01-01 10:00:00.0", "click", 2L, 3.0))) // late row dropped
      assert(rows.contains(("2024-01-01 10:20:00.0", "view", 1L, 1.0)))
    } finally q.stop()
  }

  test("stream-stream interval join: attribution inside the horizon, bounded state, late views never match") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val vs = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val ps = MemoryStream[(java.sql.Timestamp, Long, Long)]
    def df(m: MemoryStream[(java.sql.Timestamp, Long, Long)]) =
      m.toDF().toDF("ts", "user_id", "event_id")
    val out = EventTimeAggregates.streamingAttribution(
      df(vs), df(ps), horizon = "1 hour", delay = "30 minutes")
    val q = out.writeStream.format("memory").queryName("attr")
      .outputMode(OutputMode.Append()).start()
    def t(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    try {
      // user 1: view at 10:00, purchase at 10:30 (inside the hour) and
      // one at 11:30 (outside); user 2: purchase with no view
      vs.addData((t(10, 0), 1L, 100L))
      ps.addData((t(10, 30), 1L, 200L), (t(11, 30), 1L, 201L),
        (t(10, 15), 2L, 202L))
      q.processAllAvailable()
      val got = spark.sql("select view_id, purchase_id from attr").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((100L, 200L)),
        s"only the inside-horizon purchase may attribute, got $got")

      // advance both watermarks far past 10:00 + horizon + delay, then
      // deliver a LATE view for the 10:30 purchase: the join state for
      // that region is gone, so no new match may appear (bounded state
      // is the whole point of the watermarked stream-stream join)
      vs.addData((t(16, 0), 9L, 101L))
      ps.addData((t(16, 0), 9L, 203L))
      q.processAllAvailable()
      vs.addData((t(10, 29), 1L, 102L)) // late: watermark is ~15:30
      q.processAllAvailable()
      val after = spark.sql("select view_id, purchase_id from attr").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(!after.exists(_._1 == 102L),
        s"a view later than the watermark must never match, got $after")
      // the 16:00 pair matched normally (same instant is inside [ts, ts+1h])
      assert(after.contains((101L, 203L)))
    } finally q.stop()
  }

  test("streaming curation: quality gate + watermark dedup + stream-static temperature sample") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[(Long, String, String, java.sql.Timestamp)]
    val docs = mem.toDF().toDF("doc_id", "text", "lang", "ts")
    // thresholds as production would precompute them: rare lang keeps all
    // (2^32), common lang keeps none (0), a mid lang keeps by hash
    val thresholds = Seq(
      ("rare", 4294967296L), ("common", 0L), ("mid", 2147483648L))
      .toDF("lang", "thresh")
    val out = EventTimeAggregates.streamingCuration(docs, thresholds, 5)
    val q = out.writeStream.format("memory").queryName("cur")
      .outputMode(OutputMode.Append()).start()
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    try {
      mem.addData(
        (1L, "a good long document", "rare", t(1)),
        (2L, "tiny", "rare", t(1)), // fails the quality gate
        (3L, "a good long document", "rare", t(2)), // dup of doc 1's content
        (4L, "another document body", "common", t(2)), // lang keeps nothing
        (5L, "distinct content here", "rare", t(3)))
      q.processAllAvailable()
      val rows = spark.sql("select doc_id, lang from cur").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      // doc 2 quality-gated, doc 4 threshold-0, dup pair (1,3) collapses
      // to its first arrival, doc 5 survives
      assert(rows.map(_._1).contains(5L))
      assert(!rows.map(_._1).contains(2L) && !rows.map(_._1).contains(4L))
      assert(rows.map(_._1).intersect(Set(1L, 3L)).size == 1,
        s"exactly one of the duplicate pair must survive, got $rows")
      assert(rows.forall(_._2 == "rare"))
    } finally q.stop()
  }

  test("streaming CMS: bucket grid accumulates across batches, estimates dominate exact counts") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[String]
    val out = EventTimeAggregates.streamingCms(mem.toDF().toDF("token"))
    val q = out.writeStream.format("memory").queryName("cms")
      .outputMode(OutputMode.Complete()).start()
    try {
      mem.addData("alpha", "alpha", "beta")
      q.processAllAvailable()
      mem.addData("alpha", "gamma")
      q.processAllAvailable()
      // estimate via the same deterministic buckets the sketch used
      val grid = spark.sql("select row, bucket, c from cms").collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      def est(tok: String): Long = (0 until 3).map { i =>
        val b = spark.sql(
          s"select ${graft.operators.Curation.u32Spark(s"cms$i:", s"'$tok'")} % 1024")
          .collect()(0).getLong(0)
        grid.getOrElse((i, b), 0L)
      }.min
      assert(est("alpha") >= 3L, "estimates never undercount")
      assert(est("beta") >= 1L && est("gamma") >= 1L)
      // total mass per row = total tokens seen (grid state merged, not reset)
      val perRow = grid.groupBy(_._1._1).view.mapValues(_.values.sum)
      assert(perRow.values.forall(_ == 5L), s"each row holds all 5 tokens: $perRow")
    } finally q.stop()
  }

  test("streaming burst detector: trailing-7-day state crosses batches, gaps don't stretch the lookback") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[(String, Long, Long)]
    val daily = mem.toDS()
      .map { case (t, d, n) => EventTimeAggregates.DailyCount(t, d, n) }
    val out = EventTimeAggregates.streamingBurstDetector(daily)
    val q = out.writeStream.format("memory").queryName("burst")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: quiet week for "click"
      mem.addData(("click", 1L, 5L), ("click", 2L, 6L), ("click", 3L, 4L))
      q.processAllAvailable()
      // batch 2: spike on day 4 (15 > 2·avg(5,6,4)=10 ✓, n ≥ 10 ✓) —
      // prev7 must include the PREVIOUS batch's days; day 20 sits past
      // the 7-day range of everything before it → prev7 = 0, and a
      // large-but-unsupported day stays is_burst=false under n ≥ 10
      mem.addData(("click", 4L, 15L), ("click", 20L, 9L), ("view", 4L, 50L))
      q.processAllAvailable()
      // batch 3: a LATE re-emit of an already-processed day (contract
      // violation — days must arrive non-decreasing per type) is dropped
      // fail-safe instead of recomputing against pruned bins; the day
      // after it still computes its trailing sum from uncorrupted state
      mem.addData(("click", 2L, 100L), ("click", 21L, 30L))
      q.processAllAvailable()
      val collected = spark.sql(
        "select event_type, day_num, n, prev7, is_burst from burst")
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3), r.getBoolean(4)))
      val rows = collected.toMap
      assert(collected.length == rows.size,
        "the late day-2 re-emit must produce NO output row (no duplicate keys)")
      assert(rows(("click", 1L)) == ((5L, 0L, false)))
      assert(rows(("click", 2L)) == ((6L, 5L, false)),
        "the late n=100 re-emit of day 2 must not replace the original")
      assert(rows(("click", 4L)) == ((15L, 15L, true)),
        s"cross-batch trailing sum: ${rows(("click", 4L))}")
      assert(rows(("click", 20L)) == ((9L, 0L, false)),
        "a day gap empties the RANGE lookback and n<10 can't flag")
      assert(rows(("click", 21L)) == ((30L, 9L, true)),
        "state after a dropped late row stays correct for the next day")
      assert(rows(("view", 4L)) == ((50L, 0L, true)),
        "first day of a type bursts on zero history when n >= 10")
    } finally q.stop()
  }

  test("streaming priority sample: one bounded heap of state across batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val docs = mem.toDF().toDF("doc_id", "w")
    val out = EventTimeAggregates.streamingPrioritySample(docs, k = 5)
    val q = out.writeStream.format("memory").queryName("psample")
      .outputMode(OutputMode.Complete()).start()
    try {
      val batch1 = Seq(1L -> 10L, 2L -> 20L, 3L -> 30L, 4L -> 40L,
        5L -> 50L, 6L -> 60L)
      val batch2 = Seq(7L -> 70L, 8L -> 5L, 9L -> 80L)
      mem.addData(batch1: _*)
      q.processAllAvailable()
      mem.addData(batch2: _*)
      q.processAllAvailable()
      val sample = spark.sql("select explode(sample) as e from psample")
        .select("e.id").collect().map(_.getLong(0)).toSet
      // the exact priorities the operator computes, replayed in Scala
      def pr(id: Long, w: Long): Double = {
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(s"priority:$id".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        val h = java.lang.Long.parseLong(md.substring(0, 8), 16)
        w.toDouble * 4294967296.0 / (h + 1).toDouble
      }
      val expect = (batch1 ++ batch2)
        .sortBy { case (id, w) => (-pr(id, w), id) }
        .take(5).map(_._1).toSet
      assert(sample == expect,
        s"the k-heap must rank across BOTH batches: got $sample, want $expect")
      assert(sample.size == 5)
    } finally q.stop()
  }

  test("streaming quota sampler: per-source budget, prefix semantics, cross-batch state") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[(String, Long, Long)]
    val docs = mem.toDS().map(t => QuotaDoc(t._1, t._2, t._3))
    val out = EventTimeAggregates.streamingQuotaSampler(
      docs, Map("a" -> 100L), defaultBudget = 50L)
    val q = out.writeStream.format("memory").queryName("quota")
      .outputMode(OutputMode.Append()).start()
    try {
      // md5("1") < md5("2") → within-batch draw order 1, 2; cum 40, 80
      mem.addData(("a", 1L, 40L), ("a", 2L, 40L))
      q.processAllAvailable()
      // md5("4") < md5("3") → doc 4 draws first (90 ≤ 100, admitted),
      // then doc 3 crosses (120 > 100, rejected — but its tokens COUNT)
      mem.addData(("a", 3L, 30L), ("a", 4L, 10L))
      // source b: first doc alone blows the default budget; the next one
      // is small but the prefix is already past 50 → closed for good
      mem.addData(("b", 6L, 60L), ("b", 7L, 10L))
      q.processAllAvailable()
      // doc 5 would fit a naive remaining-budget check (80+40+10+5 < ∞)
      // but the prefix includes rejected doc 3 → 125 > 100, stays closed
      mem.addData(("a", 5L, 5L))
      q.processAllAvailable()
      val rows = spark.sql("select source, doc_id, cum_tokens from quota")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(rows == Set(("a", 1L, 40L), ("a", 2L, 80L), ("a", 4L, 90L)))
    } finally q.stop()
  }

  test("streaming quota sampler: per-source counters survive a checkpoint restart") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[(String, Long, Long)]
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt-quota").toString
    val outDir = java.nio.file.Files.createTempDirectory("quota-out").toString
    val docs = mem.toDS().map(t => QuotaDoc(t._1, t._2, t._3))
    val out = EventTimeAggregates.streamingQuotaSampler(
      docs, Map("a" -> 100L), defaultBudget = 50L)
    // file sink: the memory sink does not support checkpoint recovery
    def start() = out.writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()

    val q1 = start()
    mem.addData(("a", 1L, 70L))
    q1.processAllAvailable()
    q1.stop()

    // restart from the same checkpoint: the admitted cum must CONTINUE
    // from the restored 70 (a reset state would emit cum 25)
    val q2 = start()
    try {
      mem.addData(("a", 2L, 25L))
      q2.processAllAvailable()
      mem.addData(("a", 3L, 10L)) // 105 > 100: budget closed post-restart
      q2.processAllAvailable()
      val rows = spark.read.parquet(outDir)
        .select("doc_id", "cum_tokens").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rows == Set((1L, 70L), (2L, 95L)),
        s"state must restore seen=70 across the restart, got $rows")
    } finally q2.stop()
  }

  test("streaming ANN probe: stream-static index join, heap-bounded top-k per query") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // static IVF index: cluster 0 holds axis-ish vectors, cluster 1 others
    val index = Seq(
      (10L, Array(1.0f, 0.0f), 0), (11L, Array(0.8f, 0.6f), 0),
      (12L, Array(0.0f, 1.0f), 0), (20L, Array(-1.0f, 0.0f), 1))
      .toDF("vec_id", "embedding", "cid")
    val mem = MemoryStream[(Long, Array[Float], Int)]
    val queries = mem.toDF().toDF("query_id", "q_emb", "cid")
    val out = EventTimeAggregates.streamingAnnProbe(queries, index, 2)
    val q = out.writeStream.format("memory").queryName("ann")
      .outputMode(OutputMode.Update()).start()
    try {
      mem.addData((100L, Array(1.0f, 0.0f), 0), (200L, Array(-1.0f, 0.1f), 1))
      q.processAllAvailable()
      val rows = spark.sql("select query_id, rk, vec_id from ann").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      // query 100 in cluster 0: best = vec 10 (cos 1.0), then 11 (0.8);
      // vec 20 is in the unprobed cluster. query 200: only vec 20.
      assert(rows == Set((100L, 1, 10L), (100L, 2, 11L), (200L, 1, 20L)), s"got $rows")
    } finally q.stop()
  }

  test("streaming incremental dedup: arriving docs verify against the persisted band index") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // static corpus: three docs, band index persisted via DedupIndex
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "pack my box with five dozen liquor jugs right now"),
      (3L, "sphinx of black quartz judge my vow said the king"))
      .toDF("doc_id", "text")
    val corpusSh = corpus.select(col("doc_id"),
      expr(s"graft_shingles(split(trim(text), '\\\\s+'), 3)").as("sh"))
    graft.operators.DedupIndex.write(
      graft.operators.Dedup.bandBuckets(corpusSh), "stream_band_idx", 4)
    val index = spark.table("stream_band_idx")

    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val out = EventTimeAggregates.streamingIncrementalDedup(
      docs, index, corpusSh)
    val q = out.writeStream.format("memory").queryName("sdedup")
      .outputMode(OutputMode.Update()).start()
    try {
      mem.addData(
        (100L, "the quick brown fox jumps over the lazy dog today"), // dup of 1
        (101L, "completely novel content that matches nothing else here at all"))
      q.processAllAvailable()
      val rows = spark.sql("select doc_id, dup_of from sdedup").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // only the duplicate emits, canonicalized to corpus doc 1
      assert(rows == Set((100L, 1L)), s"got $rows")

      // a later micro-batch: another dup (of corpus doc 2), state carries
      mem.addData((102L, "pack my box with five dozen liquor jugs right now"))
      q.processAllAvailable()
      val rows2 = spark.sql("select doc_id, dup_of from sdedup").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rows2 == Set((100L, 1L), (102L, 2L)), s"got $rows2")
    } finally q.stop()
  }

  test("streaming novelty equals batch q194 point-for-point across micro-batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    def run(a: Int, b: Int) = (a to b).map(i => s"t$i").mkString(" ")
    // reference corpus: two docs; their distinct 5-grams are the static side
    val ref = Seq((1L, run(1, 30)), (2L, run(50, 80))).toDF("doc_id", "text")
    val refGrams = ref.select(explode(expr(
      s"graft_shingles(${graft.operators.Dedup.toks}, 5)")).as("gram")).distinct()
      .localCheckpoint()
    // arriving docs: a near-copy (low novelty), an overlap, a novel doc
    val arriving = Seq(
      (10L, run(1, 30)),          // all grams seen -> novelty 0
      (11L, run(20, 45)),         // partial overlap
      (12L, run(100, 130)))       // fully novel -> novelty 1e6
    val mem = MemoryStream[(Long, String)]
    val out = EventTimeAggregates.streamingNovelty(
      mem.toDF().toDF("doc_id", "text"), refGrams)
    val q = out.writeStream.format("memory").queryName("snov")
      .outputMode(OutputMode.Update()).start()
    try {
      mem.addData(arriving(0), arriving(1))
      q.processAllAvailable()
      mem.addData(arriving(2))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.sql(
      "select doc_id, n_grams, n_seen, novelty_ppm from snov")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .groupBy(_._1).map { case (k, v) => k -> v.last._2 } // Update mode: last wins
    // batch truth: the same computation over a static frame
    val batch = arriving.toDF("doc_id", "text")
      .select(col("doc_id"), explode(expr(
        s"graft_shingles(${graft.operators.Dedup.toks}, 5)")).as("gram"))
      .join(refGrams.withColumn("hit", lit(1)), Seq("gram"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("n_seen"))
      .withColumn("novelty_ppm", expr("(n_grams - n_seen) * 1000000L div n_grams"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == batch, s"stream $got != batch $batch")
    assert(got(10L)._3 == 0L && got(12L)._3 == 1000000L,
      s"novelty extremes wrong: $got")
  }

  test("watermarked streaming novelty: identical scores, closed-window state evicted (r9 advice)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    def run(a: Int, b: Int) = (a to b).map(i => s"t$i").mkString(" ")
    val refGrams = Seq((1L, run(1, 30))).toDF("doc_id", "text")
      .select(explode(expr(
        s"graft_shingles(${graft.operators.Dedup.toks}, 5)")).as("gram"))
      .distinct().localCheckpoint()
    def t(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val mem = MemoryStream[(java.sql.Timestamp, Long, String)]
    val out = EventTimeAggregates.streamingNovelty(
      mem.toDF().toDF("ts", "doc_id", "text"), refGrams,
      eventTime = Some("ts"))
    val q = out.writeStream.format("memory").queryName("snovw")
      .outputMode(OutputMode.Update()).start()
    try {
      // window [10:00,10:10): three docs
      mem.addData((t(10, 1), 20L, run(1, 30)),
        (t(10, 2), 21L, run(20, 45)), (t(10, 3), 22L, run(100, 130)))
      q.processAllAvailable()
      // 11:00 advances the watermark to 10:50 — far past the first
      // window's close+delay, so its three state rows must evict
      mem.addData((t(11, 0), 23L, run(1, 30)))
      q.processAllAvailable()
      mem.addData((t(11, 1), 24L, run(200, 220)))
      q.processAllAvailable()
      val got = spark.sql("select doc_id, novelty_ppm from snovw").collect()
        .groupBy(_.getLong(0)).map { case (k, v) => k -> v.last.getLong(1) }
      assert(got(20L) == 0L && got(22L) == 1000000L && got(23L) == 0L &&
        got(24L) == 1000000L, s"scores wrong: $got")
      assert(got(21L) > 0L && got(21L) < 1000000L, s"partial overlap: $got")
      // eviction: only the live 11:xx windows' rows remain in state
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows <= 2,
        s"closed-window novelty state not evicted: $stateRows rows")
    } finally q.stop()
  }

  test("streaming LM scoring equals batch q201 point-for-point across micro-batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    def run(a: Int, b: Int) = (a to b).map(i => s"w${i % 40}").mkString(" ")
    // offline training on the reference corpus (the batch q201 recipe)
    val ref = Seq((1L, run(1, 60)), (2L, run(20, 90))).toDF("doc_id", "text")
      .select(col("doc_id"), expr(graft.operators.Dedup.toks).as("tk"))
      .filter(expr("size(tk) >= 2"))
    val refP = ref
      .select(explode(expr("sequence(1, size(tk) - 1)")).as("i"), col("tk"))
      .select(expr("element_at(tk, i)").as("a"),
        expr("element_at(tk, i + 1)").as("b"))
    val big = refP.groupBy("a", "b").agg(count(lit(1)).as("cab"))
      .localCheckpoint()
    val heads = refP.groupBy("a").agg(count(lit(1)).as("ca"))
      .localCheckpoint()
    val vocab = ref.select(explode(col("tk")).as("t"))
      .agg(countDistinct(col("t"))).collect()(0).getLong(0)
    val arriving = Seq(
      (10L, run(1, 60)),    // in-distribution → high mean p
      (11L, run(200, 230)), // wraps to w0..w39 but different bigram mix
      (12L, "zzz yyy xxx www vvv")) // fully OOV → add-1 floor
    val mem = MemoryStream[(Long, String)]
    val out = EventTimeAggregates.streamingLmScore(
      mem.toDF().toDF("doc_id", "text"), big, heads, vocab)
    val q = out.writeStream.format("memory").queryName("slm")
      .outputMode(OutputMode.Update()).start()
    try {
      mem.addData(arriving(0), arriving(1))
      q.processAllAvailable()
      mem.addData(arriving(2))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.sql("select doc_id, n_bigrams, mean_p_ppm from slm")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
      .groupBy(_._1).map { case (k, v) => k -> v.last._2 }
    // batch truth: the same op over a static frame of everything arrived
    val batch = EventTimeAggregates.streamingLmScore(
      arriving.toDF("doc_id", "text"), big, heads, vocab)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got == batch, s"stream $got != batch $batch")
    assert(got(10L)._2 > got(12L)._2,
      "in-distribution doc must outscore the OOV doc")
  }

  test("streaming kNN-graph append equals fixed-corpus batch edges (q204 incremental twin)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.operators.{AnnGraph, Similarity}
    val all = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val isNew = col("vec_id") % 50 === 0 // 10 arriving vectors
    val corpus = all.filter(!isNew)
      .withColumn("bucket", expr(AnnGraph.bucketExpr("embedding")))
      .withColumn("cell", expr(Similarity.clusterExprSpark("embedding")))
      .localCheckpoint()
    val arriving = all.filter(isNew).as[(Long, Seq[Float])].collect().toSeq
      .sortBy(_._1)
    val mem = MemoryStream[(Long, Seq[Float])]
    val out = EventTimeAggregates.streamingGraphAppend(
      mem.toDF().toDF("vec_id", "embedding"), corpus)
    val q = out.writeStream.format("memory").queryName("gappend")
      .outputMode(OutputMode.Update()).start()
    try {
      mem.addData(arriving.take(4): _*)
      q.processAllAvailable()
      mem.addData(arriving.drop(4): _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.sql("select src, dst, w from gappend").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // independent batch formulation: OR-join + row_number window over the
    // same blockings/score — different plan (no disjoint-union trick, no
    // bounded heap), same contract
    val newDf = arriving.toDF("vec_id", "embedding")
      .withColumn("bucket", expr(AnnGraph.bucketExpr("embedding")))
      .withColumn("cell", expr(Similarity.clusterExprSpark("embedding")))
      .select(col("vec_id").as("src"), col("embedding").as("emb_new"),
        col("bucket").as("n_bucket"), col("cell").as("n_cell"))
    val expected = newDf
      .join(corpus.select(col("vec_id").as("dst"),
        col("embedding").as("emb_old"), col("bucket"), col("cell")),
        col("n_cell") === col("cell") || col("n_bucket") === col("bucket"))
      .withColumn("w", expr(AnnGraph.scoreExpr("emb_new", "emb_old")))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("src")
          .orderBy(col("w").desc, col("dst").asc)))
      .filter(col("rk") <= AnnGraph.degreeM)
      .select("src", "dst", "w").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected,
      s"stream-batch edge mismatch: only-stream ${(got -- expected).take(5)}" +
        s" only-batch ${(expected -- got).take(5)}")
    assert(got.groupBy(_._1).values.forall(_.size <= AnnGraph.degreeM))
    assert(got.map(_._1) == arriving.map(_._1).toSet,
      "every arriving vector must acquire edges")

    // watermarked variant: same edges through event-time windows
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val memW = MemoryStream[(java.sql.Timestamp, Long, Seq[Float])]
    val outW = EventTimeAggregates.streamingGraphAppend(
      memW.toDF().toDF("ts", "vec_id", "embedding"), corpus,
      eventTime = Some("ts"))
    val qw = outW.writeStream.format("memory").queryName("gappendw")
      .outputMode(OutputMode.Update()).start()
    try {
      memW.addData(arriving.take(4).zipWithIndex.map {
        case ((id, e), i) => (t(i + 1), id, e) }: _*)
      qw.processAllAvailable()
      memW.addData(arriving.drop(4).zipWithIndex.map {
        case ((id, e), i) => (t(i + 5), id, e) }: _*)
      qw.processAllAvailable()
    } finally qw.stop()
    val gotW = spark.sql("select src, dst, w from gappendw").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(gotW == expected, s"watermarked edges differ")
  }

  test("streaming DSIR importance equals the batch q203 kernel point-for-point (r10 verdict #6)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    def run(a: Int, b: Int) = (a to b).map(i => s"w${i % 40}").mkString(" ")
    // target = curated reference; raw = the candidate-pool snapshot
    // (exactly batch q203's two training slices: at-ingestion DSIR uses
    // an offline snapshot of the pool as the raw model)
    val ref = Seq((7L, run(1, 60)), (14L, run(20, 90)))
    val pool = Seq(
      (10L, run(1, 60)),    // looks like the target → positive importance
      (11L, run(200, 230)),
      (12L, "zzz yyy xxx www vvv uuu")) // OOV under both models
    def model(docs: Seq[(Long, String)]) = {
      val tk = docs.toDF("doc_id", "text")
        .select(col("doc_id"), expr(graft.operators.Dedup.toks).as("tk"))
        .filter(expr("size(tk) >= 2"))
      val p = tk
        .select(explode(expr("sequence(1, size(tk) - 1)")).as("i"), col("tk"))
        .select(expr("element_at(tk, i)").as("a"),
          expr("element_at(tk, i + 1)").as("b"))
      val big = p.groupBy("a", "b").agg(count(lit(1)).as("cab")).localCheckpoint()
      val heads = p.groupBy("a").agg(count(lit(1)).as("ca")).localCheckpoint()
      val v = tk.select(explode(col("tk")).as("t"))
        .agg(countDistinct(col("t"))).collect()(0).getLong(0)
      (big, heads, v)
    }
    val (tb, th, tv) = model(ref)
    val (rb, rh, rv) = model(pool)
    val mem = MemoryStream[(Long, String)]
    val out = EventTimeAggregates.streamingDsirImportance(
      mem.toDF().toDF("doc_id", "text"), tb, th, tv, rb, rh, rv)
    val q = out.writeStream.format("memory").queryName("sdsir")
      .outputMode(OutputMode.Update()).start()
    try {
      mem.addData(pool(0), pool(1))
      q.processAllAvailable()
      mem.addData(pool(2))
      q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
    val got = rows(spark.sql(
      "select doc_id, n_bigrams, p_target_ppm, p_raw_ppm, imp_ppm from sdsir"))
      .groupBy(_._1).map { case (k, v) => k -> v.last._2 }
    // batch truth: the q203 kernel over a static frame of everything
    // that arrived, same trained tables
    val batch = rows(EventTimeAggregates.streamingDsirImportance(
      pool.toDF("doc_id", "text"), tb, th, tv, rb, rh, rv)).toMap
    assert(got == batch, s"stream $got != batch $batch")
    // the target-like doc must carry the highest importance; a doc the
    // raw pool explains as well as the target does not
    assert(got(10L)._4 == got.values.map(_._4).max)

    // watermarked variant: same scores through event-time windows
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val memW = MemoryStream[(java.sql.Timestamp, Long, String)]
    val outW = EventTimeAggregates.streamingDsirImportance(
      memW.toDF().toDF("ts", "doc_id", "text"), tb, th, tv, rb, rh, rv,
      eventTime = Some("ts"))
    val qw = outW.writeStream.format("memory").queryName("sdsirw")
      .outputMode(OutputMode.Update()).start()
    try {
      memW.addData((t(1), 10L, pool(0)._2), (t(2), 11L, pool(1)._2))
      qw.processAllAvailable()
      memW.addData((t(3), 12L, pool(2)._2))
      qw.processAllAvailable()
    } finally qw.stop()
    val gotW = rows(spark.sql(
      "select doc_id, n_bigrams, p_target_ppm, p_raw_ppm, imp_ppm from sdsirw"))
      .groupBy(_._1).map { case (k, v) => k -> v.last._2 }
    assert(gotW == batch, s"watermarked $gotW != batch $batch")
  }

  test("streaming quantization drift equals the batch q199 computation across micro-batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // deterministic codebook + vectors (the op takes the codebook as a
    // parameter, so the test controls the geometry end to end)
    val cb = Array.tabulate(8, 16, 8)((m, k, d) =>
      (((m * 131 + k * 17 + d * 7) % 23) - 11) / 8.0)
    def vec(seed: Int): Array[Float] =
      Array.tabulate(64)(i => (((seed * 31 + i * 13) % 17) - 8) / 4.0f)
    // base snapshot: training-time residual masses, batch-computed with
    // the SAME residStructs kernel
    val base = (0 until 20).map(s => Tuple1(vec(s))).toDF("embedding")
      .select(explode(array(
        graft.operators.ProductQuantization.residStructs(cb): _*)).as("sub"))
      .groupBy(col("sub.m").as("m"))
      .agg(count(lit(1)).as("n_base"), sum(col("sub.rfp")).as("base_resid_fp"))
      .localCheckpoint()
    val arriving = (100 until 110).map(vec)
    val mem = MemoryStream[Array[Float]]
    val out = EventTimeAggregates.streamingQuantDrift(
      mem.toDF().toDF("embedding"), cb, base)
    val q = out.writeStream.format("memory").queryName("qdrift")
      .outputMode(OutputMode.Update()).start()
    try {
      mem.addData(arriving.take(5): _*)
      q.processAllAvailable()
      mem.addData(arriving.drop(5): _*)
      q.processAllAvailable()
    } finally q.stop()
    // latest row per subspace = the one with the largest n_app (the
    // counter is monotone across Update-mode emissions)
    val got = spark.sql(
      "select m, n_base, n_app, base_resid_fp, app_resid_fp, drift_ppm from qdrift")
      .collect()
      .map(r => (r.getInt(0), (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))))
      .groupBy(_._1).map { case (m, v) => m -> v.map(_._2).maxBy(_._2) }
    // batch truth: the op is pure DataFrame algebra, so running it over
    // a STATIC frame of everything that arrived IS the q199 semantics
    val expected = EventTimeAggregates.streamingQuantDrift(
      arriving.map(Tuple1(_)).toDF("embedding"), cb, base)
      .collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(got.size == 8 && expected.size == 8)
    assert(got == expected, s"stream $got\nbatch $expected")
    assert(got.values.forall(_._2 == 10L), "all 10 arrivals counted per subspace")
  }

  test("streaming drift monitor: per-window TV against the broadcast reference histogram") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long)]
    val rows = mem.toDF().toDF("ts", "bucket")
    // reference mix: bucket 0 half the corpus, 1 and 2 a quarter each
    val ref = Seq((0L, 0.5), (1L, 0.25), (2L, 0.25)).toDF("bucket", "ref_p")
    val out = EventTimeAggregates.streamingDriftMonitor(rows, ref,
      "10 minutes", "10 minutes")
    val q = out.writeStream.format("memory").queryName("drift")
      .outputMode(OutputMode.Append()).start()
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    try {
      // window 10:00: buckets {0,0,1,1} → p = (0.5, 0.5, 0); bucket 2 is
      // missing mass. TV = ½(|0.5−0.5| + |0.5−0.25| + (1−0.75)) = 0.25
      mem.addData((t(1), 0L), (t(2), 0L), (t(3), 1L), (t(4), 1L))
      q.processAllAvailable()
      mem.addData((t(45), 0L)) // watermark → 10:35, closes the 10:00 window
      q.processAllAvailable()
      val got = spark.sql(
        "select window_start, n_rows, tv from drift order by 1").collect()
        .map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getDouble(2)))
      assert(got.contains(("2024-01-01 10:00:00.0", 4L, 0.25)),
        s"got ${got.mkString(", ")}")
    } finally q.stop()
  }

  test("stream-stream interval join with watermarks matches views to purchases") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val views = MemoryStream[(Long, java.sql.Timestamp)]
    val buys = MemoryStream[(Long, java.sql.Timestamp)]
    val v = views.toDF().toDF("user_id", "vts").withWatermark("vts", "1 hour")
    val b = buys.toDF().toDF("buy_user", "bts").withWatermark("bts", "1 hour")
    // purchase within 30 minutes after a view, same user
    val joined = v.join(b,
      expr("user_id = buy_user AND bts >= vts AND bts <= vts + interval 30 minutes"))
    val q = joined.writeStream.format("memory").queryName("ssj")
      .outputMode(OutputMode.Append()).start()
    try {
      views.addData((1L, t(0)), (2L, t(0)))
      buys.addData((1L, t(10)), (2L, t(50))) // user 2's buy outside the window
      q.processAllAvailable()
      val rows = spark.sql("select user_id from ssj").collect().map(_.getLong(0)).toSeq
      assert(rows == Seq(1L))
    } finally q.stop()
  }

  test("streaming dedup drops duplicates within the watermark, state expires after it") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    val out = EventTimeAggregates.streamingDedup(
      mem.toDF().toDF("event_id", "ts"), watermarkDelay = "5 minutes")
    val q = out.writeStream.format("memory").queryName("dedup")
      .outputMode(OutputMode.Append()).start()
    def count(id: Long) = spark.sql(
      s"select count(*) from dedup where event_id = $id").collect()(0).getLong(0)
    try {
      mem.addData((1L, t(0)), (1L, t(1)), (2L, t(1))) // in-batch duplicate
      q.processAllAvailable()
      assert(count(1L) == 1 && count(2L) == 1)

      mem.addData((1L, t(2))) // duplicate within the watermark → dropped
      q.processAllAvailable()
      assert(count(1L) == 1)

      mem.addData((9L, t(40))) // watermark → 10:35, id 1's state expires
      q.processAllAvailable()
      mem.addData((1L, t(41))) // recurs after the horizon → passes again
      q.processAllAvailable()
      assert(count(1L) == 2)
    } finally q.stop()
  }

  test("sessionizer state expires via event-time timeout once the watermark passes lastTs + gap") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[SessionEvent]
    // zero watermark delay: the watermark tracks max event time exactly
    val out = EventTimeAggregates.sessionize(mem.toDS(), gapUs = 1000L,
      watermarkDelay = "0 seconds")
    val q = out.writeStream.format("memory").queryName("sessexp")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(SessionEvent(1, 10, 1000))          // user 1, session 1
      q.processAllAvailable()
      mem.addData(SessionEvent(2, 20, 10000000L))     // watermark → 10 s
      q.processAllAvailable()
      mem.addData(SessionEvent(3, 30, 20000000L))     // batch with wm 10 s:
      q.processAllAvailable()                         // user 1 state times out
      mem.addData(SessionEvent(1, 13, 30000000L))     // user 1 returns
      q.processAllAvailable()

      val rows = spark.sql("select * from sessexp").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      // state was REMOVED at timeout: the returning user restarts at
      // session 1 (surviving NoTimeout state would have said session 2)
      assert(rows((1L, 13L)) == 1)
      assert(rows((1L, 10L)) == 1)
    } finally q.stop()
  }

  test("stateful sessionizer splits on gap and persists state across batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[SessionEvent]
    val out = EventTimeAggregates.sessionize(mem.toDS(), gapUs = 1000L)
    val q = out.writeStream.format("memory").queryName("sess")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(
        SessionEvent(1, 10, 1000), SessionEvent(1, 11, 1500), // session 1
        SessionEvent(1, 12, 5000),                            // gap → session 2
        SessionEvent(2, 20, 1000))                            // other user
      q.processAllAvailable()
      mem.addData(SessionEvent(1, 13, 5500))                  // continues session 2
      q.processAllAvailable()

      val rows = spark.sql("select * from sess").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(rows((1L, 10L)) == 1)
      assert(rows((1L, 11L)) == 1)
      assert(rows((1L, 12L)) == 2)
      assert(rows((1L, 13L)) == 2) // state survived the micro-batch boundary
      assert(rows((2L, 20L)) == 1)
    } finally q.stop()
  }

  test("streaming EWMA equals batch q150 point-for-point across micro-batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // the batch truth: q150's dense (type, day, n, num, den, ewma) rows
    val batch = SparkEntry.queries("q150_ewma")(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
      .toMap
    assert(batch.nonEmpty)
    // feed the SAME dense daily counts as a stream, split mid-series so
    // the trailing-window state must cross the micro-batch boundary
    val daily = batch.toSeq.map { case ((t, d), (n, _, _, _)) => (t, d, n) }
      .sortBy { case (t, d, _) => (t, d) }
    val (b1, b2) = daily.partition(_._2 < 15)
    val mem = MemoryStream[(String, Long, Long)]
    val out = EventTimeAggregates.streamingEwma(
      mem.toDS().map { case (t, d, n) => DailyCount(t, d, n) })
    val q = out.writeStream.format("memory").queryName("sewma")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
      val got = spark.sql(
        "select event_type, day, n, ewma_num, ewma_den, ewma from sewma")
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
      assert(got.length == batch.size, s"${got.length} vs ${batch.size}")
      got.foreach { case (k, v) =>
        assert(batch(k) == v, s"$k: stream $v vs batch ${batch(k)}")
      }
    } finally q.stop()
  }

  test("streaming EWMA state survives a checkpoint restart (bins + series head)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[(String, Long, Long)]
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt-ewma").toString
    val outDir = java.nio.file.Files.createTempDirectory("ewma-out").toString
    val out = EventTimeAggregates.streamingEwma(
      mem.toDS().map { case (t, d, n) => DailyCount(t, d, n) })
    def start() = out.writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()

    val q1 = start()
    mem.addData(("x", 0L, 100L), ("x", 1L, 50L))
    q1.processAllAvailable()
    q1.stop()

    // restart: day 2's numerator must weight the RESTORED day-0/1 bins
    // (a reset state would see an empty history and a day-2 head)
    val q2 = start()
    try {
      mem.addData(("x", 2L, 80L))
      q2.processAllAvailable()
      val rows = spark.read.parquet(outDir)
        .select("day", "ewma_num", "ewma_den").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val w = graft.operators.Series.EwmaWeights
      val d = graft.operators.Series.EwmaDens
      assert(rows(0L) == ((w(0) * 100, d(0))))
      assert(rows(1L) == ((w(0) * 50 + w(1) * 100, d(1))))
      assert(rows(2L) == ((w(0) * 80 + w(1) * 50 + w(2) * 100, d(2))),
        s"restored bins must feed day 2, got ${rows(2L)}")
    } finally q2.stop()
  }

  test("streaming CUSUM equals batch q173 point-for-point with batch-derived parameters") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val batch = SparkEntry.queries("q173_cusum")(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getBoolean(4)))
      .toMap
    assert(batch.nonEmpty)
    // the calibration the batch derives from its window: per type
    // (tot = Σn, dcnt = #days)
    val params = batch.toSeq.groupBy(_._1._1).map { case (t, rows) =>
      t -> (rows.map(_._2._1).sum, rows.size.toLong)
    }
    val daily = batch.toSeq.map { case ((t, d), (n, _, _)) => (t, d, n) }
      .sortBy { case (t, d, _) => (t, d) }
    val (b1, b2) = daily.partition(_._2 < 15)
    val mem = MemoryStream[(String, Long, Long)]
    val out = EventTimeAggregates.streamingCusum(
      mem.toDS().map { case (t, d, n) => DailyCount(t, d, n) }, params)
    val q = out.writeStream.format("memory").queryName("scusum")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val got = spark.sql(
        "select event_type, day, n, cusum, is_alarm from scusum")
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3), r.getBoolean(4)))
      assert(got.length == batch.size)
      got.foreach { case (k, v) =>
        assert(batch(k) == v, s"$k: stream $v vs batch ${batch(k)}")
      }
    } finally q.stop()
  }

  test("streaming CUSUM drops uncalibrated event types instead of always-alarming (r6 advice)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[(String, Long, Long)]
    // only "known" carries calibration; "mystery" must emit NOTHING
    // (the old (0, 1) default made step = n and threshold 0 — every
    // first nonzero day alarmed, silently)
    val out = EventTimeAggregates.streamingCusum(
      mem.toDS().map { case (t, d, n) => DailyCount(t, d, n) },
      Map("known" -> ((300L, 3L))))
    val q = out.writeStream.format("memory").queryName("scusum_uncal")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(("known", 0L, 100L), ("mystery", 0L, 100L),
        ("mystery", 1L, 100L))
      q.processAllAvailable()
      val types = spark.sql("select distinct event_type from scusum_uncal")
        .collect().map(_.getString(0)).toSet
      assert(types == Set("known"),
        s"uncalibrated types must be dropped at the door, got $types")
    } finally q.stop()
  }

  test("streaming Markov transitions equal batch q179 bigrams across a batch split + restart") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // batch truth: the (from, to) counts of q179 at sf0.001
    val batch = SparkEntry.queries("q179_markov_transitions")(
      spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(batch.nonEmpty)
    // the same events, in event-time order, split across two micro-batches
    // AND a checkpoint restart (the per-user last-event state must survive)
    val evs = graft.operators.Synth.events(spark, "/root/testdata/sf0.001")
      .selectExpr("user_id", "cast(ts as long) as ts_us", "event_id",
        "event_type")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(t => (t._2, t._3))
    val (b1, b2) = evs.splitAt(evs.length / 2)
    val mem = MemoryStream[(Long, Long, Long, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt-markov").toString
    val outDir = java.nio.file.Files.createTempDirectory("markov-out").toString
    val out = EventTimeAggregates.streamingMarkov(
      mem.toDS().map { case (u, t, i, e) =>
        EventTimeAggregates.EventAt(u, t, i, e) })
    def start() = out.writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()
    val q1 = start()
    mem.addData(b1: _*)
    q1.processAllAvailable()
    q1.stop()
    val q2 = start()
    try {
      mem.addData(b2: _*)
      q2.processAllAvailable()
      val got = spark.read.parquet(outDir)
        .groupBy("from_type", "to_type").count().collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(got == batch,
        s"stream bigram counts must equal batch q179's: " +
          s"missing=${batch.keySet -- got.keySet} extra=${got.keySet -- batch.keySet}")
    } finally q2.stop()
  }

  test("streaming CDC chunk dedup equals batch q176 across mid-document splits + restart") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // batch truth at sf0.001: (doc_id, n_chunks, n_kept)
    val batch = SparkEntry.queries("q176_cdc_chunks")(
      spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(batch.nonEmpty)

    // the same docs as ordered token segments: each doc split into up to
    // 3 pieces, delivered in doc order, with the MICRO-BATCH cut landing
    // mid-document (both halves of doc at the boundary) AND a checkpoint
    // restart between the batches — the carried lastToken/chunk state
    // must survive both
    val docs = graft.operators.Synth.documents(spark, "/root/testdata/sf0.001")
      .selectExpr("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val segments = docs.flatMap { case (id, text) =>
      val toks = text.trim.split("\\s+").toSeq
      val cut1 = toks.length / 3
      val cut2 = 2 * toks.length / 3
      Seq(
        EventTimeAggregates.DocSegment(id, 0, toks.take(cut1), last = false),
        EventTimeAggregates.DocSegment(id, 1, toks.slice(cut1, cut2), last = false),
        EventTimeAggregates.DocSegment(id, 2, toks.drop(cut2), last = true))
    }
    val mid = segments.length / 2 // lands inside some doc's segment run
    val (s1, s2) = segments.splitAt(mid)

    val mem = MemoryStream[EventTimeAggregates.DocSegment]
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt-cdc").toString
    val outDir = java.nio.file.Files.createTempDirectory("cdc-chunks").toString
    val chunks = EventTimeAggregates.streamingCdcChunks(mem.toDS())
    def start() = chunks.writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()
    val q1 = start()
    mem.addData(s1: _*)
    q1.processAllAvailable()
    q1.stop()
    val q2 = start()
    val allChunks =
      try {
        mem.addData(s2: _*)
        q2.processAllAvailable()
        spark.read.parquet(outDir).as[EventTimeAggregates.CdcChunk]
          .collect().sortBy(c => (c.doc_id, c.start))
      } finally q2.stop()

    // stage 2 (its own query, as documented): chunks in (doc_id, start)
    // order — the batch window's order — split across two micro-batches
    val memD = MemoryStream[EventTimeAggregates.CdcChunk]
    val kept = EventTimeAggregates.streamingChunkDedup(memD.toDS())
    val qd = kept.writeStream.format("memory").queryName("cdc_kept")
      .outputMode(OutputMode.Append()).start()
    try {
      val (c1, c2) = allChunks.splitAt(allChunks.length / 2)
      memD.addData(c1.toSeq: _*); qd.processAllAvailable()
      memD.addData(c2.toSeq: _*); qd.processAllAvailable()
      val got = spark.sql("select doc_id, kept from cdc_kept").collect()
        .map(r => (r.getLong(0), r.getBoolean(1)))
        .groupBy(_._1)
        .map { case (id, xs) =>
          id -> ((xs.size.toLong, xs.count(_._2).toLong)) }
      assert(got == batch,
        s"stream (n_chunks, n_kept) per doc must equal batch q176: " +
          s"diff=${(got.toSet -- batch.toSet).take(5)}")
    } finally qd.stop()
  }

  test("streaming Misra-Gries heavy hitters honor the n/(k+1) guarantees across batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val K = 10
    // skewed stream: two genuine heavy hitters + a long distinct tail,
    // split across micro-batches so the summaries must survive state
    val heavy = Seq.fill(400)("hh_a") ++ Seq.fill(250)("hh_b")
    val tail = (1 to 800).map(i => s"t_$i")
    val all = scala.util.Random.javaRandomToRandom(
      new java.util.Random(42)).shuffle(heavy ++ tail)
    val (b1, b2) = all.splitAt(all.size / 2)
    val exact = all.groupBy(identity).map { case (s, xs) => s -> xs.size.toLong }

    val mem = MemoryStream[String]
    val out = EventTimeAggregates.streamingHeavyHitters(mem.toDS(), K, buckets = 4)
    val q = out.writeStream.format("memory").queryName("mg")
      .outputMode(OutputMode.Update()).start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val rows = spark.sql("select bucket, batch, n, items from mg").collect()
      // latest row per bucket
      val latest = rows.groupBy(_.getInt(0)).values
        .map(_.maxBy(_.getLong(1))).toSeq
      assert(latest.nonEmpty)
      var sawHeavy = 0
      for (r <- latest) {
        val bucket = r.getInt(0)
        val n = r.getLong(2)
        val est = r.getMap[String, Long](3).toMap
        val bound = n / (K + 1) + 1
        // exact truth restricted to this bucket's substream
        val truth = exact.filter { case (s, _) =>
          math.floorMod(s.hashCode, 4) == bucket }
        assert(truth.values.sum == n, s"bucket $bucket stream length")
        est.foreach { case (item, e) =>
          val t = truth(item)
          assert(e <= t, s"$item overestimated: $e > $t") // MG never overcounts
          assert(t - e <= bound, s"$item undercount ${t - e} > $bound")
        }
        truth.filter(_._2 > bound).keys.foreach { hh =>
          assert(est.contains(hh), s"frequent item $hh missing from bucket $bucket")
          sawHeavy += 1
        }
      }
      assert(sawHeavy >= 2, "the planted heavy hitters must be found")
    } finally q.stop()
  }
}
