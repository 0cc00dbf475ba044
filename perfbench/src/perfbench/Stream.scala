package perfbench

import java.io.FileOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Path
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.config.Purpose
import graft.sources.RecordSources
import graft.streaming.LoaderPipeline

/** `sdj_stream`: `LoaderPipeline.stream` over the file-backed Kinesis
  * source (`graft-kinesis`, 4 shard files), maxDelay 1 s, 750 records per
  * shard per trigger.
  *
  *  - Phase A (catch-up): the loader drains a backlog written before the
  *    query starts, from TRIM_HORIZON.
  *  - Phase B (open loop): one generator thread appends whole lines at a
  *    fixed rate, each stamped with its scheduled send time (ms from the
  *    phase start). Lag is measured from that schedule, so a stall counts
  *    against every record due during it.
  */
object Stream {
  val Shards = 4
  val MaxRecordsPerShard = 750
  val MaxDelayMs = 1000L
  val BacklogRecords = 9000
  /** Half the loader's measured capacity on a contended 4-cpu host
    * (about 500 rec/s, where the backlog stopped draining): lag is
    * measured with headroom, not as queueing.
    */
  val RatePerS = 250
  /** Phase B lasts PhaseBWindows × --seconds: lag needs about six
    * micro-batches before its percentiles settle.
    */
  val PhaseBWindows = 3
  /** Phase-B records due in the first WarmupS seconds are not timed. */
  val WarmupS = 2.0
  val DrainTimeoutS = 60

  final case class Progress(batchId: Long, startMs: Double, durations: Map[String, Long],
      startOffset: Long, endOffset: Long, numInputRows: Long) {
    def records: Long = endOffset - startOffset
    def ms: Long = durations.getOrElse("triggerExecution", 0L)
  }

  private def offsetSum(json: String): Long =
    if (json == null) 0L
    else json.split(";").iterator.filter(_.contains("=")).map(p => p.substring(p.lastIndexOf('=') + 1).toLong).sum

  def run(ctx: Ctx): Result = {
    val phaseA = (0 until BacklogRecords).map(n => Gen.sdjRecord(ctx.seed, 0, n, 0L))
    val phaseBS = PhaseBWindows * ctx.seconds
    val phaseBCount = RatePerS * phaseBS
    val phaseB = (0 until phaseBCount).map { n =>
      Gen.sdjRecord(ctx.seed, 1, n, n * 1000L / RatePerS)
    }
    // the traced run drains a second backlog with its instruments attached
    val phaseA2 = if (ctx.trace) (0 until BacklogRecords).map(n =>
      Gen.sdjRecord(ctx.seed, 2, n, 0L)) else Nil
    val warmLines = (0 until 100).map(n => Gen.sdjRecord(ctx.seed, 22, n, 0L).line)
    val hash = new Gen.Hasher
    (phaseA ++ phaseA2 ++ phaseB).foreach(r => hash.add(r.line))

    val expected = mutable.HashMap.empty[String, Check.Label]
    (phaseA ++ phaseA2 ++ phaseB).foreach { r =>
      expected(r.id) = if (r.schema < 0) Check.Bad else Check.Good(Gen.sdjPartition(r.schema))
    }

    val shardDir = ctx.dir("shards")
    val ins = if (ctx.trace) Some(new Instruments) else None
    val (spark, setupPlain, setupTraced) = Setup.run(ctx, ctx.trace)(
      _ => Sessions.build(ctx, ctx.dir("warehouse"), ctx.cores)) { (s, _) =>
      import s.implicits._
      val warm = warmLines.map(_.getBytes(UTF_8)).toDF("value")
      LoaderPipeline.runBatch(warm, Setup.loaderConfig(ctx, Purpose.Sdj, "warm"),
        Setup.store, new LoaderPipeline.Metrics)
      PutLog.drain()
    }
    val sentinel = mutable.ArrayBuffer.fill(3)(Sentinel.once(spark))
    val heap = mutable.ArrayBuffer.empty[Double]

    // -- phase A
    Files2.fresh(shardDir)
    appendLines(shardDir, phaseA.zipWithIndex.map { case (r, n) => (n % Shards, r.line) })
    val progress = new ConcurrentLinkedQueue[Progress]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryIdle(e: QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.sources.nonEmpty) progress.add(Progress(p.batchId,
          java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          offsetSum(p.sources.head.startOffset), offsetSum(p.sources.head.endOffset),
          p.numInputRows))
      }
    }
    spark.streams.addListener(listener)
    def committed: Long = progress.asScala.map(_.endOffset).foldLeft(0L)(math.max)
    def commitTime(n: Long): Double = progress.asScala.filter(_.endOffset >= n)
      .map(p => p.startMs + p.durations.getOrElse("triggerExecution", 0L)).min

    val cfg = Setup.loaderConfig(ctx, Purpose.Sdj, "out", MaxDelayMs)
    val source = RecordSources.build(spark, RecordSources.Kinesis(
      streamName = shardDir.toString, region = "local", initialPosition = "TRIM_HORIZON",
      maxRecords = MaxRecordsPerShard, idleTimeBetweenReadsMs = MaxDelayMs,
      connectorFormat = "graft-kinesis"))
    val metrics = new LoaderPipeline.Metrics
    val rootSpan = Tracer.currentSpan
    val tA0 = Clock.nowMs
    val query = LoaderPipeline.stream(source, cfg, Setup.store, metrics).start()
    var failedBatches = 0L
    def await(n: Long): Boolean = {
      val deadline = System.nanoTime() + DrainTimeoutS * 1000000000L
      while (committed < n && query.isActive && System.nanoTime() < deadline) Thread.sleep(10)
      committed >= n
    }
    if (!await(BacklogRecords)) failedBatches += 1
    val tA1 = if (committed >= BacklogRecords) commitTime(BacklogRecords) else Clock.nowMs
    Tracer.add(Span(Tracer.nextId(), rootSpan, "streaming.phaseA", tA0, tA1))
    heap += Heap.oldGenAfterGcMb()

    // -- phase A2 (traced runs): a second backlog of the same size, traced
    val tracedWindows = mutable.ArrayBuffer.empty[(Double, Double)]
    ins.foreach { in =>
      in.attach(spark)
      val t0 = Clock.nowMs
      appendLines(shardDir, phaseA2.zipWithIndex.map { case (r, n) => (n % Shards, r.line) })
      val total = BacklogRecords * 2L
      if (!await(total)) failedBatches += 1
      val t1 = if (committed >= total) commitTime(total) else Clock.nowMs
      in.detach(spark)
      tracedWindows += ((t0, Clock.nowMs))
      Tracer.add(Span(Tracer.nextId(), rootSpan, "streaming.phaseA2", t0, t1))
    }
    val baseB = BacklogRecords.toLong * (if (ctx.trace) 2 else 1)

    // -- phase B
    val gen = new Generator(shardDir, phaseB.map(r => (r.sendMs, r.line)))
    val tB = Clock.nowMs + 50
    gen.start(tB)
    val halfMs = tB + phaseBS * 500.0
    var tracedFrom = Double.MaxValue
    ins.foreach { in =>
      while (Clock.nowMs < halfMs) Thread.sleep(5)
      in.attach(spark)
      tracedFrom = Clock.nowMs
    }
    gen.join()
    if (!await(baseB + phaseBCount)) failedBatches += 1
    val tB1 = Clock.nowMs
    ins.foreach(_.detach(spark))
    if (ctx.trace) tracedWindows += ((tracedFrom, tB1))
    def inTraced(t: Double) = tracedWindows.exists { case (a, b) => t >= a && t <= b }
    Tracer.add(Span(Tracer.nextId(), rootSpan, "streaming.phaseB", tB, tB1))
    heap += Heap.oldGenAfterGcMb()
    query.stop()
    spark.streams.removeListener(listener)
    if (query.exception.isDefined) {
      System.err.println(s"[perfbench] stream failed: ${query.exception.get}")
      failedBatches += 1
    }
    sentinel ++= Seq.fill(3)(Sentinel.once(spark))

    // -- check and lag
    val puts = PutLog.drain()
    val objs = Check.scan(Setup.goodRoot(ctx, "out"), Setup.badRoot(ctx, "out"), enriched = false)
    val report = Check.verify(objs, expected, 0, cfg.batching.maxBytes)
    val selfTest = Check.selfTest(objs, expected, 0, cfg.batching.maxBytes)
    val ends = Lag.putEnds(puts)
    val sendOf = phaseB.map(r => r.id -> r.sendMs).toMap
    // lag of each phase-B record at its first durable copy
    val firstPut = mutable.HashMap.empty[String, Double]
    objs.foreach { o =>
      ends.get(o.path).foreach { e =>
        o.ids.foreach(id => if (sendOf.contains(id) && firstPut.getOrElse(id, Double.MaxValue) > e)
          firstPut(id) = e)
      }
    }
    val lagged = phaseB.filter(_.sendMs >= WarmupS * 1000).flatMap { r =>
      firstPut.get(r.id).map(e => (tB + r.sendMs, e - (tB + r.sendMs)))
    }
    val (lagPlain, lagTraced) = lagged.partition(_._1 < tracedFrom)

    // backlog at each phase-B trigger start: generated minus committed
    val ps = progress.asScala.toVector.sortBy(_.batchId)
    val psB = ps.filter(p => p.startMs >= tB && p.startMs <= tB + phaseBS * 1000.0)
    val backlog = psB.map(p => (p.startMs, gen.generatedBy(p.startMs) + baseB - p.startOffset))
    val (early, late) = backlog.partition(_._1 < halfMs)
    val unsustainable = late.nonEmpty && early.nonEmpty &&
      Stats.median(late.map(_._2.toDouble)) > 2 * Stats.median(early.map(_._2.toDouble)) + RatePerS * 2
    val failed = report.failures + failedBatches * expected.size
    val attempted = expected.size.toLong

    // catch-up throughput: the median phase-A micro-batch, so one stalled
    // batch of three does not decide the run
    def drain(lo: Long, hi: Long): (Double, Double) = {
      val bs = ps.filter(p => p.startOffset >= lo && p.endOffset <= hi && p.records > 0)
      (Stats.median(bs.map(p => p.records * 1000.0 / math.max(1L, p.ms))),
        Stats.median(bs.map(_.ms / 1000.0)))
    }
    val (rateA, batchA) = drain(0, BacklogRecords)
    val e2e = Map(
      "setup_s" -> Stats.median(setupPlain),
      "peak_heap_mb" -> heap.max,
      "records_per_s" -> rateA,
      "pass_s" -> batchA,
      "lag_p50_ms" -> Stats.quantile(lagPlain.map(_._2), 0.5),
      "lag_p99_ms" -> Stats.quantile(lagPlain.map(_._2), 0.99))

    val layers = mutable.HashMap.empty[String, Double]
    ins.foreach { in =>
      // micro-batch spans with their progress phases, in execution order
      val batchSpans = ps.map { p =>
        val id = Tracer.nextId()
        val end = p.startMs + p.ms
        Tracer.add(Span(id, rootSpan, s"streaming.batch.${p.batchId}", p.startMs, end))
        var t = p.startMs
        Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
          .foreach { k => p.durations.get(k).foreach { d =>
            Tracer.add(Span(Tracer.nextId(), id, s"streaming.progress.$k", t, t + d)); t += d } }
        p.batchId -> id
      }.toMap
      in.emitSpans(b => batchSpans.getOrElse(b, rootSpan), puts)
      val tracedBatches = ps.count(p => inTraced(p.startMs))
      layers ++= LoaderLayers.from(in, tracedBatches, in.attachedS, ctx.cores,
        puts.filter(p => inTraced(p.start)))
      layers ++= LoaderLayers.puts(puts.filter(p => inTraced(p.start)), tracedBatches)
      def dq(k: String, q: Double) = Stats.quantile(psB.map(_.durations.getOrElse(k, 0L).toDouble), q)
      layers ++= Map(
        "streaming.batch_ms_p50" -> dq("triggerExecution", 0.5),
        "streaming.batch_ms_p99" -> dq("triggerExecution", 0.99),
        "streaming.add_batch_ms_p50" -> dq("addBatch", 0.5),
        "streaming.query_planning_ms_p50" -> dq("queryPlanning", 0.5),
        "streaming.wal_commit_ms_p50" -> dq("walCommit", 0.5),
        "streaming.commit_offsets_ms_p50" -> dq("commitOffsets", 0.5),
        "sources.latest_offset_ms_p50" -> dq("latestOffset", 0.5),
        "sources.backlog_records_p50" -> Stats.median(backlog.map(_._2.toDouble)),
        "sources.scan_rows_per_record" -> ps.map(_.numInputRows).sum.toDouble /
          math.max(1L, ps.map(_.records).sum),
        "bench.generator_late_ms_max" -> gen.lateMsMax)
      val goodB = objs.filter(o => !o.bad && ends.get(o.path).exists(_ >= tracedFrom))
      layers("sinks.compression_ratio") = {
        val ids = goodB.flatMap(_.ids).toSet
        val raw = phaseB.filter(r => ids(r.id)).map(_.line.getBytes(UTF_8).length + 1L).sum
        raw.toDouble / math.max(1L, goodB.map(_.compressedBytes).sum)
      }
      val lines = phaseA.map(_.line)
      val good = phaseA.filter(_.schema >= 0).map(_.line)
      val bad = phaseA.filter(_.schema < 0).map(_.line)
      val framed = lines.grouped(Gen.LinesPerPayload).map(g => Gen.frame(g.map(_.getBytes(UTF_8)))).toSeq
      layers ++= Probes.loaderProbes(spark, framed.map(Gen.gzip), framed.map(Gen.zstd),
        lines, good, bad, enriched = false)
      val traced = Map(
        "setup_s" -> Stats.median(setupTraced),
        "peak_heap_mb" -> heap.max,
        "records_per_s" -> drain(BacklogRecords, baseB)._1,
        "pass_s" -> drain(BacklogRecords, baseB)._2,
        "lag_p50_ms" -> Stats.quantile(lagTraced.map(_._2), 0.5),
        "lag_p99_ms" -> Stats.quantile(lagTraced.map(_._2), 0.99))
      e2e.foreach { case (k, v) => layers(s"trace.overhead.$k") = traced(k) - v }
    }
    spark.stop()

    val goodObjs = objs.filterNot(_.bad)
    val goodIds = goodObjs.flatMap(_.ids).toSet
    val rawGood = (phaseA ++ phaseA2 ++ phaseB).filter(r => goodIds(r.id))
      .map(_.line.getBytes(UTF_8).length + 1L).sum
    Result(
      e2e = e2e,
      reported = Map(
        "compression_ratio" -> rawGood.toDouble / math.max(1L, report.goodCompressedBytes),
        "objects_written" -> (report.goodObjects + report.badRowObjects).toDouble,
        "failed_ratio" -> failed.toDouble / attempted),
      layers = layers.toMap,
      attempted = attempted,
      failed = failed,
      correct = failed == 0 && selfTest.values.forall(identity),
      detail = Map(
        "input_sha256" -> hash.hex,
        "backlog_records" -> BacklogRecords, "phase_b_records" -> phaseBCount,
        "rate_per_s" -> RatePerS, "batches" -> ps.size,
        "batch_records" -> ps.map(_.records),
        "batch_ms" -> ps.map(_.ms),
        "phase_a_s" -> (tA1 - tA0) / 1000.0,
        "batch_start_ms" -> ps.map(_.startMs - tA0),
        "lag_samples" -> lagPlain.size,
        "unsustainable" -> unsustainable,
        "backlog_at_trigger" -> backlog.map(_._2),
        "generator_late_ms_max" -> gen.lateMsMax,
        "setup_s" -> setupPlain,
        "check" -> report.toMap,
        "duplicates" -> report.duplicates,
        "self_test" -> selfTest,
        "contention" -> Sentinel.stamp(sentinel.toSeq)))
  }

  /** Append lines to shard files, one write of whole lines per shard. */
  def appendLines(dir: Path, lines: Seq[(Int, String)]): Unit =
    lines.groupBy(_._1).foreach { case (shard, ls) =>
      val out = new FileOutputStream(dir.resolve(f"shard-$shard%02d").toFile, true)
      try out.write(ls.map(_._2).mkString("", "\n", "\n").getBytes(UTF_8))
      finally out.close()
    }

  /** The open-loop generator: record i is due at start + sendMs(i). Each
    * tick writes every due record, whole lines, one write per shard.
    */
  final class Generator(dir: Path, records: Seq[(Long, String)]) {
    @volatile var lateMsMax = 0.0
    private val written = new java.util.concurrent.atomic.AtomicInteger(0)
    private val timeline = new ConcurrentLinkedQueue[(Double, Int)]()
    private var thread: Thread = _

    def start(t0: Double): Unit = {
      thread = new Thread(() => {
        var next = 0
        while (next < records.size) {
          val now = Clock.nowMs
          var end = next
          while (end < records.size && t0 + records(end)._1 <= now) end += 1
          if (end > next) {
            lateMsMax = math.max(lateMsMax, now - (t0 + records(next)._1))
            appendLines(dir, (next until end).map(i => (i % Shards, records(i)._2)))
            next = end
            written.set(next)
            timeline.add((Clock.nowMs, next))
          }
          val wait = if (next < records.size) t0 + records(next)._1 - Clock.nowMs else 0
          if (wait > 1) Thread.sleep(math.min(wait.toLong, 5L))
        }
      }, "perfbench-generator")
      thread.setDaemon(true)
      thread.start()
    }

    def join(): Unit = thread.join()

    /** Records appended by instant t. */
    def generatedBy(t: Double): Long =
      timeline.asScala.filter(_._1 <= t).map(_._2.toLong).foldLeft(0L)(math.max)
  }
}
