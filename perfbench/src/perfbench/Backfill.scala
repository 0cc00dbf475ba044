package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.config.{BadOutput, LoaderConfig, Output, Purpose}
import graft.sinks.HadoopBlobStore
import graft.streaming.LoaderPipeline

/** Shared set-up: the workload's session is built [[Setups]] times from
  * empty warehouse directories, each time loading inputs and running the
  * untimed warm pass; setup_s is the median. Odd-numbered set-ups of a
  * traced run have the instruments attached, which gives the set-up's
  * tracing overhead.
  */
object Setup {
  val Setups = 3

  /** `traced`: attach a fresh set of instruments to every other set-up
    * (their records are dropped; only the time they cost is kept), and
    * leave the cold first set-up out of the untraced ones.
    */
  def run(ctx: Ctx, traced: Boolean)(
      build: Int => SparkSession)(warm: (SparkSession, Int) => Unit)
      : (SparkSession, Seq[Double], Seq[Double]) = {
    var spark: SparkSession = null
    val plain = mutable.ArrayBuffer.empty[Double]
    val withIns = mutable.ArrayBuffer.empty[Double]
    (0 until Setups).foreach { k =>
      if (spark != null) spark.stop()
      Files2.deleteRecursively(ctx.dir("warehouse"))
      val t0 = System.nanoTime()
      spark = build(k)
      val ins = if (traced && k % 2 == 1) Some(new Instruments) else None
      ins.foreach(_.attach(spark))
      warm(spark, k)
      ins.foreach(_.detach(spark))
      val on = ins.isDefined
      val s = (System.nanoTime() - t0) / 1e9
      // a traced run compares its traced set-up with the warm untraced one
      if (on) withIns += s else if (!(traced && k == 0)) plain += s
    }
    (spark, plain.toSeq, withIns.toSeq)
  }

  def loaderConfig(ctx: Ctx, purpose: Purpose, name: String, maxDelayMs: Long = 120000)
      : LoaderConfig = {
    val root = ctx.dir(name)
    Files2.fresh(root)
    LoaderConfig.validate(LoaderConfig(
      purpose = purpose,
      output = Output(path = root.resolve("good").toUri.toString),
      bad = BadOutput(path = root.resolve("bad").toUri.toString),
      batching = graft.config.Batching(maxDelay =
        scala.concurrent.duration.Duration(maxDelayMs, "ms")),
      checkpointLocation = Some(root.resolve("checkpoint").toString)))
      .fold(e => throw new IllegalArgumentException(e), identity)
  }

  def goodRoot(ctx: Ctx, name: String): Path = ctx.dir(name).resolve("good")
  def badRoot(ctx: Ctx, name: String): Path = ctx.dir(name).resolve("bad")

  def store = new TimedBlobStore(new HadoopBlobStore(Map.empty))
}

/** `enriched_backfill`: a closed loop of `LoaderPipeline.runBatch` over
  * framed enriched payloads the generator writes once to local parquet.
  */
object Backfill {
  /** 80 payloads × 500 lines = 40,000 records, about 30 MB decompressed. */
  val Payloads = 80
  val InputFiles = 8
  val MinIterations = 3

  def run(ctx: Ctx): Result = {
    val payloads = Gen.payloads(ctx.seed, Payloads, ctx.cores)
    val hash = new Gen.Hasher
    payloads.foreach(p => hash.add(p.bytes))
    val expected = mutable.HashMap.empty[String, Check.Label]
    payloads.foreach { p =>
      val label = if (p.corrupt) Check.Lost else Check.Good("")
      (0 until p.records).foreach(j => expected(Gen.enrichedId(p.firstRecord + j)) = label)
    }
    val corrupt = payloads.count(_.corrupt)
    val decodedRecords = payloads.filterNot(_.corrupt).map(_.records.toLong).sum
    val decodedBytes = payloads.filterNot(_.corrupt)
      .map(p => p.decompressedBytes + p.records).sum

    val input = ctx.dir("input")
    val warmInput = ctx.dir("input-warm")
    val gen = Sessions.build(ctx, ctx.dir("warehouse"), ctx.cores)
    writePayloads(gen, payloads, input, InputFiles)
    writePayloads(gen, payloads.filterNot(_.corrupt).take(4), warmInput, 2)
    gen.stop()

    val ins = if (ctx.trace) Some(new Instruments) else None
    var df: DataFrame = null
    val (spark, setupPlain, setupTraced) = Setup.run(ctx, ctx.trace)(
      _ => Sessions.build(ctx, ctx.dir("warehouse"), ctx.cores)) { (s, k) =>
      df = s.read.parquet(input.toString)
      val cfg = Setup.loaderConfig(ctx, Purpose.Enriched, "warm")
      LoaderPipeline.runBatch(s.read.parquet(warmInput.toString), cfg, Setup.store,
        new LoaderPipeline.Metrics)
      PutLog.drain()
    }
    val sentinel = mutable.ArrayBuffer.fill(3)(Sentinel.once(spark))

    final case class Iter(traced: Boolean, passS: Double, lagP50: Double, lagP99: Double,
        heapMb: Double, report: Check.Report, puts: Seq[PutRec])
    // the last call's objects, for the planted-fault self-test; dropped
    // before each heap sample so the harness does not weigh on it
    var lastObjs = Vector.empty[Check.Obj]
    val iters = mutable.ArrayBuffer.empty[Iter]
    var failedBatches = 0L
    val tEnd = System.nanoTime() + ctx.seconds * 1000000000L
    var i = 0
    while (System.nanoTime() < tEnd || i < MinIterations) {
      val traced = ctx.trace && i % 2 == 1
      val cfg = Setup.loaderConfig(ctx, Purpose.Enriched, "out")
      lastObjs = Vector.empty
      if (traced) ins.get.attach(spark)
      val t0 = Clock.nowMs
      val ok =
        try {
          Tracer.span("streaming.runBatch", Some(spark)) {
            LoaderPipeline.runBatch(df, cfg, Setup.store, new LoaderPipeline.Metrics)
          }
          true
        } catch { case e: Exception =>
          System.err.println(s"[perfbench] runBatch failed: $e"); false }
      val t1 = Clock.nowMs
      if (traced) ins.get.detach(spark)
      if (!ok) failedBatches += 1
      val puts = PutLog.drain()
      val heapSampled = iters.count(x => x.traced == traced && x.heapMb >= 0)
      val heap = if (heapSampled < MinIterations) Heap.oldGenAfterGcMb() else -1.0
      val objs = Check.scan(Setup.goodRoot(ctx, "out"), Setup.badRoot(ctx, "out"), enriched = true)
      val report = Check.verify(objs, expected, corrupt, cfg.batching.maxBytes)
      val ends = Lag.putEnds(puts)
      val lags = objs.flatMap(o => ends.get(o.path).map(e => (e - t0, o.ids.size)))
        .flatMap { case (l, n) => Iterator.fill(n)(l) }
      iters += Iter(traced, (t1 - t0) / 1000.0, Stats.quantile(lags, 0.5),
        Stats.quantile(lags, 0.99), heap, report, puts)
      lastObjs = objs
      i += 1
    }
    sentinel ++= Seq.fill(3)(Sentinel.once(spark))

    val plain = iters.filterNot(_.traced).toSeq
    def e2eOf(xs: Seq[Iter], setups: Seq[Double]): Map[String, Double] = {
      val pass = Stats.median(xs.map(_.passS))
      Map(
        "setup_s" -> Stats.median(setups),
        // sampled after a fixed number of calls (the first three of each
        // kind): Spark's status store retains metadata per query
        // execution, so the count of calls would otherwise show
        "peak_heap_mb" -> xs.map(_.heapMb).max,
        "records_per_s" -> Stats.median(xs.map(x => decodedRecords / x.passS)),
        "pass_s" -> pass,
        "lag_p50_ms" -> Stats.median(xs.map(_.lagP50)),
        "lag_p99_ms" -> Stats.median(xs.map(_.lagP99)))
    }
    val e2e = e2eOf(plain, setupPlain)
    val last = iters.last
    val compression = decodedBytes.toDouble / math.max(1L, last.report.goodCompressedBytes)
    val failed = iters.map(_.report.failures).sum + failedBatches * expected.size
    val attempted = expected.size.toLong * iters.size
    val selfTest = Check.selfTest(lastObjs, expected, corrupt, 64L * 1024 * 1024)

    val layers = mutable.HashMap.empty[String, Double]
    ins.foreach { in =>
      val tr = iters.filter(_.traced).toSeq
      val wall = tr.map(_.passS).sum
      in.emitSpans(_ => 0L, tr.flatMap(_.puts))
      layers ++= LoaderLayers.from(in, tr.size, wall, ctx.cores, tr.flatMap(_.puts))
      layers ++= LoaderLayers.puts(tr.flatMap(_.puts), tr.size)
      layers("sources.scan_rows_per_record") =
        LoaderLayers.recordsRead(in).toDouble / (payloads.size.toLong * tr.size)
      layers("sinks.compression_ratio") = compression
      val good = payloads.filterNot(_.corrupt)
      val lines = good.flatMap(p => (0 until p.records).map(j =>
        Gen.enrichedLine(ctx.seed, p.firstRecord + j)))
      layers ++= Probes.loaderProbes(spark,
        good.filter(_.codec == "gzip").map(_.bytes), good.filter(_.codec == "zstd").map(_.bytes),
        lines, lines, payloads.filter(_.corrupt).map(p => new String(p.bytes, UTF_8)),
        enriched = true)
      layers("spark.speedup_vs_1core") = e2e("records_per_s") / oneCoreRate(ctx, spark, input,
        warmInput, decodedRecords)
      val t = e2eOf(tr, setupTraced)
      e2e.foreach { case (k, v) => layers(s"trace.overhead.$k") = t(k) - v }
    }
    Sessions.clearCaches(SparkSession.active)
    SparkSession.active.stop()

    Result(
      e2e = e2e,
      reported = Map("compression_ratio" -> compression,
        "objects_written" -> (last.report.goodObjects + last.report.badRowObjects).toDouble,
        "failed_ratio" -> failed.toDouble / attempted),
      layers = layers.toMap,
      attempted = attempted,
      failed = failed,
      correct = failed == 0 && selfTest.values.forall(identity),
      detail = Map(
        "input_sha256" -> hash.hex,
        "payloads" -> payloads.size, "corrupt_frames" -> corrupt,
        "records" -> expected.size, "decoded_records" -> decodedRecords,
        "decompressed_mb" -> decodedBytes / 1048576.0,
        "framed_mb" -> payloads.map(_.bytes.length.toLong).sum / 1048576.0,
        "iterations" -> iters.size,
        "pass_s" -> iters.map(_.passS),
        "setup_s" -> setupPlain,
        "check" -> last.report.toMap,
        "duplicates" -> iters.map(_.report.duplicates).sum,
        "self_test" -> selfTest,
        "contention" -> Sentinel.stamp(sentinel.toSeq)))
  }

  private def writePayloads(s: SparkSession, ps: Seq[Gen.Payload], dir: Path, files: Int): Unit = {
    import s.implicits._
    Files2.deleteRecursively(dir)
    s.sparkContext.parallelize(ps.map(_.bytes), files).toDF("value")
      .write.parquet(dir.toString)
  }

  /** The same runBatch at local[1]: the single-threaded baseline that
    * `spark.speedup_vs_1core` divides by. Leaves a local[1] session active.
    */
  private def oneCoreRate(ctx: Ctx, spark: SparkSession, input: Path, warm: Path,
      records: Long): Double = {
    spark.stop()
    val one = Sessions.build(ctx, ctx.dir("warehouse-1core"), 1)
    Tracer.span("streaming.runBatch_1core", Some(one)) {
      LoaderPipeline.runBatch(one.read.parquet(warm.toString),
        Setup.loaderConfig(ctx, Purpose.Enriched, "warm"), Setup.store, new LoaderPipeline.Metrics)
      val cfg = Setup.loaderConfig(ctx, Purpose.Enriched, "out")
      val t0 = System.nanoTime()
      LoaderPipeline.runBatch(one.read.parquet(input.toString), cfg, Setup.store,
        new LoaderPipeline.Metrics)
      PutLog.drain()
      records / ((System.nanoTime() - t0) / 1e9)
    }
  }
}
