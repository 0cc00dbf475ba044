package graft

import org.apache.spark.sql.functions._

import graft.config._
import graft.operators.Synth
import graft.sinks.HadoopBlobStore
import graft.sources.RecordSources
import graft.streaming.{HealthProbe, LoaderPipeline, MetricsEmitter, ServiceHealth}

/** Demo/ops entrypoint: run the loader end-to-end over lines synthesized
  * from the events table, writing real gzip objects through the
  * production Hadoop blob store.
  *
  * Usage:
  *   runMain graft.LoaderDemo <sfDir> <outDir> [ENRICHED_EVENTS|SELF_DESCRIBING]
  *   runMain graft.LoaderDemo --stream <inDir> <outDir> [purpose]
  *     — streaming mode: tails <inDir> for text files (RecordSources) with
  *       one HealthProbe as its only query listener (/health with
  *       lastError and /metrics on :8000, stream latency, and a
  *       stream_error statsd event on a crash), an optional statsd push
  *       (SPARK_GRAFT_STATSD=host:port), and Ctrl-C (or
  *       SPARK_GRAFT_STREAM_SECONDS) to stop.
  *   runMain graft.LoaderDemo --config <path.hocon> <sfDir>
  *     — batch run configured from a HOCON file (the reference's
  *       Run.fromConfigPath entry shape, reference Run.scala:44-65).
  */
object LoaderDemo {
  def main(args: Array[String]): Unit =
    if (args.headOption.contains("--stream")) streamMain(args.drop(1))
    else if (args.headOption.contains("--config")) configMain(args.drop(1))
    else batchMain(args)

  private def configMain(args: Array[String]): Unit = {
    val path = args.headOption.getOrElse(
      throw new IllegalArgumentException("--config requires a path"))
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val text = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))
    val cfg = LoaderConfig.fromHocon(text)
      .fold(e => throw new IllegalArgumentException(e), identity)
    println(s"[demo] config: purpose=${cfg.purpose} out=${cfg.output.path} " +
      s"partition=${cfg.output.partitionFormat} maxBytes=${cfg.batching.maxBytes} " +
      s"maxDelay=${cfg.batching.maxDelay}")
    val spark = GraftSession()
    val line = if (cfg.purpose == Purpose.Enriched) Synth.enrichedLine() else Synth.sdjLine()
    val raw = Synth.events(spark, sfDir).select(encode(line, "utf-8").as("value"))
    val store = new HadoopBlobStore(Map.empty)
    val metrics = new LoaderPipeline.Metrics
    LoaderPipeline.runBatch(raw, cfg, store, metrics)
    println(s"[demo] good=${metrics.count.get()} bad=${metrics.badCount.get()} " +
      s"objects=${metrics.objectsWritten.get()}")
    spark.stop()
  }

  private def streamMain(args: Array[String]): Unit = {
    val inDir = args.headOption.getOrElse("/tmp/loader_in")
    val outDir = if (args.length > 1) args(1) else "/tmp/loader_stream"
    val purpose = Purpose.parse(
      if (args.length > 2) args(2) else "SELF_DESCRIBING"
    ).fold(e => throw new IllegalArgumentException(e), identity)
    val spark = GraftSession()

    // full monitoring stack: per-service health, optional statsd push
    // (SPARK_GRAFT_STATSD=host:port), and one listener for /health,
    // /metrics, stream latency and crash reports
    val services = new ServiceHealth
    val metrics = new LoaderPipeline.Metrics
    val reporter = sys.env.get("SPARK_GRAFT_STATSD").map { hp =>
      val Array(h, p) = hp.split(":", 2)
      new MetricsEmitter.StatsdReporter(metrics,
        MetricsEmitter.StatsdConfig(h, p.toInt)).start()
    }
    val probe = new HealthProbe(services = services,
      metrics = Some(metrics), statsd = reporter).start()
    spark.streams.addListener(probe)

    val raw = RecordSources.build(spark, RecordSources.TextFiles(inDir))
    val cfg = LoaderConfig.validate(LoaderConfig(
      purpose,
      Output(s"file://$outDir/good"),
      BadOutput(s"file://$outDir/bad"),
      batching = Batching(maxDelay = scala.concurrent.duration.DurationInt(2).seconds),
      checkpointLocation = Some(s"$outDir/ckpt")))
      .fold(e => throw new IllegalArgumentException(e), identity)

    val store = new HadoopBlobStore(Map.empty)
    val q = LoaderPipeline.stream(raw, cfg, store, metrics,
      health = services).start()
    println(s"[demo] streaming from $inDir; health probe on :8000")
    sys.env.get("SPARK_GRAFT_STREAM_SECONDS") match {
      case Some(s) =>
        q.awaitTermination(s.toLong * 1000)
        q.stop()
        println(s"[demo] stopped; good=${metrics.count.get()} bad=${metrics.badCount.get()}")
      case None => q.awaitTermination()
    }
    reporter.foreach(_.close())
    probe.stop()
    spark.stop()
  }

  private def batchMain(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = if (args.length > 1) args(1) else "/tmp/loader_demo"
    val purpose = Purpose.parse(
      if (args.length > 2) args(2) else "SELF_DESCRIBING"
    ).fold(e => throw new IllegalArgumentException(e), identity)

    val spark = GraftSession()

    val line = if (purpose == Purpose.Enriched) Synth.enrichedLine() else Synth.sdjLine()
    val raw = Synth.events(spark, sfDir)
      .select(encode(line, "utf-8").as("value"))

    val cfg = LoaderConfig.validate(LoaderConfig(
      purpose,
      Output(s"file://$outDir/good"),
      BadOutput(s"file://$outDir/bad"))).fold(e => throw new IllegalArgumentException(e), identity)

    val store = new HadoopBlobStore(Map.empty)
    val metrics = new LoaderPipeline.Metrics
    LoaderPipeline.runBatch(raw, cfg, store, metrics)

    println(s"[demo] good=${metrics.count.get()} bad=${metrics.badCount.get()} " +
      s"objects=${metrics.objectsWritten.get()} " +
      s"e2eLatencyMillis=${metrics.e2eLatencyMillis.get()}")
    metrics.lastActions.get().foreach(a =>
      println(s"[demo] wrote ${a.path} records=${a.recordCount} bytes=${a.compressedBytes}"))
    spark.stop()
  }
}
