package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.config._
import graft.operators.Synth
import graft.sinks.HadoopBlobStore
import graft.sources.RecordSources
import graft.streaming.{HealthProbe, LoaderPipeline, MetricsEmitter, ServiceHealth}

/** The loader's entrypoint, configured from the reference's HOCON surface
  * (the reference's Run.fromConfigPath entry shape, reference
  * Run.scala:44-65), writing real gzip objects through the production
  * Hadoop blob store.
  *
  * Usage:
  *   runMain graft.LoaderDemo <config.hocon> <dir>
  *
  *  - With an `input` block, streams from `input.streamName` through the
  *    file-backed `graft-kinesis` double until stopped (Ctrl-C), with
  *    `<dir>` as the checkpoint directory (the reference keeps its
  *    checkpoints in DynamoDB, not in HOCON). One [[HealthProbe]] is the
  *    query's only listener (/health and /metrics on
  *    `monitoring.healthProbe.port`, stream latency, crash reports), and
  *    metrics are pushed to statsd when `monitoring.metrics.statsd` is set.
  *  - Without one, runs one batch over the events synthesized from the
  *    events table in `<dir>`.
  */
object LoaderDemo {
  def main(args: Array[String]): Unit = {
    if (args.length != 2)
      throw new IllegalArgumentException("usage: LoaderDemo <config.hocon> <dir>")
    val Array(configPath, dir) = args
    val cfg = LoaderConfig.fromHocon(Files.readString(Paths.get(configPath)))
      .fold(e => throw new IllegalArgumentException(e), identity)
    println(s"[demo] config: purpose=${cfg.purpose} out=${cfg.output.path} " +
      s"partition=${cfg.output.partitionFormat} maxBytes=${cfg.batching.maxBytes} " +
      s"maxDelay=${cfg.batching.maxDelay}")
    val spark = GraftSession()
    try cfg.input match {
      case Some(k) =>
        val running = startStream(spark, cfg, dir)
        println(s"[demo] streaming from ${k.streamName}; " +
          s"health probe on :${cfg.healthProbe.port}")
        try running.query.awaitTermination()
        finally running.stop()
      case None =>
        val line = if (cfg.purpose == Purpose.Enriched) Synth.enrichedLine() else Synth.sdjLine()
        val raw = Synth.events(spark, dir).select(encode(line, "utf-8").as("value"))
        val metrics = new LoaderPipeline.Metrics
        LoaderPipeline.runBatch(raw, cfg, new HadoopBlobStore(Map.empty), metrics)
        println(s"[demo] good=${metrics.count.get()} bad=${metrics.badCount.get()} " +
          s"objects=${metrics.objectsWritten.get()}")
    } finally spark.stop()
  }

  /** A started stream; `stop` ends it and the monitoring around it. */
  final case class Running(query: StreamingQuery, metrics: LoaderPipeline.Metrics, stop: () => Unit)

  /** Start the loader's stream from `cfg.input` through `graft-kinesis`,
    * checkpointing in `checkpointDir`, with the health probe and the
    * optional statsd push that `cfg` configures.
    */
  def startStream(spark: SparkSession, cfg: LoaderConfig, checkpointDir: String): Running = {
    val k = cfg.input.getOrElse(
      throw new IllegalArgumentException("Missing required field: input.streamName"))
    val services = new ServiceHealth
    val metrics = new LoaderPipeline.Metrics
    val reporter = cfg.statsd.map(new MetricsEmitter.StatsdReporter(metrics, _).start())
    val probe = new HealthProbe(cfg.healthProbe.unhealthyLatency, cfg.healthProbe.port,
      services, Some(metrics), reporter).start()
    spark.streams.addListener(probe)
    val raw = RecordSources.build(spark, k.copy(connectorFormat = "graft-kinesis"))
    val query = LoaderPipeline.stream(raw, cfg.copy(checkpointLocation = Some(checkpointDir)),
      new HadoopBlobStore(Map.empty), metrics, health = services).start()
    Running(query, metrics, () => {
      query.stop()
      spark.streams.removeListener(probe)
      probe.stop()
      reporter.foreach(_.close())
    })
  }
}
