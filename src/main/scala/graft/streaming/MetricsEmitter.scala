package graft.streaming

import java.net.{DatagramPacket, DatagramSocket, InetAddress}
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicLong

import scala.concurrent.duration._

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Metrics emission (reference operator T10 — core/Metrics.scala:25-49):
  * the reference pushes `count`, `latency_millis`, `e2e_latency_millis`
  * and the legacy `latency_collector_to_load` gauge to statsd on a period,
  * and serves a prometheus `scrape`. This is the engine-side equivalent,
  * fed from [[LoaderPipeline.Metrics]]:
  *
  *  - statsd: plain UDP datagrams in the statsd line protocol with
  *    DogStatsD-style `|#k:v` tags — counters as deltas since the last
  *    report, timers as `|ms`, gauges as `|g`
  *  - prometheus: the text exposition format with cumulative counters and
  *    `{k="v"}` labels, served by [[HealthProbe]] at GET /metrics
  *
  * Stream latency (`latency_millis`) comes from the Spark-native signal:
  * each micro-batch's `triggerExecution` duration in
  * StreamingQueryProgress — how long the batch's records waited inside the
  * engine, the closest analogue of the reference's
  * `sourceAndAck.currentStreamLatency` (Metrics.scala:40).
  *
  * Beyond the reference's set, the sink counters `objects_written` (good
  * objects), `put_millis` and `bad_put_millis` (time spent in the good and
  * bad sinks' puts) say how much of a batch the store's puts cost.
  */
object MetricsEmitter {

  /** monitoring.metrics.statsd config surface (reference
    * config.aws.reference.hocon metrics block).
    */
  final case class StatsdConfig(
      hostname: String,
      port: Int = 8125,
      tags: Map[String, String] = Map.empty,
      period: FiniteDuration = 1.minute,
      prefix: String = "graft.loader")

  /** DogStatsD `|#k:v,...` tags, sorted by key; empty for no tags. */
  private[streaming] def tagSuffix(tags: Map[String, String]): String =
    if (tags.isEmpty) ""
    else tags.toSeq.sorted.map { case (k, v) => s"$k:$v" }
      .mkString("|#", ",", "")

  /** The sink counters (`objects_written`, `put_millis`,
    * `bad_put_millis`) are reported once the loader has written an object,
    * good or bad: before that there is no put to count or time.
    */
  private def hasWritten(m: LoaderPipeline.Metrics): Boolean =
    m.objectsWritten.get() > 0 || m.badCount.get() > 0

  /** One report's datagrams. Counters are DELTAS vs `last`, the counter
    * values at the previous report (statsd `|c` semantics), which are
    * updated in place.
    */
  def statsdDatagrams(
      m: LoaderPipeline.Metrics,
      cfg: StatsdConfig,
      last: LoaderPipeline.Metrics): Seq[String] = {
    val t = tagSuffix(cfg.tags)
    val p = cfg.prefix
    def counter(name: String, of: LoaderPipeline.Metrics => AtomicLong): String = {
      val v = of(m).get()
      s"$p.$name:${v - of(last).getAndSet(v)}|c$t"
    }
    Seq(counter("count", _.count), counter("bad_count", _.badCount)) ++
      m.latencyMillis.get().map(v => s"$p.latency_millis:$v|ms$t") ++
      m.e2eLatencyMillis.get().toSeq.flatMap { v =>
        Seq(
          s"$p.e2e_latency_millis:$v|ms$t",
          // legacy gauge, seconds (reference Metrics.scala:43)
          s"$p.latency_collector_to_load:${v / 1000}|g$t")
      } ++
      (if (!hasWritten(m)) Nil
       else Seq(counter("objects_written", _.objectsWritten),
         counter("put_millis", _.putMillis),
         counter("bad_put_millis", _.badPutMillis)))
  }

  /** Prometheus text exposition of the same metrics (cumulative values). */
  def prometheusScrape(
      m: LoaderPipeline.Metrics,
      tags: Map[String, String] = Map.empty): String = {
    val labels =
      if (tags.isEmpty) ""
      else tags.toSeq.sorted.map { case (k, v) => s"""$k="$v"""" }
        .mkString("{", ",", "}")
    val sb = new StringBuilder
    def metric(name: String, mtype: String, value: Long): Unit = {
      sb.append(s"# TYPE $name $mtype\n")
      sb.append(s"$name$labels $value\n")
    }
    metric("graft_count", "counter", m.count.get())
    metric("graft_bad_count", "counter", m.badCount.get())
    m.latencyMillis.get().foreach(v => metric("graft_latency_millis", "gauge", v))
    m.e2eLatencyMillis.get().foreach { v =>
      metric("graft_e2e_latency_millis", "gauge", v)
      metric("graft_latency_collector_to_load", "gauge", v / 1000)
    }
    if (hasWritten(m)) {
      metric("graft_objects_written", "counter", m.objectsWritten.get())
      metric("graft_put_millis", "counter", m.putMillis.get())
      metric("graft_bad_put_millis", "counter", m.badPutMillis.get())
    }
    sb.toString
  }

  /** Periodic statsd pusher — a daemon thread sending one UDP datagram per
    * metric every `cfg.period` (reference `report`, Metrics via
    * CommonMetrics.build). `flush()` is public so tests (and shutdown
    * hooks) can force a deterministic report.
    */
  final class StatsdReporter(
      m: LoaderPipeline.Metrics,
      cfg: StatsdConfig) extends AutoCloseable {
    private val socket = new DatagramSocket()
    private val address = InetAddress.getByName(cfg.hostname)
    private val last = new LoaderPipeline.Metrics
    @volatile private var running = true

    def flush(): Unit =
      statsdDatagrams(m, cfg, last).foreach { line =>
        val bytes = line.getBytes(StandardCharsets.UTF_8)
        socket.send(new DatagramPacket(bytes, bytes.length, address, cfg.port))
      }

    private val thread = new Thread(() => {
      while (running) {
        try Thread.sleep(cfg.period.toMillis)
        catch { case _: InterruptedException => () }
        if (running) flush()
      }
    }, "graft-statsd-reporter")
    thread.setDaemon(true)

    def start(): StatsdReporter = { thread.start(); this }

    override def close(): Unit = {
      running = false
      thread.interrupt()
      flush() // final report so shutdown never drops counted events
      socket.close()
    }
  }

  /** Wires `latency_millis` from StreamingQueryProgress — register with
    * `spark.streams.addListener`.
    */
  final class StreamLatencyListener(m: LoaderPipeline.Metrics)
      extends StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val d = e.progress.durationMs
      if (d != null && d.containsKey("triggerExecution")) {
        m.latencyMillis.set(Some(d.get("triggerExecution").longValue()))
      }
    }
  }
}
