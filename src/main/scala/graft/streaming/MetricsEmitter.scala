package graft.streaming

import java.net.{DatagramPacket, DatagramSocket, InetAddress}
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicLong

import scala.concurrent.duration._

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
  * Each metric is declared once, in `exported`, and both surfaces render
  * from that list.
  *
  * Stream latency (`latency_millis`) comes from the Spark-native signal:
  * each micro-batch's `triggerExecution` duration in
  * StreamingQueryProgress, which [[HealthProbe]] records — how long the
  * batch's records waited inside the engine, the closest analogue of the
  * reference's `sourceAndAck.currentStreamLatency` (Metrics.scala:40).
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

  /** DogStatsD `|#k:v,...` tags, sorted by key; empty for no tags. The
    * line protocol's separators `,|#:` in a key or value become `_`.
    */
  private def tagSuffix(tags: Map[String, String]): String = {
    def clean(s: String) = s.replaceAll("[,|#:]", "_")
    if (tags.isEmpty) ""
    else tags.toSeq.sorted.map { case (k, v) => s"${clean(k)}:${clean(v)}" }
      .mkString("|#", ",", "")
  }

  /** How a metric is exported: its statsd type and its Prometheus type. A
    * counter names its cell in [[LoaderPipeline.Metrics]], so statsd can
    * send the delta since the last report.
    */
  private sealed abstract class Kind(val statsd: String, val prometheus: String)
  private final case class Counter(cell: LoaderPipeline.Metrics => AtomicLong)
      extends Kind("c", "counter")
  private case object Timer extends Kind("ms", "gauge")
  private case object Gauge extends Kind("g", "gauge")

  /** The exported metrics of `m`, declared once for statsd and Prometheus:
    * (name, kind, value) in report order, counters cumulative. Latencies
    * appear once measured. The sink counters (`objects_written`,
    * `put_millis`, `bad_put_millis`) appear once the loader has written an
    * object, good or bad: before that there is no put to count or time.
    */
  private def exported(m: LoaderPipeline.Metrics): Seq[(String, Kind, Long)] = {
    def counter(name: String, cell: LoaderPipeline.Metrics => AtomicLong) =
      (name, Counter(cell), cell(m).get())
    val hasWritten = m.objectsWritten.get() > 0 || m.badCount.get() > 0
    Seq(counter("count", _.count), counter("bad_count", _.badCount)) ++
      m.latencyMillis.get().map(v => ("latency_millis", Timer, v)) ++
      m.e2eLatencyMillis.get().toSeq.flatMap { v =>
        Seq(
          ("e2e_latency_millis", Timer, v),
          // legacy gauge, seconds (reference Metrics.scala:43)
          ("latency_collector_to_load", Gauge, v / 1000))
      } ++
      (if (!hasWritten) Nil
       else Seq(counter("objects_written", _.objectsWritten),
         counter("put_millis", _.putMillis),
         counter("bad_put_millis", _.badPutMillis)))
  }

  /** One report's datagrams. Counters are DELTAS vs `last`, the counter
    * values at the previous report (statsd `|c` semantics), which are
    * updated in place.
    */
  def statsdDatagrams(
      m: LoaderPipeline.Metrics,
      cfg: StatsdConfig,
      last: LoaderPipeline.Metrics): Seq[String] = {
    val t = tagSuffix(cfg.tags)
    exported(m).map { case (name, kind, v) =>
      val sent = kind match {
        case Counter(cell) => v - cell(last).getAndSet(v)
        case _ => v
      }
      s"${cfg.prefix}.$name:$sent|${kind.statsd}$t"
    }
  }

  /** Prometheus text exposition of the same metrics (cumulative values). */
  def prometheusScrape(m: LoaderPipeline.Metrics): String =
    exported(m).map { case (name, kind, v) =>
      s"# TYPE graft_$name ${kind.prometheus}\ngraft_$name $v\n"
    }.mkString

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

    private def send(line: String): Unit = {
      val bytes = line.getBytes(StandardCharsets.UTF_8)
      socket.send(new DatagramPacket(bytes, bytes.length, address, cfg.port))
    }

    def flush(): Unit = statsdDatagrams(m, cfg, last).foreach(send)

    /** One `<prefix>.<name>:1|c` event, tagged with `tags` on top of the
      * configured tags.
      */
    def increment(name: String, tags: Map[String, String]): Unit =
      send(s"${cfg.prefix}.$name:1|c${tagSuffix(cfg.tags ++ tags)}")

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
}
