package graft

import java.net.{DatagramPacket, DatagramSocket}
import java.nio.charset.StandardCharsets

import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

import graft.config.LoaderConfig
import graft.streaming.{LoaderPipeline, MetricsEmitter}
import graft.streaming.MetricsEmitter.StatsdConfig

/** Metrics emission (reference T10, core/Metrics.scala:25-49): statsd line
  * protocol with delta counters and tags, end-to-end UDP delivery, the
  * prometheus text scrape, and the monitoring.metrics.statsd HOCON block.
  */
class MetricsSpec extends AnyFunSuite {

  private def metricsWith(count: Long, bad: Long, lat: Option[Long],
      e2e: Option[Long]): LoaderPipeline.Metrics = {
    val m = new LoaderPipeline.Metrics
    m.count.set(count); m.badCount.set(bad)
    m.latencyMillis.set(lat); m.e2eLatencyMillis.set(e2e)
    m
  }

  test("statsd datagrams: reference metric names, delta counters, tag suffix") {
    val m = metricsWith(10, 2, Some(120), Some(9500))
    val cfg = StatsdConfig("localhost", 8125,
      tags = Map("env" -> "prod"), prefix = "graft.loader")
    m.objectsWritten.set(7); m.putMillis.set(30); m.badPutMillis.set(3)
    val last = new LoaderPipeline.Metrics // counter values at the last report
    last.count.set(4); last.putMillis.set(12)
    val lines = MetricsEmitter.statsdDatagrams(m, cfg, last)
    assert(lines.contains("graft.loader.count:6|c|#env:prod")) // 10 - 4
    assert(lines.contains("graft.loader.bad_count:2|c|#env:prod"))
    assert(lines.contains("graft.loader.latency_millis:120|ms|#env:prod"))
    assert(lines.contains("graft.loader.e2e_latency_millis:9500|ms|#env:prod"))
    assert(lines.contains("graft.loader.latency_collector_to_load:9|g|#env:prod"))
    assert(lines.contains("graft.loader.objects_written:7|c|#env:prod"))
    assert(lines.contains("graft.loader.put_millis:18|c|#env:prod")) // 30 - 12
    assert(lines.contains("graft.loader.bad_put_millis:3|c|#env:prod"))
    // snapshots advanced: an immediately following report sends zero deltas
    m.putMillis.addAndGet(5)
    val again = MetricsEmitter.statsdDatagrams(m, cfg, last)
    assert(again.contains("graft.loader.count:0|c|#env:prod"))
    assert(again.contains("graft.loader.objects_written:0|c|#env:prod"))
    assert(again.contains("graft.loader.put_millis:5|c|#env:prod"))
  }

  test("unset latencies are omitted; no tags means no suffix") {
    val m = metricsWith(1, 0, None, None)
    val lines = MetricsEmitter.statsdDatagrams(m,
      StatsdConfig("localhost"), new LoaderPipeline.Metrics)
    assert(lines == Seq("graft.loader.count:1|c", "graft.loader.bad_count:0|c"))
    // a tag holding the line protocol's separators is sanitized
    val tagged = MetricsEmitter.statsdDatagrams(m,
      StatsdConfig("localhost", tags = Map("team" -> "a,b|c")),
      new LoaderPipeline.Metrics)
    assert(tagged.head == "graft.loader.count:1|c|#team:a_b_c")
  }

  test("StatsdReporter delivers datagrams over real UDP") {
    val receiver = new DatagramSocket() // ephemeral port
    receiver.setSoTimeout(5000)
    val m = metricsWith(3, 1, Some(50), None)
    val reporter = new MetricsEmitter.StatsdReporter(m,
      StatsdConfig("127.0.0.1", receiver.getLocalPort, period = 1.hour))
    try {
      reporter.flush()
      val got = (0 until 3).map { _ =>
        val p = new DatagramPacket(new Array[Byte](512), 512)
        receiver.receive(p)
        new String(p.getData, 0, p.getLength, StandardCharsets.UTF_8)
      }.toSet
      assert(got == Set("graft.loader.count:3|c", "graft.loader.bad_count:1|c",
        "graft.loader.latency_millis:50|ms"))
    } finally { reporter.close(); receiver.close() }
  }

  test("prometheus scrape: cumulative counters and latency gauges") {
    val m = metricsWith(100, 5, Some(80), Some(12000))
    m.objectsWritten.set(9); m.putMillis.set(40); m.badPutMillis.set(2)
    val text = MetricsEmitter.prometheusScrape(m)
    assert(text.contains("# TYPE graft_count counter"))
    assert(text.contains("graft_count 100"))
    assert(text.contains("graft_bad_count 5"))
    assert(text.contains("graft_latency_millis 80"))
    assert(text.contains("graft_e2e_latency_millis 12000"))
    assert(text.contains("graft_latency_collector_to_load 12"))
    assert(text.contains("# TYPE graft_objects_written counter"))
    assert(text.contains("graft_objects_written 9"))
    assert(text.contains("# TYPE graft_put_millis counter"))
    assert(text.contains("graft_put_millis 40"))
    assert(text.contains("# TYPE graft_bad_put_millis counter"))
    assert(text.contains("graft_bad_put_millis 2"))
  }

  test("monitoring.metrics.statsd HOCON block parses to StatsdConfig") {
    val hocon =
      """
        |"monitoring": {
        |  "metrics": {
        |    "statsd": {
        |      "hostname": "127.0.0.1"
        |      "port": 8125
        |      "tags": { "env": "prod" }
        |      "period": "1 minute"
        |      "prefix": "snowplow.blob.loader.aws"
        |    }
        |  }
        |}
      """.stripMargin
    val required =
      """purpose = "ENRICHED_EVENTS"
        |output { good { path = "s3://x/" }, bad { streamName = "b" } }""".stripMargin
    val cfg = LoaderConfig.fromHocon(required + hocon).map(_.statsd)
    assert(cfg == Right(Some(StatsdConfig("127.0.0.1", 8125,
      Map("env" -> "prod"), 1.minute, "snowplow.blob.loader.aws"))))
    // absent block → emission off
    assert(LoaderConfig.fromHocon(required).map(_.statsd) == Right(None))
  }
}
