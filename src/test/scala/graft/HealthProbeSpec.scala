package graft

import java.net.{HttpURLConnection, URL}

import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{HealthProbe, LoaderPipeline, MetricsEmitter, ServiceHealth}

/** Liveness probe semantics (reference T9): healthy only while progress
  * events keep arriving within unhealthyLatency; HTTP surface returns
  * 200/503 accordingly.
  */
class HealthProbeSpec extends AnyFunSuite with SparkSuite {

  override protected def cores = 2

  private def get(port: Int): (Int, String) = {
    val conn = new URL(s"http://localhost:$port/health")
      .openConnection().asInstanceOf[HttpURLConnection]
    val code = conn.getResponseCode
    val body = scala.io.Source.fromInputStream(
      if (code >= 400) conn.getErrorStream else conn.getInputStream).mkString
    (code, body)
  }

  test("unstarted probe is unhealthy; progress flips it healthy; staleness flips it back") {
    val port = 18765
    val probe = new HealthProbe(unhealthyLatency = 200.millis, port = port).start()
    try {
      val (code1, body1) = get(port)
      assert(code1 == 503)
      assert(body1.contains("\"healthy\":false"))

      probe.onQueryStarted(null)
      probe.onQueryProgress(null)
      val (code2, body2) = get(port)
      assert(code2 == 200)
      assert(body2.contains("\"healthy\":true"))

      Thread.sleep(300) // exceed unhealthyLatency with no progress
      val (code3, _) = get(port)
      assert(code3 == 503)
    } finally probe.stop()
  }

  test("per-service health: one degraded sink flips the probe; recovery flips it back") {
    val port = 18766
    val services = new ServiceHealth
    val probe = new HealthProbe(unhealthyLatency = 1.hour, port = port,
      services = services).start()
    try {
      probe.onQueryStarted(null)
      probe.onQueryProgress(null)
      assert(get(port)._1 == 200)

      services.markUnhealthy(ServiceHealth.BadSink, "put failed")
      val (code, body) = get(port)
      assert(code == 503)
      assert(body.contains(""""BadSink":"put failed""""))

      services.markHealthy(ServiceHealth.BadSink)
      assert(get(port)._1 == 200)
    } finally probe.stop()
  }

  test("error-report hook: a terminally-failed stream surfaces a structured lastError and a statsd error counter") {
    val port = 18768
    val udp = new java.net.DatagramSocket() // ephemeral receiver
    udp.setSoTimeout(10000)
    val reporter = new MetricsEmitter.StatsdReporter(new LoaderPipeline.Metrics,
      MetricsEmitter.StatsdConfig("localhost", udp.getLocalPort))
    val probe = new HealthProbe(unhealthyLatency = 1.hour, port = port,
      statsd = Some(reporter)).start()
    spark.streams.addListener(probe)
    try {
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Int]
      mem.addData(1)
      val q = mem.toDF().writeStream.queryName("failing-loader")
        .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
          throw new IllegalStateException("sink exploded")
        }.start()
      intercept[Exception](q.awaitTermination())

      // the listener bus delivers asynchronously — poll until the probe
      // has seen the termination
      val deadline = System.currentTimeMillis() + 10000
      while ((probe.lastError.get().isEmpty || probe.healthy) &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
      val report = probe.lastError.get()
        .getOrElse(fail("no error report captured"))
      assert(report.queryName == "failing-loader")
      assert(report.exceptionClass.nonEmpty)
      assert(report.batchId >= -1L)

      // /health: 503 with the structured lastError payload
      val (code, body) = get(port)
      assert(code == 503)
      assert(body.contains(""""lastError":{"query":"failing-loader""""))
      assert(body.contains(report.exceptionClass.replace("\\", "")))

      // the statsd counter datagram arrived with query+exception tags
      val packet = new java.net.DatagramPacket(new Array[Byte](2048), 2048)
      udp.receive(packet)
      val line = new String(packet.getData, 0, packet.getLength)
      assert(line.startsWith("graft.loader.stream_error:1|c"))
      assert(line.contains("query:failing-loader"))
      assert(line.contains("exception:"))
    } finally {
      spark.streams.removeListener(probe)
      probe.stop(); reporter.close(); udp.close()
    }
  }

  test("error-report hook: restarting the failed query clears lastError") {
    val port = 18770
    val probe = new HealthProbe(unhealthyLatency = 1.hour, port = port).start()
    spark.streams.addListener(probe)
    try {
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Int]
      mem.addData(1)
      val q = mem.toDF().writeStream.queryName("flaky-loader")
        .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
          throw new IllegalStateException("transient")
        }.start()
      intercept[Exception](q.awaitTermination())
      val deadline = System.currentTimeMillis() + 10000
      while (probe.lastError.get().isEmpty &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(probe.lastError.get().nonEmpty)

      // recovered: same query name restarts cleanly → report cleared
      val mem2 = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Int]
      mem2.addData(2)
      val q2 = mem2.toDF().writeStream.queryName("flaky-loader")
        .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) => () }
        .start()
      q2.processAllAvailable()
      val d2 = System.currentTimeMillis() + 10000
      while ((probe.lastError.get().nonEmpty || !probe.healthy) &&
        System.currentTimeMillis() < d2) Thread.sleep(50)
      assert(probe.lastError.get().isEmpty)
      // ... and so is the termination: /health is back to 200 while the
      // restarted query runs (a clean stop would end it again)
      val (code, body) = get(port)
      assert(code == 200)
      assert(body.contains("\"terminated\":null"))
      assert(body.contains("\"lastError\":null"))
      q2.stop()
    } finally { spark.streams.removeListener(probe); probe.stop() }
  }

  test("/health stays valid JSON after a failure with newlines, quotes and backslashes") {
    val port = 18769
    val services = new ServiceHealth
    val probe = new HealthProbe(unhealthyLatency = 1.hour, port = port,
      services = services).start()
    spark.streams.addListener(probe)
    try {
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Int]
      mem.addData(1)
      val q = mem.toDF().writeStream.queryName("escaping-loader")
        .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
          throw new IllegalStateException("first line\nsaid \"no\" at C:\\tmp")
        }.start()
      intercept[Exception](q.awaitTermination())
      services.markUnhealthy(ServiceHealth.BlobSink, "put failed:\n\tcaused by \"refused\"\r\nend")

      val deadline = System.currentTimeMillis() + 10000
      while ((probe.lastError.get().isEmpty || get(port)._2.contains("\"terminated\":null")) &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
      val (code, body) = get(port)
      assert(code == 503)
      val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
      assert(!json.get("healthy").asBoolean())
      assert(json.get("services").get("BlobSink").asText().contains("caused by \"refused\""))
      assert(json.get("terminated").asText().contains("said \"no\" at C:\\tmp"))
      assert(json.get("lastError").get("query").asText() == "escaping-loader")
    } finally { spark.streams.removeListener(probe); probe.stop() }
  }

  test("GET /metrics serves the prometheus scrape when built with metrics") {
    val port = 18767
    val metrics = new LoaderPipeline.Metrics
    metrics.count.set(42)
    metrics.e2eLatencyMillis.set(Some(7000L))
    val probe = new HealthProbe(port = port, metrics = Some(metrics)).start()
    try {
      val conn = new URL(s"http://localhost:$port/metrics")
        .openConnection().asInstanceOf[HttpURLConnection]
      assert(conn.getResponseCode == 200)
      val body = scala.io.Source.fromInputStream(conn.getInputStream).mkString
      assert(body.contains("# TYPE graft_count counter"))
      assert(body.contains("graft_count 42"))
      assert(body.contains("graft_e2e_latency_millis 7000"))
      assert(body.contains("graft_latency_collector_to_load 7"))
    } finally probe.stop()
  }
}
