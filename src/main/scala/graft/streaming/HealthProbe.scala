package graft.streaming

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicReference

import scala.concurrent.duration._

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.config.HealthProbeConfig

/** Per-service health registry (reference RuntimeService: BlobSink /
  * BadSink / source are marked unhealthy INDIVIDUALLY on failure —
  * Processing.scala:327-329 — and healthy again on recovery). Shared
  * between the pipeline (which marks) and [[HealthProbe]] (which reports).
  */
final class ServiceHealth extends Serializable {
  private val problemsMap =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  def markUnhealthy(service: String, reason: String): Unit =
    problemsMap.put(service, reason)
  def markHealthy(service: String): Unit = problemsMap.remove(service)
  def healthy: Boolean = problemsMap.isEmpty
  def problems: Map[String, String] = {
    import scala.jdk.CollectionConverters._
    problemsMap.asScala.toMap
  }
}

object ServiceHealth {
  val BlobSink = "BlobSink"
  val BadSink = "BadSink"
  val Source = "Source"
}

/** Liveness probe (reference operator T9 — Environment.scala:71-74,
  * HealthProbe on :8000 with unhealthyLatency=2min): the engine is healthy
  * while micro-batches keep completing AND no individual service
  * (BlobSink / BadSink / source) is marked failed; if progress stalls past
  * `unhealthyLatency`, a service degrades, or the query terminates with an
  * error, the probe flips to 503.
  *
  * Implemented as a StreamingQueryListener (the Spark-native signal — a
  * progress event per micro-batch) plus the JDK's built-in HTTP server.
  * Also serves the prometheus scrape at GET /metrics when built with a
  * metrics handle (reference Metrics.scrape).
  */
final class HealthProbe(
    unhealthyLatency: FiniteDuration = HealthProbeConfig().unhealthyLatency,
    port: Int = HealthProbeConfig().port,
    services: ServiceHealth = new ServiceHealth,
    metrics: Option[LoaderPipeline.Metrics] = None,
    errors: Option[ErrorReporter] = None)
    extends StreamingQueryListener {

  private val lastProgressMs = new AtomicReference[Option[Long]](None)
  private val terminated = new AtomicReference[Option[String]](None)
  private val started = new AtomicReference[Boolean](false)
  private var server: HttpServer = _

  override def onQueryStarted(e: QueryStartedEvent): Unit = {
    started.set(true)
    lastProgressMs.set(Some(System.currentTimeMillis()))
  }

  override def onQueryProgress(e: QueryProgressEvent): Unit =
    lastProgressMs.set(Some(System.currentTimeMillis()))

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
    terminated.set(Some(e.exception.getOrElse("clean shutdown")))

  /** Healthy = started, not errored, progressed recently, and every
    * service individually healthy.
    */
  def healthy: Boolean =
    started.get() && terminated.get().isEmpty && services.healthy &&
      lastProgressMs.get().exists(t =>
        System.currentTimeMillis() - t < unhealthyLatency.toMillis)

  def status: String = {
    val age = lastProgressMs.get()
      .map(t => System.currentTimeMillis() - t).getOrElse(-1L)
    val svc = services.problems.toSeq.sorted
      .map { case (k, v) => s""""$k":"${ErrorReport.esc(v)}"""" }
      .mkString("{", ",", "}")
    // structured last-error from the ErrorReporter hook (the
    // Sentry-equivalent surface): exception class, query, batch id
    val lastErr = errors.flatMap(_.lastError.get())
      .map(_.json).getOrElse("null")
    s"""{"healthy":$healthy,"lastProgressAgeMs":$age,"services":$svc,""" +
      s""""lastError":$lastErr,""" +
      s""""terminated":${terminated.get().map(t => "\"" + ErrorReport.esc(t) + "\"").getOrElse("null")}}"""
  }

  def start(): HealthProbe = {
    server = HttpServer.create(new InetSocketAddress(port), 0)
    server.createContext("/health", (ex: HttpExchange) => {
      val body = status.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.add("Content-Type", "application/json")
      ex.sendResponseHeaders(if (healthy) 200 else 503, body.length)
      ex.getResponseBody.write(body)
      ex.close()
    })
    metrics.foreach { m =>
      server.createContext("/metrics", (ex: HttpExchange) => {
        val body = MetricsEmitter.prometheusScrape(m)
          .getBytes(StandardCharsets.UTF_8)
        ex.getResponseHeaders.add("Content-Type", "text/plain; version=0.0.4")
        ex.sendResponseHeaders(200, body.length)
        ex.getResponseBody.write(body)
        ex.close()
      })
    }
    server.setExecutor(null)
    server.start()
    this
  }

  def stop(): Unit = if (server != null) server.stop(0)
}
