package graft.streaming

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicReference

import scala.concurrent.duration._

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.config.HealthProbeConfig
import graft.model.BadRow.esc

/** Per-service health registry (reference RuntimeService: the BlobSink
  * and BadSink are marked unhealthy INDIVIDUALLY on failure —
  * Processing.scala:327-329 — and healthy again on recovery). Shared
  * between the pipeline (which marks) and [[HealthProbe]] (which reports).
  * A failed source is not marked here: it ends the query, which
  * [[HealthProbe]] reports as `terminated`.
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
}

/** Structured crash report for a terminally-failed stream — what the
  * reference wires Sentry for, first in its resource order
  * (reference core/Environment.scala:61-98):
  * a 24/7 loader must say WHAT died, WHERE, and on WHICH batch, not just
  * flip a liveness bit.
  */
final case class ErrorReport(
    queryName: String,
    runId: String,
    batchId: Long,
    exceptionClass: String,
    message: String,
    atMillis: Long) {

  def json: String =
    s"""{"query":"${esc(queryName)}","runId":"$runId","batchId":$batchId,""" +
      s""""exception":"${esc(exceptionClass)}","message":"${esc(message)}",""" +
      s""""atMillis":$atMillis}"""
}

/** The loader monitor (reference operators T9 and T10, and the crash
  * reports of Environment.scala:61-98), and the loader's only
  * StreamingQueryListener, so one object keeps each query's lifecycle:
  *
  *  - liveness (T9 — Environment.scala:71-74, HealthProbe on :8000 with
  *    unhealthyLatency=2min): healthy while micro-batches keep completing
  *    AND neither sink (BlobSink / BadSink) is marked failed; if progress
  *    stalls past `unhealthyLatency`, a sink degrades, or the query
  *    terminates (a failed source ends it), GET /health flips to 503;
  *  - stream latency (T10's `latency_millis`): each micro-batch's
  *    `triggerExecution` duration, set on `metrics`;
  *  - crash reports (the Sentry equivalent): on a terminal failure, an
  *    [[ErrorReport]] with the query name (from the start event), the last
  *    batch id (from progress events; the terminated event carries none)
  *    and the exception class, served as `lastError` in /health and
  *    counted as a `<prefix>.stream_error` statsd event tagged with the
  *    query and exception class.
  *
  * A later start of the SAME query name clears both its termination and
  * its report — the recovery contract ServiceHealth applies per service.
  * Also serves the prometheus scrape at GET /metrics when built with a
  * metrics handle (reference Metrics.scrape). The handlers accept the
  * null start and progress events of a probe driven by hand.
  */
final class HealthProbe(
    unhealthyLatency: FiniteDuration = HealthProbeConfig().unhealthyLatency,
    port: Int = HealthProbeConfig().port,
    services: ServiceHealth = new ServiceHealth,
    metrics: Option[LoaderPipeline.Metrics] = None,
    statsd: Option[MetricsEmitter.StatsdReporter] = None)
    extends StreamingQueryListener {

  val lastError = new AtomicReference[Option[ErrorReport]](None)
  private val lastProgressMs = new AtomicReference[Option[Long]](None)
  /** (query name, exception text or "clean shutdown") of the last end. */
  private val terminated = new AtomicReference[Option[(String, String)]](None)
  private val started = new AtomicReference[Boolean](false)
  private val names = new ConcurrentHashMap[UUID, String]()
  private val batches = new ConcurrentHashMap[UUID, java.lang.Long]()
  private var server: HttpServer = _

  override def onQueryStarted(e: QueryStartedEvent): Unit = {
    Option(e).foreach { e =>
      val name = Option(e.name).getOrElse(e.id.toString)
      names.put(e.runId, name)
      // restart of a query that ended: clear its report and termination
      lastError.getAndUpdate {
        case Some(r) if r.queryName == name => None
        case other => other
      }
      terminated.getAndUpdate {
        case Some((q, _)) if q == name => None
        case other => other
      }
    }
    started.set(true)
    lastProgressMs.set(Some(System.currentTimeMillis()))
  }

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    Option(e).map(_.progress).foreach { p =>
      batches.put(p.runId, p.batchId)
      Option(p.durationMs).flatMap(d => Option(d.get("triggerExecution")))
        .foreach(d => metrics.foreach(_.latencyMillis.set(Some(d.longValue()))))
    }
    lastProgressMs.set(Some(System.currentTimeMillis()))
  }

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = {
    val name = Option(names.remove(e.runId)).getOrElse(e.id.toString)
    val batchId = Option(batches.remove(e.runId)).fold(-1L)(_.longValue())
    // set before the report, so /health never reads healthy with a report
    terminated.set(Some((name, e.exception.getOrElse("clean shutdown"))))
    e.exception.foreach { exc =>
      val firstLine = exc.linesIterator.find(_.nonEmpty).getOrElse(exc)
      // "org.example.SomeException: message..." → class prefix
      val report = ErrorReport(name, e.runId.toString, batchId,
        firstLine.takeWhile(_ != ':').trim, firstLine, System.currentTimeMillis())
      lastError.set(Some(report))
      statsd.foreach(_.increment("stream_error",
        Map("query" -> report.queryName, "exception" -> report.exceptionClass)))
    }
  }

  /** Healthy = started, not terminated, progressed recently, and every
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
      .map { case (k, v) => s""""$k":"${esc(v)}"""" }
      .mkString("{", ",", "}")
    val lastErr = lastError.get().map(_.json).getOrElse("null")
    val term = terminated.get().map { case (_, t) => "\"" + esc(t) + "\"" }
    s"""{"healthy":$healthy,"lastProgressAgeMs":$age,"services":$svc,""" +
      s""""lastError":$lastErr,"terminated":${term.getOrElse("null")}}"""
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
