package graft.streaming

import java.net.{DatagramPacket, DatagramSocket, InetAddress}
import java.nio.charset.StandardCharsets
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Structured crash report for a terminally-failed stream — what the
  * reference wires Sentry for, first in its resource order
  * (/root/reference/modules/core/src/main/scala/.../core/Environment.scala:61-98):
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

  import ErrorReport.esc

  def json: String =
    s"""{"query":"${esc(queryName)}","runId":"$runId","batchId":$batchId,""" +
      s""""exception":"${esc(exceptionClass)}","message":"${esc(message)}",""" +
      s""""atMillis":$atMillis}"""
}

object ErrorReport {
  /** Text made safe inside a JSON string: backslashes doubled, quotes
    * turned to `'`, and every control character (a stack trace's newlines
    * and tabs) turned to a space.
    */
  def esc(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "'").replaceAll("[\\x00-\\x1f]", " ")
}

/** Error-report hook (the Sentry-equivalent): a StreamingQueryListener
  * that, on terminal query failure, captures a structured [[ErrorReport]]
  * — query name (tracked from the start event), last completed/attempted
  * batch id (tracked from progress events; the terminated event itself
  * carries none), exception class (first line of the terminal exception)
  * — and
  *
  *  - pushes a `<prefix>.stream_error` statsd counter tagged with the
  *    query and exception class through the same UDP line protocol
  *    [[MetricsEmitter]] uses, and
  *  - exposes the report to [[HealthProbe]], which renders it as
  *    `lastError` in the /health payload (and the failure keeps /health
  *    at 503 via the existing terminated flag).
  *
  * A later successful start of the SAME query name clears the report —
  * the recovery contract ServiceHealth applies per service.
  */
final class ErrorReporter(
    statsd: Option[MetricsEmitter.StatsdConfig] = None)
    extends StreamingQueryListener with AutoCloseable {

  val lastError = new AtomicReference[Option[ErrorReport]](None)
  private val names = new ConcurrentHashMap[UUID, String]()
  private val batches = new ConcurrentHashMap[UUID, java.lang.Long]()
  private lazy val socket = new DatagramSocket()

  override def onQueryStarted(e: QueryStartedEvent): Unit = {
    val name = Option(e.name).getOrElse(e.id.toString)
    names.put(e.runId, name)
    // restart of a previously-failed query: clear its stale report
    lastError.getAndUpdate {
      case Some(r) if r.queryName == name => None
      case other => other
    }
  }

  override def onQueryProgress(e: QueryProgressEvent): Unit =
    batches.put(e.progress.runId, e.progress.batchId)

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
    e.exception.foreach { exc =>
      val firstLine = exc.linesIterator.find(_.nonEmpty).getOrElse(exc)
      // "org.example.SomeException: message..." → class prefix
      val cls = firstLine.takeWhile(c => c != ':').trim
      val report = ErrorReport(
        queryName = names.getOrDefault(e.runId, e.id.toString),
        runId = e.runId.toString,
        batchId = Option(batches.get(e.runId)).fold(-1L)(_.longValue()),
        exceptionClass = cls,
        message = firstLine,
        atMillis = System.currentTimeMillis())
      lastError.set(Some(report))
      statsd.foreach(emit(report, _))
    }

  private def emit(r: ErrorReport, cfg: MetricsEmitter.StatsdConfig): Unit = {
    val tags = cfg.tags ++ Map(
      "query" -> r.queryName.replaceAll("[,|#:]", "_"),
      "exception" -> r.exceptionClass.replaceAll("[,|#:]", "_"))
    val line = s"${cfg.prefix}.stream_error:1|c${MetricsEmitter.tagSuffix(tags)}"
    val bytes = line.getBytes(StandardCharsets.UTF_8)
    socket.send(new DatagramPacket(
      bytes, bytes.length, InetAddress.getByName(cfg.hostname), cfg.port))
  }

  override def close(): Unit = socket.close()
}
