package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sinks.BlobStore

/** A recorded interval. `parent` 0 = the run's root. */
final case class Span(id: Long, parent: Long, name: String, start: Double, end: Double)

/** Spans kept in memory and written out when the run ends. The span tree
  * is workload → layer call → Spark job → stage (→ blob put), and
  * micro-batch → progress phase. Parents of Spark jobs are resolved
  * through a job-group local property, so jobs started on Spark's own
  * threads (a streaming query's) attach to the span that caused them.
  */
object Tracer {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }
  val SpanProperty = "perfbench.span"

  def nextId(): Long = ids.incrementAndGet()
  def currentSpan: Long = current.get()

  def add(s: Span): Unit = spans.add(s)

  /** Time `body` as a child of the calling thread's current span. Jobs it
    * submits carry the span id, so they attach under it.
    */
  def span[T](name: String, spark: Option[SparkSession] = None)(body: => T): T = {
    val id = nextId()
    val parent = current.get()
    val t0 = Clock.nowMs
    current.set(id)
    val sc = spark.map(_.sparkContext)
    val prevProp = sc.map(_.getLocalProperty(SpanProperty))
    sc.foreach(_.setLocalProperty(SpanProperty, id.toString))
    try body
    finally {
      sc.foreach(_.setLocalProperty(SpanProperty, prevProp.orNull))
      current.set(parent)
      add(Span(id, parent, name, t0, Clock.nowMs))
    }
  }

  /** Layer self time: each span's duration minus the part of it that its
    * children cover, summed per layer (the name's first dotted segment).
    */
  def selfTimeByLayer(all: Seq[Span]): Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    all.groupBy(s => layerOf(s.name)).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val cs = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0.0
        var (ca, cb) = (Double.NaN, Double.NaN)
        cs.foreach { case (a, b) =>
          if (ca.isNaN) { ca = a; cb = b }
          else if (a <= cb) cb = math.max(cb, b)
          else { covered += cb - ca; ca = a; cb = b }
        }
        if (!ca.isNaN) covered += cb - ca
        math.max(0.0, (s.end - s.start) - covered) / 1000.0
      }.sum
    }
  }

  def layerOf(name: String): String = name.takeWhile(_ != '.')

  def toJson(all: Seq[Span]): String =
    all.sortBy(_.start).map { s =>
      Json.render(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end))
    }.mkString("[\n", ",\n", "\n]\n")
}

/** One completed blob put, recorded by [[TimedBlobStore]]. */
final case class PutRec(path: String, start: Double, end: Double, bytes: Long, stageId: Int)

/** Process-wide put log. Local mode only: executors share this JVM. */
object PutLog {
  val puts = new ConcurrentLinkedQueue[PutRec]()
  def drain(): Vector[PutRec] = {
    val out = Vector.newBuilder[PutRec]
    var p = puts.poll()
    while (p != null) { out += p; p = puts.poll() }
    out.result()
  }
}

/** Timing wrapper around the public [[BlobStore]] trait: the durable-put
  * instant of every object, which the lag metrics are measured to.
  */
final class TimedBlobStore(inner: BlobStore) extends BlobStore {
  def write(path: String, bytes: Array[Byte]): Unit = {
    val t0 = Clock.nowMs
    inner.write(path, bytes)
    val tc = TaskContext.get()
    PutLog.puts.add(PutRec(path, t0, Clock.nowMs, bytes.length.toLong,
      if (tc == null) -1 else tc.stageId()))
  }
}

/** A store that keeps only byte counts (the gzip-writer probe's sink). */
final class DiscardBlobStore extends BlobStore {
  @transient lazy val bytes = new AtomicLong(0)
  def write(path: String, b: Array[Byte]): Unit = bytes.addAndGet(b.length.toLong)
}

final case class TaskRec(stageId: Int, launch: Double, finish: Double, cpuNs: Long,
    recordsRead: Long, shuffleWrite: Long, spill: Long)
final case class StageRec(stageId: Int, jobId: Int, name: String, start: Double, end: Double)
final case class JobRec(jobId: Int, parent: Long, batchId: Long, start: Double,
    end: Double, stageIds: Seq[Int])
final case class PlanRec(planningMs: Double)

/** The traced run's Spark-side instruments: a SparkListener (jobs,
  * stages, task metrics), a QueryExecutionListener (planning phases from
  * the QueryPlanningTracker), Spark's CodegenMetrics and a log appender
  * that counts "Failed to compile" events. Attached only around traced
  * regions, so untraced regions of the same run pay none of it.
  */
final class Instruments {
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val plans = new ConcurrentLinkedQueue[PlanRec]()
  private val jobOfStage = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val open = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val parent = props.flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
        .map(_.toLong).getOrElse(0L)
      val batch = props.flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
        .map(_.toLong).getOrElse(-1L)
      e.stageIds.foreach(s => jobOfStage.put(s, e.jobId))
      open.put(e.jobId, JobRec(e.jobId, parent, batch, e.time.toDouble, 0, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(open.remove(e.jobId)).foreach(j => jobs.add(j.copy(end = e.time.toDouble)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stages.add(StageRec(i.stageId, jobOfStage.getOrDefault(i.stageId, -1), i.name,
        i.submissionTime.getOrElse(0L).toDouble,
        i.completionTime.getOrElse(0L).toDouble))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(TaskRec(e.stageId, e.taskInfo.launchTime.toDouble,
        e.taskInfo.finishTime.toDouble, m.executorCpuTime,
        m.inputMetrics.recordsRead, m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled))
    }
  }

  private val qel = new QueryExecutionListener {
    private def rec(qe: QueryExecution): Unit = {
      plans.add(PlanRec(qe.tracker.phases.values
        .map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = rec(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = rec(qe)
  }

  private var gcStart = 0L
  private var compileStart = 0.0
  private var fallbackStart = 0L
  private var attachedAt = 0.0
  /** Summed seconds of attached windows. */
  var attachedS = 0.0
  var gcMs = 0L
  var compileMs = 0.0
  var fallbacks = 0L

  def attach(s: SparkSession): Unit = {
    s.sparkContext.addSparkListener(listener)
    s.listenerManager.register(qel)
    gcStart = Instruments.gcMs()
    compileStart = Instruments.compile()
    fallbackStart = CodegenFailures.count.get()
    attachedAt = Clock.nowMs
  }

  def detach(s: SparkSession): Unit = {
    org.apache.spark.PerfbenchInternals.waitUntilEmpty(s.sparkContext)
    s.sparkContext.removeSparkListener(listener)
    s.listenerManager.unregister(qel)
    gcMs += Instruments.gcMs() - gcStart
    compileMs += Instruments.compile() - compileStart
    fallbacks += CodegenFailures.count.get() - fallbackStart
    attachedS += (Clock.nowMs - attachedAt) / 1000.0
  }

  /** Record the job and stage spans under their parents. */
  def emitSpans(batchSpan: Long => Long, puts: Seq[PutRec]): Unit = {
    val stageSpan = mutable.Map.empty[Int, Long]
    val sites =
      if (puts.isEmpty) Map.empty[Int, String]
      else LoaderLayers.callSites(jobs.asScala.toSeq, stages.asScala.toSeq.groupBy(_.jobId), puts)
    jobs.asScala.foreach { j =>
      val jid = Tracer.nextId()
      val parent = if (j.batchId >= 0) batchSpan(j.batchId) else j.parent
      val own = stages.asScala.filter(_.jobId == j.jobId).toSeq
      Tracer.add(Span(jid, parent, s"spark.job.${j.jobId}${sites.get(j.jobId).fold("")(" " + _)}",
        j.start, j.end))
      own.foreach { st =>
        val sid = Tracer.nextId()
        stageSpan(st.stageId) = sid
        Tracer.add(Span(sid, jid, s"spark.stage.${st.stageId} ${st.name}", st.start, st.end))
      }
    }
    puts.foreach { p =>
      Tracer.add(Span(Tracer.nextId(), stageSpan.getOrElse(p.stageId, 0L),
        "sinks.put", p.start, p.end))
    }
  }
}

object Instruments {
  def gcMs(): Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  /** Approximate total ms of generated-code compilations so far, from
    * Spark's CodegenMetrics compilation-time histogram (count × mean).
    */
  def compile(): Double = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    h.getCount * h.getSnapshot.getMean
  }
}

/** Counts "Failed to compile" log events: Spark logs them when generated
  * code does not compile and it falls back to interpreted evaluation.
  */
object CodegenFailures {
  val count = new AtomicLong(0)
  private val installed = new AtomicReference[AnyRef](null)

  def install(): Unit = if (installed.get() == null) {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val app = new AbstractAppender("perfbench-codegen-failures", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val m = e.getMessage
        if (m != null && m.getFormattedMessage.contains("Failed to compile")) count.incrementAndGet()
      }
    }
    app.start()
    ctx.getConfiguration.getRootLogger.addAppender(app, null, null)
    ctx.updateLoggers()
    installed.set(app)
  }
}
