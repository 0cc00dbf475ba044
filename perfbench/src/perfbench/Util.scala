package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One wall clock for every recorded instant: epoch milliseconds with
  * sub-millisecond resolution, so spans from the harness, Spark listener
  * timestamps (epoch ms) and the stream generator's schedule line up.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default); 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(s.size - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** Minimal JSON rendering for the result file and the trace. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case o: Option[_] => o.map(render).getOrElse("null")
    case other => str(other.toString)
  }
}

object Heap {
  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == MemoryType.HEAP &&
      (p.getName.contains("Old") || p.getName.contains("Tenured")))

  /** Old-generation MB in use once the program is quiescent: dropped
    * caches are gone (Spark removes their blocks asynchronously), then two
    * full collections 300 ms apart let Spark's cleaner release what the
    * first one orphaned. Called only between timed regions.
    */
  def oldGenAfterGcMb(): Double = {
    val deadline = System.nanoTime() + 5000000000L
    while (org.apache.spark.PerfbenchInternals.rddBlocks() > 0 && System.nanoTime() < deadline)
      Thread.sleep(20)
    System.gc()
    Thread.sleep(300)
    System.gc()
    oldGen.map(_.getUsage.getUsed).sum / (1024.0 * 1024.0)
  }
}

object Files2 {
  def deleteRecursively(p: Path): Unit = deleteRecursively(p.toFile)
  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory && !Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
  def fresh(p: Path): Path = {
    deleteRecursively(p)
    Files.createDirectories(p)
  }
  def listFilesRecursively(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toVector
      finally s.close()
    }
}

/** The run's fixed settings and where it may write. */
final case class Ctx(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    work: Path,
    cores: Int) {
  def dir(name: String): Path = work.resolve(name)
}

object Sessions {
  /** The engine configuration every workload measures: the repo's bench
    * settings (AQE on, shuffle partitions = cores, graft extensions, UTC)
    * with every warehouse, local and checkpoint directory inside the run's
    * work directory.
    */
  def build(ctx: Ctx, warehouse: Path, cores: Int): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    Files.createDirectories(warehouse)
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${ctx.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.sql.warehouse.dir", warehouse.toUri.toString)
      .config("spark.local.dir", ctx.dir("spark-local").toString)
      .config("spark.sql.streaming.stopTimeout", "60s")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    Seq("org.apache.spark.sql.execution.window.WindowExec", "org.apache.spark.rdd",
        "org.apache.spark.sql.execution.streaming")
      .foreach(n => org.apache.log4j.Logger.getLogger(n)
        .setLevel(org.apache.log4j.Level.ERROR))
    s
  }

  /** Drop every persisted RDD, blocking, between timed regions (the repo
    * bench's clearCaches rule: dead localCheckpoints must not land on the
    * next timed region).
    */
  def clearCaches(s: SparkSession): Unit = {
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    s.catalog.clearCache()
  }
}

/** Contention stamp: a fixed, data-independent job (the repo bench's
  * sentinel), plus nproc and the load average. The quiet band was
  * recalibrated on the 4-cpu host the baseline was taken on.
  */
object Sentinel {
  /** Median sentinel seconds on a quiet 4-cpu host (perfbench/README.md). */
  val QuietMedianS = 0.06

  def once(s: SparkSession): Double = {
    val t0 = System.nanoTime()
    s.range(0, 1L << 20, 1, 8).selectExpr("sum(id * 3 % 7) as s")
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  def stamp(series: Seq[Double]): Map[String, Any] = {
    val med = Stats.median(series)
    Map(
      "sentinel_s" -> series,
      "sentinel_median_s" -> med,
      "quiet_median_s" -> QuietMedianS,
      "contended" -> (med > 2 * QuietMedianS),
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "loadavg" -> loadAvg())
  }

  def loadAvg(): Seq[Double] =
    try {
      val f = java.nio.file.Paths.get("/proc/loadavg")
      new String(Files.readAllBytes(f)).trim.split("\\s+").take(3).map(_.toDouble).toSeq
    } catch {
      case _: Exception =>
        Seq(ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage)
    }
}
