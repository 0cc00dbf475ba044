package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The metric catalogue: every end-to-end and per-layer name with its
  * unit. Each run reports all of them; a layer metric that a workload
  * does not exercise reads 0 (BENCHMARK.json and perfbench/README.md say
  * which workload each one shows on).
  */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "peak_heap_mb" -> "MB", "records_per_s" -> "rec/s",
    "pass_s" -> "s", "lag_p50_ms" -> "ms", "lag_p99_ms" -> "ms")

  /** Printed with the end-to-end metrics on the detail line, not gated:
    * they follow batch size (stream) or are counts.
    */
  val Reported: Seq[(String, String)] = Seq(
    "compression_ratio" -> "x", "objects_written" -> "count", "failed_ratio" -> "ratio")

  /** The nine SURVEY §2.11 loader queries and the slowest committed entry
    * (q143_kcore). q133, q204 and q208 are left out: each costs about as
    * much per pass as q143 and more in set-up, and with them a query_mix
    * run does not fit the benchmark's time budget (perfbench/README.md).
    */
  val QueryEntries: Seq[String] = Seq(
    "q01_enriched_tstamp", "q02_sdj_bad", "q02_sdj_good", "q03_iglu_parse",
    "q04_group_by_schema", "q05_min_tstamp", "q06_size_batches", "q07_partition_path",
    "q08_size_cap", "q143_kcore")

  val Layers = Seq("bench", "sources", "operators", "model", "streaming", "sinks", "spark")

  val PerLayer: Seq[(String, String)] = Seq(
    "sources.decode_gzip_mb_per_s" -> "MB/s", "sources.decode_zstd_mb_per_s" -> "MB/s",
    "sources.scan_rows_per_record" -> "ratio", "sources.latest_offset_ms_p50" -> "ms",
    "sources.backlog_records_p50" -> "count",
    "operators.parse_rows_per_s" -> "rows/s",
    "model.bad_rows_per_s" -> "rows/s",
    "streaming.batch_ms_p50" -> "ms", "streaming.batch_ms_p99" -> "ms",
    "streaming.add_batch_ms_p50" -> "ms", "streaming.query_planning_ms_p50" -> "ms",
    "streaming.wal_commit_ms_p50" -> "ms", "streaming.commit_offsets_ms_p50" -> "ms",
    "streaming.jobs_per_batch" -> "count", "streaming.tasks_per_batch" -> "count",
    "streaming.prepass_s" -> "s", "streaming.good_write_s" -> "s", "streaming.bad_write_s" -> "s",
    "streaming.write_tasks" -> "count", "streaming.write_task_skew" -> "ratio",
    "sinks.gzip_mb_per_s" -> "MB/s", "sinks.gzip_ratio" -> "x", "sinks.oneshot_gzip_ratio" -> "x",
    "sinks.put_ms_p50" -> "ms", "sinks.put_ms_p99" -> "ms", "sinks.puts" -> "count",
    "sinks.put_mb" -> "MB", "sinks.objects_per_batch" -> "count",
    "sinks.compression_ratio" -> "x") ++
    QueryEntries.map(e => s"operators.${e}_s" -> "s") ++ Seq(
    "spark.planning_s" -> "s", "spark.codegen_compile_s" -> "s",
    "spark.codegen_fallbacks" -> "count", "spark.executor_cpu_s" -> "s",
    "spark.cpu_utilization" -> "ratio", "spark.gc_s" -> "s", "spark.shuffle_write_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.jobs" -> "count", "spark.tasks" -> "count",
    "spark.speedup_vs_1core" -> "x",
    "bench.generator_late_ms_max" -> "ms") ++
    Layers.map(l => s"trace.self_s.$l" -> "s") ++
    EndToEnd.map { case (n, u) => s"trace.overhead.$n" -> u }

  val units: Map[String, String] = (EndToEnd ++ Reported ++ PerLayer).toMap

  /** Fill a per-layer map with every catalogue name (0 where unmeasured). */
  def completeLayers(m: collection.Map[String, Double]): Map[String, Double] = {
    val unknown = m.keySet -- PerLayer.map(_._1)
    require(unknown.isEmpty, s"per-layer metrics missing from the catalogue: $unknown")
    PerLayer.map { case (n, _) => n -> m.getOrElse(n, 0.0) }.toMap
  }
}

/** What one workload run hands back to [[Main]]. */
final case class Result(
    e2e: Map[String, Double],
    reported: Map[String, Double],
    layers: Map[String, Double],
    attempted: Long,
    failed: Long,
    correct: Boolean,
    detail: Map[String, Any])

/** Per-layer numbers read off the Spark instruments for the loader
  * workloads: job wall time grouped by the LoaderPipeline call site that
  * submitted it, the good-write stage's tasks, and run-wide task metrics.
  */
object LoaderLayers {
  /** The LoaderPipeline step of every job, per runBatch call or
    * micro-batch. Call sites cannot tell them apart (adaptive execution
    * submits query-stage jobs from its own threads, and a streaming query
    * pins every job's call site to its start), so the puts do: the job
    * whose tasks put good objects is the good write, the job right before
    * it is that write's shuffle-map stage, everything earlier is the
    * size pre-pass (with the decode and parse it materialises), and
    * everything after is the bad write.
    */
  def callSites(jobs: Seq[JobRec], stagesOf: Map[Int, Seq[StageRec]], puts: Seq[PutRec])
      : Map[Int, String] = {
    val goodStages = puts.filter(_.path.contains("/good/")).map(_.stageId).toSet
    val badStages = puts.filter(_.path.contains("/bad/")).map(_.stageId).toSet
    def has(j: JobRec, st: Set[Int]) = stagesOf.getOrElse(j.jobId, Nil).exists(s => st(s.stageId))
    jobs.groupBy(j => if (j.batchId >= 0) -1 - j.batchId else j.parent).values.flatMap { group =>
      val js = group.sortBy(_.start)
      val gi = js.indexWhere(has(_, goodStages))
      val bi = js.indexWhere(has(_, badStages))
      js.zipWithIndex.map { case (j, i) =>
        j.jobId -> (
          if (gi >= 0 && (i == gi || i == gi - 1)) "good_write"
          else if (gi >= 0 && i > gi) "bad_write"
          else if (gi < 0 && bi >= 0 && i >= bi) "bad_write"
          else "prepass")
      }
    }.toMap
  }

  /** `units` = number of runBatch calls or micro-batches the instruments
    * saw; `puts` = their blob puts, whose stage ids name the good-write
    * stages (the tasks that ran the rolling gzip writer).
    */
  def from(ins: Instruments, units: Int, wallS: Double, cores: Int, puts: Seq[PutRec])
      : Map[String, Double] = {
    val jobs = ins.jobs.asScala.toVector
    val stages = ins.stages.asScala.toVector
    val tasks = ins.tasks.asScala.toVector
    val stagesOf = stages.groupBy(_.jobId)
    val sites = callSites(jobs, stagesOf, puts)
    val bySite = jobs.groupBy(j => sites(j.jobId))
    def siteS(site: String) =
      bySite.getOrElse(site, Nil).map(j => (j.end - j.start) / 1000.0).sum / math.max(1, units)
    val goodStageIds = puts.filter(_.path.contains("/good/")).map(_.stageId).toSet
    val goodStages = stages.filter(s => goodStageIds(s.stageId))
    val tasksByStage = tasks.groupBy(_.stageId)
    val writeTasks = goodStages.map(s => tasksByStage.getOrElse(s.stageId, Nil).size.toDouble)
    val skews = goodStages.flatMap { s =>
      val ts = tasksByStage.getOrElse(s.stageId, Nil).map(t => (t.finish - t.launch).max(0.001))
      if (ts.isEmpty) None else Some(ts.max / Stats.median(ts))
    }
    Map(
      "streaming.jobs_per_batch" -> jobs.size.toDouble / math.max(1, units),
      "streaming.tasks_per_batch" -> tasks.size.toDouble / math.max(1, units),
      "streaming.prepass_s" -> siteS("prepass"),
      "streaming.good_write_s" -> siteS("good_write"),
      "streaming.bad_write_s" -> siteS("bad_write"),
      "streaming.write_tasks" -> Stats.median(writeTasks),
      "streaming.write_task_skew" -> Stats.median(skews)) ++ sparkWide(ins, wallS, cores)
  }

  def sparkWide(ins: Instruments, wallS: Double, cores: Int): Map[String, Double] = {
    val tasks = ins.tasks.asScala.toVector
    val cpuS = tasks.map(_.cpuNs).sum / 1e9
    Map(
      "spark.planning_s" -> ins.plans.asScala.map(_.planningMs).sum / 1000.0,
      "spark.codegen_compile_s" -> ins.compileMs / 1000.0,
      "spark.codegen_fallbacks" -> ins.fallbacks.toDouble,
      "spark.executor_cpu_s" -> cpuS,
      "spark.cpu_utilization" -> (if (wallS > 0) cpuS / (wallS * cores) else 0.0),
      "spark.gc_s" -> ins.gcMs / 1000.0,
      "spark.shuffle_write_mb" -> tasks.map(_.shuffleWrite).sum / 1048576.0,
      "spark.spill_mb" -> tasks.map(_.spill).sum / 1048576.0,
      "spark.jobs" -> ins.jobs.size.toDouble,
      "spark.tasks" -> tasks.size.toDouble)
  }

  def recordsRead(ins: Instruments): Long = ins.tasks.asScala.map(_.recordsRead).sum

  def puts(ps: Seq[PutRec], units: Int): Map[String, Double] = {
    val ms = ps.map(p => p.end - p.start)
    Map(
      "sinks.put_ms_p50" -> Stats.quantile(ms, 0.5),
      "sinks.put_ms_p99" -> Stats.quantile(ms, 0.99),
      "sinks.puts" -> ps.size.toDouble,
      "sinks.put_mb" -> ps.map(_.bytes).sum / 1048576.0,
      "sinks.objects_per_batch" -> ps.size.toDouble / math.max(1, units))
  }
}

/** Record lag: for every record an object holds, the object's durable-put
  * instant minus the record's due instant.
  */
object Lag {
  def putEnds(ps: Seq[PutRec]): Map[String, Double] = {
    val m = mutable.HashMap.empty[String, Double]
    ps.foreach { p =>
      val k = normalise(p.path)
      m(k) = math.max(m.getOrElse(k, 0.0), p.end)
    }
    m.toMap
  }

  /** Put paths are `file:` URIs; objects read back are plain paths. */
  def normalise(path: String): String =
    if (path.startsWith("file:")) new java.io.File(new java.net.URI(path)).getPath else path
}
