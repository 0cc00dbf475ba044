package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** JVM entry of the benchmark: runs one workload and writes its result
  * (and, when traced, its span tree) as JSON. `perfbench/run.py` starts
  * it, adds the query oracle check and prints the final line.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> --result <file> [--trace-file <file>]
  */
object Main {
  val Workloads: Map[String, Ctx => Result] = Map(
    "enriched_backfill" -> Backfill.run,
    "sdj_stream" -> Stream.run,
    "query_mix" -> QueryMix.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    val run = Workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val work = Paths.get(need("work")).toAbsolutePath
    val ctx = Ctx(workload, need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", work, cores = 4)
    CodegenFailures.install()
    val t0 = Clock.nowMs
    val r = Tracer.span(s"bench.$workload")(run(ctx))
    val spans = Tracer.spans.asScala.toVector
    val layers =
      if (ctx.trace) Metrics.completeLayers(r.layers ++
        Tracer.selfTimeByLayer(spans).map { case (l, s) => s"trace.self_s.$l" -> s })
      else Map.empty[String, Double]
    val out = Map(
      "workload" -> workload, "seed" -> ctx.seed, "seconds" -> ctx.seconds,
      "trace" -> ctx.trace, "run_s" -> (Clock.nowMs - t0) / 1000.0,
      "correct" -> r.correct, "attempted" -> r.attempted, "failed" -> r.failed,
      "e2e" -> r.e2e, "reported" -> r.reported, "layers" -> layers,
      "units" -> Metrics.units, "detail" -> r.detail)
    Files.write(Paths.get(need("result")), Json.render(out).getBytes("UTF-8"))
    opts.get("trace-file").filter(_ => ctx.trace).foreach { f =>
      Files.createDirectories(Paths.get(f).toAbsolutePath.getParent)
      Files.write(Paths.get(f), Tracer.toJson(spans).getBytes("UTF-8"))
    }
    // every session is stopped; do not wait on lingering non-daemon threads
    sys.exit(0)
  }
}
