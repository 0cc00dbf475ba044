package graft

import java.io.File
import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.state.StateStore
import org.scalatest.{BeforeAndAfterAll, Suite}

/** A suite's session: [[GraftSession]] at `cores` slots plus the suite's
  * `sparkConf` overrides, built on first use and stopped after the suite.
  */
trait SparkSuite extends BeforeAndAfterAll { this: Suite =>
  protected def cores: Int = 4
  protected def sparkConf: Map[String, String] = Map.empty

  /** Static plans: AQE's AdaptiveSparkPlanExec hides a plan's children
    * from `executedPlan.collect` until it runs.
    */
  protected val NoAqe: (String, String) = "spark.sql.adaptive.enabled" -> "false"

  protected lazy val spark: SparkSession =
    GraftSession.local(cores, sparkConf.toSeq: _*)

  /** Stops the session, then the JVM-wide state store: its maintenance
    * thread would otherwise keep this session's loaded providers and report
    * to their stopped coordinator while the next suite runs.
    */
  override protected def afterAll(): Unit =
    try {
      spark.stop()
      StateStore.stop()
    } finally super.afterAll()
}

/** A [[SparkSuite]] on a `local-cluster[executors,cores,memory]` master:
  * one standalone cluster per suite, whose executors are separate JVMs
  * that load the build's class directories. The session conf leaves
  * `spark.executor.cores` unset, as a standalone executor that takes every
  * core of its worker does. Code that runs in an executor must live in an
  * object, not in the suite, whose test-framework parents the executors
  * cannot load. `tmp` is a directory that the driver and the executors
  * both see, deleted after the suite.
  */
trait LocalClusterSuite extends SparkSuite { this: Suite =>
  protected def executors: Int
  protected def coresPerExecutor: Int
  protected def workerMemoryMb: Int

  override protected def cores: Int = executors * coresPerExecutor

  override protected def sparkConf: Map[String, String] = Map(
    "spark.master" -> s"local-cluster[$executors,$coresPerExecutor,$workerMemoryMb]",
    "spark.executor.extraClassPath" -> Seq(GraftSession.getClass, classOf[LocalClusterSuite])
      .map(c => new File(c.getProtectionDomain.getCodeSource.getLocation.toURI).getPath)
      .distinct.mkString(File.pathSeparator))

  protected lazy val tmp: Path = Files.createTempDirectory(getClass.getSimpleName)

  override protected def afterAll(): Unit =
    try if (Files.exists(tmp))
      Files.walk(tmp).sorted(java.util.Comparator.reverseOrder[Path]).forEach(Files.delete(_))
    finally super.afterAll()
}
