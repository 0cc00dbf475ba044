package graft

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
