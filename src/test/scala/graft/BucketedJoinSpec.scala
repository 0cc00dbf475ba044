package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

/** Bucketing = the persistent co-located-join layout: both sides
  * pre-hashed into the same bucket count on the join key, so the join
  * plans with ZERO shuffle exchanges — the technique that turns a
  * recurring 100 TB fact-fact join from two full shuffles into a local
  * merge per bucket.
  */
class BucketedJoinSpec extends AnyFunSuite with SparkSuite {

  private lazy val warehouse = Files.createTempDirectory("wh").toString

  override protected def sparkConf = Map(
    "spark.sql.warehouse.dir" -> warehouse,
    "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force SMJ path
    NoAqe)

  test("join of two tables bucketed on the key plans with no shuffle") {
    import spark.implicits._
    (1 to 1000).map(i => (i.toLong % 100, i.toLong)).toDF("k", "a")
      .write.bucketBy(8, "k").sortBy("k").mode("overwrite")
      .saveAsTable("fact_a")
    (1 to 500).map(i => (i.toLong % 100, s"v$i")).toDF("k", "b")
      .write.bucketBy(8, "k").sortBy("k").mode("overwrite")
      .saveAsTable("fact_b")

    val joined = spark.table("fact_a").join(spark.table("fact_b"), "k")
    val plan = joined.queryExecution.executedPlan
    val shuffles = plan.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.isEmpty, s"expected shuffle-free bucketed join, got:\n$plan")
    assert(joined.count() == 5000) // 10 a-rows x 5 b-rows per key x 100 keys
  }

  test("unbucketed baseline shuffles both sides (the cost bucketing removes)") {
    import spark.implicits._
    val a = (1 to 1000).map(i => (i.toLong % 100, i.toLong)).toDF("k", "a")
    val b = (1 to 500).map(i => (i.toLong % 100, s"v$i")).toDF("k", "b")
    val plan = a.join(b, "k").queryExecution.executedPlan
    val shuffles = plan.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.size == 2)
  }
}
