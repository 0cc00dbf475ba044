package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Dynamic partition pruning — the runtime scan-skipping that carries
  * partitioned fact tables at 100 TB: a selective dimension filter is
  * turned into a runtime partition filter on the fact scan, so only the
  * matching partition directories are read at all. This is free for any
  * layout written with `partitionBy` (the loader's templated layout is
  * exactly that shape).
  */
class RuntimeFilterSpec extends AnyFunSuite with SparkSuite {

  private val dir = java.nio.file.Files.createTempDirectory("dpp").toString

  override def afterAll(): Unit = {
    super.afterAll()
    // clean the parquet fixture — createTempDirectory does not auto-delete
    import scala.reflect.io.Directory
    new Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("a selective dim filter prunes fact partitions at runtime (DPP)") {
    import spark.implicits._
    spark.range(10000)
      .select((col("id") % 5).cast("string").as("k"), col("id").as("v"))
      .write.partitionBy("k").mode("overwrite").parquet(dir)
    val fact = spark.read.parquet(dir)
    val dim = spark.range(5).select(col("id").cast("string").as("k"))
      .filter(col("k") === "2")
    val j = fact.join(dim, "k").agg(sum(col("v")).as("s"))
    val got = j.as[Long].head()
    // ids ≡ 2 mod 5: 2 + 7 + ... — closed form over 2000 members
    val expect = (0L until 10000L).filter(_ % 5 == 2).sum
    assert(got == expect)
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"expected a runtime partition filter on the fact scan:\n${plan.take(3000)}")
  }

  test("a selective dim filter injects a bloom runtime filter on an UNpartitioned fact") {
    import spark.implicits._
    // the non-partitioned complement of DPP: the optimizer builds a bloom
    // filter from the filtered dim side and pushes membership tests into
    // the fact scan — row-group skipping without any physical layout.
    // Thresholds lowered so the tiny fixture qualifies; at 100 TB the
    // defaults (10MB creation side) fire on exactly the dims we broadcast.
    val bloomDir = java.nio.file.Files.createTempDirectory("bloom").toString
    try {
      spark.range(200000)
        .select((col("id") % 1000).as("k"), col("id").as("v"))
        .write.mode("overwrite").parquet(bloomDir)
      val fact = spark.read.parquet(bloomDir)
      spark.range(1000).select(col("id").as("k"),
          (col("id") % 7).as("attr"))
        .write.mode("overwrite").parquet(bloomDir + "_dim")
      val dim = spark.read.parquet(bloomDir + "_dim").filter(col("attr") === 3)
      val j = spark.sessionState.conf
      val prev = (j.getConfString("spark.sql.optimizer.runtime.bloomFilter.enabled", "true"),
        j.getConfString("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10MB"),
        j.getConfString("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "10GB"),
        j.getConfString("spark.sql.autoBroadcastJoinThreshold", "10MB"))
      j.setConfString("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      j.setConfString("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10MB")
      j.setConfString("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1KB")
      // bloom injection targets SHUFFLE joins (a broadcast build side
      // already prunes row-by-row); the fixture must not auto-broadcast
      j.setConfString("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val q = fact.join(dim, "k").agg(sum(col("v")).as("s"))
        val got = q.as[Long].head()
        val expect = (0L until 200000L).filter(id => (id % 1000) % 7 == 3).sum
        assert(got == expect)
        val plan = q.queryExecution.optimizedPlan.toString
        assert(plan.contains("might_contain") && plan.contains("bloom_filter_agg"),
          s"expected an injected bloom runtime filter on the fact side:\n${plan.take(3000)}")
      } finally {
        j.setConfString("spark.sql.optimizer.runtime.bloomFilter.enabled", prev._1)
        j.setConfString("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", prev._2)
        j.setConfString("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", prev._3)
        j.setConfString("spark.sql.autoBroadcastJoinThreshold", prev._4)
      }
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(bloomDir)).deleteRecursively()
      new Directory(new java.io.File(bloomDir + "_dim")).deleteRecursively()
    }
  }
}
