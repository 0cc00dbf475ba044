package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** graft_topk: the bounded-heap aggregate must equal the window idiom on
  * every input shape that stresses it — ties on score (id tiebreak),
  * groups smaller than k, merge across partitions — and must plan as an
  * aggregate, not a sort.
  */
class TopKSpec extends AnyFunSuite with SparkSuite {

  private def viaAgg(df: org.apache.spark.sql.DataFrame, k: Int) = {
    df.groupBy("g")
      .agg(expr(s"graft_topk(s, i, $k)").as("top"))
      .select(col("g"), posexplode(col("top")))
      .select(col("g"), (col("pos") + 1).cast("long").as("rk"),
        col("col.score").as("s"), col("col.id").as("i"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
  }

  private def viaWindow(df: org.apache.spark.sql.DataFrame, k: Int) = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("g").orderBy(col("s").desc, col("i"))
    df.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select("g", "rk", "s", "i")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
  }

  test("equals the window idiom: ties, small groups, many partitions") {
    import spark.implicits._
    // group a: distinct scores; b: all-tied scores (id tiebreak decides);
    // c: fewer rows than k; spread over 8 partitions to force merges
    val rows =
      (1 to 100).map(i => ("a", (i % 10).toDouble, i.toLong)) ++
        (1 to 50).map(i => ("b", 7.0, i.toLong)) ++
        Seq(("c", 1.0, 1L), ("c", 2.0, 2L))
    val df = spark.sparkContext.parallelize(rows, 8).toDF("g", "s", "i")
    assert(viaAgg(df, 5) == viaWindow(df, 5))
    assert(viaAgg(df, 1) == viaWindow(df, 1))
  }

  test("plans as an object hash aggregate — no per-group full sort") {
    import spark.implicits._
    val df = (1 to 1000).map(i => (s"g${i % 7}", i.toDouble, i.toLong))
      .toDF("g", "s", "i")
      .groupBy("g").agg(expr("graft_topk(s, i, 3)"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ObjectHashAggregate"), s"expected ObjectHashAggregate:\n$p")
    assert(!p.contains("Window"), s"top-k must not fall back to a window:\n$p")
  }
}
