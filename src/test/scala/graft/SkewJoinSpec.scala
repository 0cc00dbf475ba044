package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SkewJoin

/** Salted skew join: result-identical to the plain join, with the hot
  * key's rows spread across salt buckets.
  */
class SkewJoinSpec extends AnyFunSuite with SparkSuite {

  override protected def sparkConf = Map("spark.sql.shuffle.partitions" -> "8")

  test("salted join equals the plain join on a skewed fact table") {
    import spark.implicits._
    // 90% of facts share one hot key
    val fact = (1 to 1000)
      .map(i => (if (i <= 900) "hot" else s"k${i % 7}", i.toLong))
      .toDF("k", "fact_id")
    val dim = Seq(("hot", "H"), ("k1", "A"), ("k3", "B"), ("unmatched", "Z"))
      .toDF("k", "label")

    val plain = fact.join(dim, Seq("k")).select("k", "fact_id", "label")
    val salted = SkewJoin.join(fact, dim, Seq("k"), col("fact_id"),
      buckets = 8).select("k", "fact_id", "label")
    assert(salted.count() == plain.count())
    assert(salted.except(plain).isEmpty && plain.except(salted).isEmpty)
  }

  test("left join keeps unmatched fact rows exactly once") {
    import spark.implicits._
    val fact = Seq(("a", 1L), ("b", 2L), ("b", 3L)).toDF("k", "fact_id")
    val dim = Seq(("a", "A")).toDF("k", "label")
    val out = SkewJoin.join(fact, dim, Seq("k"), col("fact_id"),
      buckets = 4, joinType = "left")
      .select("k", "fact_id", "label").collect()
    assert(out.length == 3)
    assert(out.count(_.isNullAt(2)) == 2) // both b-rows, once each
  }

  test("salt actually spreads the hot key across buckets") {
    import spark.implicits._
    val fact = (1 to 256).map(i => ("hot", i.toLong)).toDF("k", "fact_id")
    val salts = fact
      .withColumn("salt", pmod(hash(col("fact_id")), lit(8)))
      .select("salt").distinct().count()
    assert(salts > 4) // 256 draws over 8 buckets: all-but-degenerate spread
  }
}
