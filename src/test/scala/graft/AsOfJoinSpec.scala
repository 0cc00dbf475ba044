package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.AsOfJoin

/** AsOfJoin semantics: latest right row with right.ts <= left.ts per key,
  * inclusive at equal ts, NULL when nothing precedes.
  */
class AsOfJoinSpec extends AnyFunSuite with SparkSuite {

  override protected def cores = 2

  test("asof picks latest prior right row, inclusive ties, null when none") {
    import spark.implicits._
    val left = Seq(
      (1L, "u1", 100L), // after r@50 and r@100 → matches r@100 (inclusive)
      (2L, "u1", 60L),  // after r@50 only
      (3L, "u1", 10L),  // before all → null
      (4L, "u2", 500L)  // key with no right rows → null
    ).toDF("event_id", "key", "ts")
    val right = Seq(
      ("u1", 50L, "a"),
      ("u1", 100L, "b"),
      ("u1", 200L, "c")
    ).toDF("key", "rts", "tag")

    val out = AsOfJoin.asof(left, right, "key", "ts", "rts")
      .select($"event_id", $"asof.tag".as("tag"))
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toMap

    assert(out(1L) == Some("b")) // inclusive: rts=100 <= ts=100
    assert(out(2L) == Some("a"))
    assert(out(3L) == None)
    assert(out(4L) == None)
  }
}
