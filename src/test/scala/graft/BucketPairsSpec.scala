package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** The shared within-bucket pair-emission helpers: [[Dedup.bucketPairs]]
  * (sorted-struct-array i<j explode with the over-cap pairwise-join
  * fallback) and [[Dedup.hammingBlockPairs]] (native first-agreeing-block
  * generator with the same fallback). Both must produce exactly the
  * naive self-join's pair set on arbitrary inputs, on BOTH routes —
  * r7's plan review flagged that the band/block families still streamed
  * every pair twice; these are the r8 replacements.
  */
class BucketPairsSpec extends AnyFunSuite with SparkSuite {

  private def naivePairs(rows: Seq[(Int, Long)]): Set[(Long, Long)] =
    rows.groupBy(_._1).values.flatMap { bucket =>
      val ids = bucket.map(_._2)
      for (a <- ids; b <- ids if a < b) yield (a, b)
    }.toSet

  test("bucketPairs: array path emits each unordered pair exactly once") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    // skewed buckets: one hub with 40 members, many small ones
    val rows = (0 until 40).map(i => (7, i.toLong)) ++
      (0 until 60).map(_ => (rnd.nextInt(10), 100L + rnd.nextInt(30)))
    val dedup = rows.distinct
    val df = dedup.toDF("bucket", "doc_id")
    val got = Dedup.bucketPairs(df, Seq("bucket"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // exactly once: no duplicates even for pairs sharing several buckets
    val naiveMulti = dedup.groupBy(_._1).values.flatMap { bucket =>
      val ids = bucket.map(_._2)
      for (a <- ids; b <- ids if a < b) yield (a, b)
    }.toSeq
    assert(got.sorted == naiveMulti.sorted)
    assert(got.forall { case (a, b) => a < b })
  }

  test("bucketPairs: over-cap buckets take the join fallback, same pairs") {
    import spark.implicits._
    val rows = ((0 until 30).map(i => (1, i.toLong)) ++ // over cap=8
      (0 until 5).map(i => (2, 100L + i))).toDF("bucket", "doc_id")
    val got = Dedup.bucketPairs(rows, Seq("bucket"), cap = 8)
      .select(col("a.doc_id"), col("b.doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = naivePairs((0 until 30).map(i => (1, i.toLong)) ++
      (0 until 5).map(i => (2, 100L + i)))
    assert(got == want)
  }

  test("property: bucketPairs ≡ naive C(df,2) enumeration across caps straddling dfp and both reuse modes (r9 verdict #8)") {
    import spark.implicits._
    // bucketPairs now backs most pair families with two sharing modes
    // (checkpoint/reuse) and a cap split; its exactness was previously
    // proven only via downstream oracle matches. Random multi-key,
    // multi-payload inputs; caps straddle every bucket's df so the same
    // input exercises array-only, join-only, and mixed routes.
    val gen = Gen.nonEmptyListOf(for {
      k1 <- Gen.chooseNum(0, 5)
      k2 <- Gen.oneOf("x", "y")
      id <- Gen.chooseNum(0L, 60L)
      w <- Gen.chooseNum(0, 9)
    } yield (k1, k2, id, w))
    for (seed <- 0L until 8L) {
      val raw = gen(Gen.Parameters.default.withSize(50), Seed(seed)).get
      // one payload row per (bucket, doc): keep the max weight, mirroring
      // the struct order sort_array would use
      val rows = raw.groupBy(t => (t._1, t._2, t._3))
        .map { case ((k1, k2, id), ts) => (k1, k2, id, ts.map(_._4).max) }
        .toSeq
      val df = rows.toDF("k1", "k2", "doc_id", "w")
      // naive per-bucket C(df,2), multiset (a pair sharing two buckets
      // appears once PER bucket; callers dedup downstream)
      val want = rows.groupBy(t => (t._1, t._2)).values.flatMap { bucket =>
        val ps = bucket.map(t => (t._3, t._4)).sorted
        for (i <- ps.indices; j <- i + 1 until ps.size) yield (ps(i), ps(j))
      }.toSeq.sorted
      for (cap <- Seq(1, 3, 4096); reuse <- Seq(true, false)) {
        val got = Dedup.bucketPairs(df, Seq("k1", "k2"),
            cap = cap, reuse = reuse)
          .select(col("a.doc_id"), col("a.w"), col("b.doc_id"), col("b.w"))
          .collect()
          .map(r => ((r.getLong(0), r.getInt(1)), (r.getLong(2), r.getInt(3))))
          .toSeq.sorted
        assert(got == want,
          s"seed=$seed cap=$cap reuse=$reuse: ${got.size} pairs vs ${want.size}")
      }
    }
  }

  test("hammingBlockPairs ≡ naive all-pairs hamming on random fingerprints (both routes)") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    // clustered sims force near pairs; 64-bit geometry, width 16
    val base = Seq.fill(8)(rnd.nextLong())
    val docs = (0L until 120L).map { id =>
      val b = base(rnd.nextInt(base.size))
      val flips = rnd.nextInt(5)
      val sim = (0 until flips).foldLeft(b)((s, _) => s ^ (1L << rnd.nextInt(64)))
      (id, sim)
    }
    val naive = (for {
      (ia, sa) <- docs; (ib, sb) <- docs
      if ia < ib
      d = java.lang.Long.bitCount(sa ^ sb)
      if d <= 3
    } yield (ia, ib, d)).toSet
    val lng = docs.toDF("doc_id", "sim")
      .select(col("doc_id"), col("sim"),
        explode(expr("array(0, 1, 2, 3)")).as("blk"))
      .withColumn("block", expr("shiftright(sim, blk * 16) & 65535"))
      .select("blk", "block", "doc_id", "sim")
    // generator route (cap high) and fallback route (cap 1: every
    // multi-doc bucket takes the pairwise join) must agree exactly
    for (cap <- Seq(4096, 1)) {
      val got = Dedup.hammingBlockPairs(lng, Seq("blk", "block"),
          maxDist = 3, width = 16, nBlocks = 4, cap = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      assert(got.length == got.toSet.size, s"duplicate pairs at cap=$cap")
      assert(got.toSet == naive, s"pair set mismatch at cap=$cap")
    }
  }

  test("hammingBlockPairs: mixed routes stay duplicate-free (cap between bucket sizes)") {
    import spark.implicits._
    // two docs with IDENTICAL sims agree on every block; with one giant
    // bucket over cap and the rest under, the pair must still appear once
    val docs = (0L until 40L).map(id => (id, 0x0123456789abcdefL)) :+
      ((99L, 0x0123456789abcdeeL)) // hamming 1 from the cluster
    val lng = docs.toDF("doc_id", "sim")
      .select(col("doc_id"), col("sim"),
        explode(expr("array(0, 1, 2, 3)")).as("blk"))
      .withColumn("block", expr("shiftright(sim, blk * 16) & 65535"))
      .select("blk", "block", "doc_id", "sim")
    // blk0 bucket has the 40 identical docs (small route at cap=40);
    // blk1..3 buckets hold all 41 docs (doc 99 agrees there) → large
    // route. Cluster pairs emit from blk0, the 40 (cluster, 99) pairs
    // from blk1's fallback — exactly once each.
    val got = Dedup.hammingBlockPairs(lng, Seq("blk", "block"),
        maxDist = 3, width = 16, nBlocks = 4, cap = 40)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == got.toSet.size, "duplicates across routes")
    assert(got.toSet.size == 40 * 39 / 2 + 40)
  }
}
