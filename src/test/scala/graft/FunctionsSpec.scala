package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

/** Native expression semantics: graft_dot's fold order, null contract
  * (length mismatch ⇒ NULL, matching the zip_with/list_zip composed form),
  * and graft_shingles' distinct-3-gram output.
  */
class FunctionsSpec extends AnyFunSuite with SparkSuite {

  override protected def cores = 2

  /** `df`'s rows with IntersectSizeFusion excluded: Spark's own
    * `size(array_intersect)`, never graft's rewrite of it. Fails if the
    * optimized plan still holds a graft expression.
    */
  private def unfused(df: => DataFrame): Array[Row] = {
    val key = "spark.sql.optimizer.excludedRules"
    spark.conf.set(key, "graft.functions.IntersectSizeFusion")
    try {
      val d = df
      val native = d.queryExecution.optimizedPlan.flatMap(_.expressions).flatMap(
        _.collect { case e if e.getClass.getName.startsWith("graft.") => e })
      assert(native.isEmpty, s"reference plan holds $native")
      d.collect()
    } finally spark.conf.unset(key)
  }

  private def dotOf(a: Seq[Float], b: Seq[Float]): Option[Double] = {
    import spark.implicits._
    val r = Seq((a, b)).toDF("a", "b")
      .selectExpr("graft_dot(a, b) AS d").collect()(0)
    if (r.isNullAt(0)) None else Some(r.getDouble(0))
  }

  test("graft_dot: left-fold double accumulation on equal lengths") {
    assert(dotOf(Seq(1f, 2f, 3f), Seq(4f, 5f, 6f)).contains(32.0))
    assert(dotOf(Seq.empty, Seq.empty).contains(0.0))
  }

  test("graft_dot: length mismatch is NULL, never a truncated partial product") {
    assert(dotOf(Seq(1f, 2f, 3f), Seq(4f, 5f)).isEmpty)
    assert(dotOf(Seq(1f), Seq.empty).isEmpty)
  }

  test("graft_dot: NULL array propagates NULL") {
    import spark.implicits._
    val r = Seq(Tuple1(Seq(1f, 2f))).toDF("a")
      .selectExpr("graft_dot(a, cast(null as array<float>)) AS d").collect()(0)
    assert(r.isNullAt(0))
  }

  test("graft_minhash: slots match the composed array_min/transform form") {
    val composed = (0 until 12).map { i =>
      val (j, off) = (i / 2, 1 + 16 * (i % 2))
      s"array_min(transform(sh, x -> " +
        s"substring(md5(cast(concat(x, '#$j') as binary)), $off, 16))) AS c$i"
    }.mkString(", ")
    val r = spark.sql(
      "SELECT graft_minhash(sh, 12) AS mhs, " + composed +
        " FROM (SELECT array('the quick brown', 'quick brown fox', 'fox!') AS sh)")
      .collect()(0)
    val native = r.getSeq[String](0)
    val expected = (0 until 12).map(i => r.getString(i + 1))
    assert(native == expected)
  }

  test("graft_minhash: empty shingle array is NULL (array_min semantics)") {
    val r = spark.sql(
      "SELECT graft_minhash(cast(array() as array<string>), 12) AS mhs")
      .collect()(0)
    assert(r.isNullAt(0))
  }

  test("graft_simhash: matches the exploded md5-bit-vote form") {
    // composed reference rendering (the DuckDB oracle's shape)
    val both = spark.sql(
      """WITH t AS (SELECT array('alpha', 'beta', 'alpha', 'gamma!') AS toks),
        |tok AS (SELECT md5(cast(tk as binary)) AS h FROM t LATERAL VIEW explode(toks) AS tk),
        |bits AS (SELECT h, b,
        |    instr('0123456789abcdef', substring(h, cast(b / 4 as int) + 1, 1)) - 1 AS d
        |  FROM tok LATERAL VIEW explode(sequence(0, 15)) AS b),
        |votes AS (SELECT b,
        |    sum(CASE WHEN shiftright(d, 3 - b % 4) % 2 = 1 THEN 1 ELSE -1 END) AS vote
        |  FROM bits GROUP BY b)
        |SELECT
        |  (SELECT cast(sum(CASE WHEN vote > 0 THEN cast(pow(2, b) as bigint) ELSE 0 END) as bigint) FROM votes) AS composed,
        |  (SELECT graft_simhash(toks) FROM t) AS native""".stripMargin)
      .collect()(0)
    assert(both.getLong(0) == both.getLong(1))
  }

  test("graft_simhash64: bits 0-15 are exactly graft_simhash (prefix property), width fills 64") {
    val r = spark.sql(
      """SELECT graft_simhash(t) AS s16, graft_simhash64(t) AS s64
        |FROM (SELECT array('alpha', 'beta', 'alpha', 'gamma!', 'x9') AS t)""".stripMargin)
      .collect()(0)
    val (s16, s64) = (r.getLong(0), r.getLong(1))
    assert((s64 & 0xffffL) == s16, f"low 16 bits differ: s16=$s16%x s64=$s64%x")
    assert(s64 != s16, "upper 48 bits all zero — width not actually 64")
  }

  test("graft_simhash64: null and empty contracts match graft_simhash") {
    val r = spark.sql(
      """SELECT graft_simhash64(cast(null as array<string>)) AS n,
        |  graft_simhash64(cast(array() as array<string>)) AS e""".stripMargin).collect()(0)
    assert(r.isNullAt(0)) // null in, null out
    assert(r.getLong(1) == 0L) // no tokens: every vote sum 0, no bit set
  }

  test("graft_winnow: matches the composed slice/array_min winnowing form") {
    val r = spark.sql(
      """WITH t AS (SELECT split('the quick brown fox jumps over the lazy dog and the quick cat', ' ') AS toks),
        |h AS (SELECT toks, transform(sequence(1, greatest(size(toks) - 2, 1)),
        |    i -> substring(md5(cast(concat_ws(' ', slice(toks, i, 3)) as binary)), 1, 16)) AS hs FROM t)
        |SELECT
        |  array_sort(array_distinct(transform(sequence(1, greatest(size(hs) - 3, 1)),
        |    i -> array_min(slice(hs, i, 4))))) AS composed,
        |  graft_winnow(toks, 3, 4) AS native
        |FROM h""".stripMargin).collect()(0)
    assert(r.getSeq[String](0) == r.getSeq[String](1))
    assert(r.getSeq[String](0).nonEmpty)
  }

  test("graft_winnow: short input (fewer tokens than n) yields one fingerprint") {
    val r = spark.sql("SELECT graft_winnow(array('only', 'two'), 3, 4) AS fps")
      .collect()(0).getSeq[String](0)
    assert(r.size == 1)
  }

  test("graft_shingles: distinct 3-gram shingles over a token array") {
    val r = spark.sql(
      "SELECT graft_shingles(array('a','b','c','d','a','b','c','d'), 3) AS sh")
      .collect()(0).getSeq[String](0)
    assert(r.contains("a b c") && r.contains("b c d"))
    assert(r.distinct.size == r.size)
  }

  test("graft_sorted_intersect_size ≡ size(array_intersect) on sorted random arrays") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // random string arrays WITH duplicates (dedup semantics must match),
    // including empty and fully-overlapping cases
    val rows = (0 until 200).map { _ =>
      def arr() = Seq.fill(rnd.nextInt(20))(s"w${rnd.nextInt(12)}").sorted
      (arr(), arr())
    } :+ ((Seq.empty[String], Seq("a", "b"))) :+
      ((Seq("a", "a", "b"), Seq("a", "b", "b")))
    def check(df: DataFrame): Unit = {
      val merged = df.selectExpr("graft_sorted_intersect_size(a, b)")
        .collect().map(_.getInt(0)).toSeq
      val composed = unfused(df.selectExpr("size(array_intersect(a, b))"))
        .map(_.getInt(0)).toSeq
      assert(merged == composed)
    }
    check(rows.toDF("a", "b"))
    // long arrays too (the codegen comparator differs by element type)
    check((0 until 100).map { _ =>
      def arr() = Seq.fill(rnd.nextInt(20))(rnd.nextInt(9).toLong).sorted
      (arr(), arr())
    }.toDF("a", "b"))
  }

  test("graft_gram_stats ≡ the composed zip_with/array_distinct/argmax form") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    // small vocab forces duplicate grams AND top-count ties (the
    // max(struct) tie-break by binary-largest gram must match)
    val rows = (0 until 300).map { _ =>
      Seq.fill(rnd.nextInt(15))(s"w${rnd.nextInt(4)}")
    } :+ Seq.empty[String] :+ Seq("only") :+ Seq("a", "a", "a", "a")
    val df = rows.map(Tuple1(_)).toDF("t")
    val bad = df.selectExpr(
      "graft_gram_stats(t, 2) AS s",
      """if(size(t) < 2, array(), zip_with(slice(t, 1, size(t) - 1),
        | slice(t, 2, size(t) - 1), (a, b) -> concat(a, ' ', b))) AS g2""".stripMargin)
      .selectExpr("s", "size(g2) AS n_grams",
        "size(array_distinct(g2)) AS n_distinct",
        """aggregate(array_distinct(g2),
          | named_struct('cnt', 0, 'g', cast(null as string)),
          | (acc, x) -> if(size(filter(g2, e -> e = x)) > acc.cnt
          |   or (size(filter(g2, e -> e = x)) = acc.cnt and (acc.g is null or x > acc.g)),
          |   named_struct('cnt', size(filter(g2, e -> e = x)), 'g', x), acc)) AS top""".stripMargin)
      .filter("""s.n_grams != n_grams or s.n_distinct != n_distinct
        | or s.top_cnt != top.cnt
        | or not (s.top_g <=> top.g)""".stripMargin)
    assert(bad.count() == 0)
  }

  test("graft_gram_stats: null and short-input contracts") {
    val r = spark.sql(
      """SELECT graft_gram_stats(cast(null as array<string>), 2) AS n,
        | graft_gram_stats(array('one'), 2) AS short""".stripMargin).collect()(0)
    assert(r.isNullAt(0))
    val s = r.getStruct(1)
    assert(s.getInt(0) == 0 && s.getInt(1) == 0 && s.getInt(2) == 0 && s.isNullAt(3))
  }

  test("graft_sorted_intersect_size: null contract (null array in, null out)") {
    val r = spark.sql(
      "SELECT graft_sorted_intersect_size(cast(null as array<string>), array('a'))")
      .collect()(0)
    assert(r.isNullAt(0))
  }

  test("literal parameters: non-literal / non-integer args fail with a named error (r8 advice)") {
    import spark.implicits._
    val df = Seq((Seq("a", "b", "c"), 2)).toDF("toks", "n")
    df.createOrReplaceTempView("lit_check")
    // non-literal n → clear AnalysisException naming function + parameter,
    // not an opaque UnsupportedOperationException from resolution
    val e1 = intercept[Exception] {
      spark.sql("SELECT graft_shingles(toks, n) FROM lit_check").collect()
    }
    assert(e1.getMessage.contains("graft_shingles") &&
      e1.getMessage.contains("<n>"), s"wrong error: ${e1.getMessage}")
    // non-integer literal → same contract
    val e2 = intercept[Exception] {
      spark.sql("SELECT graft_hamming_pairs(array(named_struct('doc_id', 1L, " +
        "'sim', 2L)), 0, 'three', 16, 4) FROM lit_check").collect()
    }
    assert(e2.getMessage.contains("graft_hamming_pairs") &&
      e2.getMessage.contains("<maxDist>"), s"wrong error: ${e2.getMessage}")
    // pigeonhole recall guard: maxDist >= nBlocks must fail loudly
    val e3 = intercept[Exception] {
      spark.sql("SELECT graft_hamming_pairs(array(named_struct('doc_id', 1L, " +
        "'sim', 2L)), 0, 4, 16, 4) FROM lit_check").collect()
    }
    assert(e3.getMessage.contains("maxDist") &&
      e3.getMessage.contains("nBlocks"), s"wrong error: ${e3.getMessage}")
  }

  test("cellCountFor derivation and the wide (k>8) cluster expression") {
    import graft.operators.Similarity
    // the derivation: every driver scale factor stays at the historical 8;
    // the bench's derived corpora grow — 16/32/63 at 2x/4x/8x of sf0.1
    assert(Similarity.cellCountFor(500) == 8)
    assert(Similarity.cellCountFor(2000) == 8)
    assert(Similarity.cellCountFor(4000) == 16)
    assert(Similarity.cellCountFor(8000) == 32)
    assert(Similarity.cellCountFor(16000) == 63)
    assert(Similarity.cellCountFor(2_000_000_000L) == 4096)
    // the k=63 literal-argmax expression evaluates and agrees with a
    // Scala-side argmax over the same md5 centroids
    import spark.implicits._
    val vecs = (0 until 20).map { i =>
      (i.toLong, Array.tabulate(64)(d => (((i * 31 + d * 7) % 13) - 6) / 6.0f))
    }
    val got = vecs.toDF("vec_id", "embedding")
      .selectExpr("vec_id",
        s"${Similarity.clusterExprSparkK("embedding", 63)} as cell")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def scalaCell(v: Array[Float]): Long = {
      val dots = (0 until 63).map { c =>
        val cent = Similarity.centroidK(c)
        var acc = 0.0; var d = 0
        while (d < 64) { acc += v(d).toDouble * cent(d); d += 1 }
        acc
      }
      dots.indexOf(dots.max) + 1L
    }
    vecs.foreach { case (id, v) =>
      assert(got(id) == scalaCell(v), s"vec $id")
      assert(got(id) >= 1 && got(id) <= 63)
    }
  }
}
