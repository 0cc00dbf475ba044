package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Codegen COMPILE gate for every native expression.
  *
  * Round 7 shipped a `doGenCode` whose generated Java did not compile
  * (a cast-precedence bug in SortedIntersectSize's string comparison):
  * every property check still passed, because Spark silently falls back
  * to interpreted eval when janino rejects a stage, and interpreted
  * `nullSafeEval` satisfies any value-level assertion. The hot verify
  * joins the expression was built to accelerate ran interpreted for a
  * whole round.
  *
  * This spec closes that hole: each native expression is evaluated
  * through a plan that CANNOT be constant-folded or collapsed to a
  * LocalRelation (a repartition sits between the data and the project),
  * with `spark.sql.codegen.factoryMode=CODEGEN_ONLY` (no interpreted
  * projection fallback) and `spark.sql.codegen.fallback=false`
  * (whole-stage compile errors throw instead of silently reverting to
  * the child plan). If any expression's generated code stops compiling,
  * the corresponding test FAILS — it does not quietly pass interpreted.
  * Each run is then value-compared against NO_CODEGEN interpreted eval,
  * so compiled and interpreted paths are also proven equivalent.
  */
class CodegenGateSpec extends AnyFunSuite with SparkSuite {

  override protected def cores = 2

  /** Runs `build(spark)` twice — compiled-only, then interpreted-only —
    * and asserts identical sorted results. A janino compile failure in
    * the first run surfaces as a thrown SparkException, not a fallback.
    */
  private def gate(sql: String, df: => DataFrame): Unit = {
    def run(): Seq[String] =
      df.repartition(1).selectExpr(sql + " AS v")
        .collect().map(r => String.valueOf(r.get(0))).toSeq.sorted
    val conf = spark.conf
    val (m0, f0) = (conf.get("spark.sql.codegen.factoryMode", "FALLBACK"),
      conf.get("spark.sql.codegen.fallback", "true"))
    try {
      conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      conf.set("spark.sql.codegen.fallback", "false")
      val compiled = run()
      conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val interpreted = run()
      assert(compiled == interpreted,
        s"compiled vs interpreted mismatch for $sql")
      assert(compiled.nonEmpty)
    } finally {
      conf.set("spark.sql.codegen.factoryMode", m0)
      conf.set("spark.sql.codegen.fallback", f0)
    }
  }

  private def strArrays: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    ((0 until 50).map { _ =>
      def arr() = Seq.fill(1 + rnd.nextInt(12))(s"tok${rnd.nextInt(9)}").sorted
      (arr(), arr())
    } :+ ((Seq("a", "a", "b"), Seq("a", "b", "b")))).toDF("a", "b")
  }

  private def longArrays: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    (0 until 50).map { _ =>
      def arr() = Seq.fill(1 + rnd.nextInt(12))(rnd.nextInt(9).toLong).sorted
      (arr(), arr())
    }.toDF("a", "b")
  }

  private def floatArrays: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    (0 until 50).map { _ =>
      def arr() = Seq.fill(8)(rnd.nextFloat())
      (arr(), arr())
    }.toDF("a", "b")
  }

  test("graft_sorted_intersect_size compiles on array<string> (the r7 regression)") {
    gate("graft_sorted_intersect_size(a, b)", strArrays)
  }

  test("graft_sorted_intersect_size compiles on array<bigint>") {
    gate("graft_sorted_intersect_size(a, b)", longArrays)
  }

  test("graft_intersect_size compiles on array<string> and array<bigint>") {
    gate("graft_intersect_size(a, b)", strArrays)
    gate("graft_intersect_size(a, b)", longArrays)
  }

  test("graft_dot compiles") { gate("graft_dot(a, b)", floatArrays) }

  test("graft_cosine compiles") { gate("graft_cosine(a, b)", floatArrays) }

  test("graft_shingles compiles") { gate("graft_shingles(a, 3)", strArrays) }

  test("graft_minhash compiles") {
    gate("concat_ws(',', graft_minhash(a, 8))", strArrays)
  }

  test("graft_simhash and graft_simhash64 compile") {
    gate("graft_simhash(a)", strArrays)
    gate("graft_simhash64(a)", strArrays)
  }

  test("graft_winnow compiles") {
    gate("concat_ws(',', graft_winnow(a, 2, 3))", strArrays)
  }

  test("graft_gram_stats compiles") {
    gate("graft_gram_stats(a, 2)", strArrays)
    gate("graft_gram_stats(a, 3)", strArrays)
  }

  test("graft_hamming_pairs generator plan runs under CODEGEN_ONLY") {
    // the generator itself is CodegenFallback by design (Generators
    // beyond explode/stack run interpreted inside GenerateExec); this
    // pins that the SURROUNDING stages still compile and the plan
    // executes when interpreted projection fallback is disabled
    import spark.implicits._
    val rows = (0L until 40L).map(id => (0, id % 3, id, id % 7))
      .toDF("blk", "block", "doc_id", "sim")
    val conf = spark.conf
    val (m0, f0) = (conf.get("spark.sql.codegen.factoryMode", "FALLBACK"),
      conf.get("spark.sql.codegen.fallback", "true"))
    try {
      conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      conf.set("spark.sql.codegen.fallback", "false")
      val n = rows.repartition(2)
        .groupBy("blk", "block")
        .agg(org.apache.spark.sql.functions.sort_array(
          org.apache.spark.sql.functions.collect_list(
            org.apache.spark.sql.functions.struct("doc_id", "sim"))).as("ps"))
        .selectExpr("graft_hamming_pairs(ps, blk, 3, 16, 4)")
        .count()
      assert(n > 0)
    } finally {
      conf.set("spark.sql.codegen.factoryMode", m0)
      conf.set("spark.sql.codegen.fallback", f0)
    }
  }

  test("graft_topk aggregate plan compiles end-to-end") {
    // TopKByScore is an imperative aggregate (no doGenCode of its own);
    // this gates the surrounding hash-aggregate stage under
    // CODEGEN_ONLY so a regression in its serializer/projection
    // interaction with compiled stages still surfaces.
    import spark.implicits._
    val df = (0 until 40).map(i => (i % 4, i.toDouble, i.toLong))
      .toDF("g", "score", "payload")
    val conf = spark.conf
    val (m0, f0) = (conf.get("spark.sql.codegen.factoryMode", "FALLBACK"),
      conf.get("spark.sql.codegen.fallback", "true"))
    try {
      conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      conf.set("spark.sql.codegen.fallback", "false")
      val rows = df.repartition(2)
        .groupBy("g").agg(org.apache.spark.sql.functions.expr(
          "graft_topk(score, payload, 3)").as("top"))
        .collect()
      assert(rows.length == 4)
    } finally {
      conf.set("spark.sql.codegen.factoryMode", m0)
      conf.set("spark.sql.codegen.fallback", f0)
    }
  }
}
