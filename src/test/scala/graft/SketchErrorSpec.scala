package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Quantitative error gates for the five sketch queries (q44, q83b,
  * q84b, q96b, q97b). Since r10 each of them emits its exact twin plus
  * integer bound-verdict columns that the DuckDB oracle asserts ≡ 1 —
  * so the driver's hash gate enforces the bounds at sf0.01. This spec
  * keeps two protections the oracle row can't give:
  *
  *  1. the verdict columns are asserted ≡ 1 here too (at sf0.001, a
  *     second data scale), and
  *  2. the bounds are RE-DERIVED independently — estimates computed
  *     inline, exact values collected — so a bug in the queries'
  *     verdict plumbing (e.g. a slack term that accidentally always
  *     passes) cannot silently mask a real sketch-error regression.
  *
  * Bounds used (all at 3 standard errors, i.e. ~99.7% per test):
  *  - HLL++ (approx_count_distinct, rsd = 0.05 default): rel err ≤ 3·rsd.
  *  - DataSketches HLL (hll_sketch_agg, lgK): rel err ≤ 3·1.04/√2^lgK.
  *  - approx_percentile(accuracy = a): the guarantee is on RANK, not
  *    value (1/a relative rank error), so percentile checks assert the
  *    returned element's rank span covers the target rank within
  *    3·n/a + 1 ranks (+1 absorbs the continuous-index interpolation
  *    convention) — a value-space window would spuriously fail whenever
  *    consecutive order statistics are far apart.
  */
class SketchErrorSpec extends AnyFunSuite with SparkSuite {

  private val sf = sys.props.get("graft.testdata")
    .orElse(sys.env.get("GRAFT_TESTDATA"))
    .getOrElse("/root/testdata") + "/sf0.001"

  private def run(q: String): DataFrame = SparkEntry.queries(q)(spark, sf)

  test("every bound-verdict column of the five sketch queries is 1") {
    val verdictCols = Map(
      "q44_sketches" -> Seq("users_ok", "p50_ok", "p99_ok"),
      "q83b_source_overlap_hll" -> Seq("shared_ok", "union_ok"),
      "q84b_equidepth_approx" -> Seq("rank_ok"),
      "q96b_rolling_dau_hll" -> Seq("dau_ok", "wau_ok"),
      "q97b_robust_outliers_approx" -> Seq("med_ok", "mad_ok"))
    for ((q, cols) <- verdictCols) {
      val df = run(q)
      assert(df.count() > 0, s"$q returned no rows")
      for (c <- cols) {
        val bad = df.filter(col(c) =!= 1).count()
        assert(bad == 0, s"$q: $bad rows violate $c")
      }
    }
  }

  /** Rank-space percentile assertion: the returned sketch value `v` must
    * be an order statistic whose rank span [#(x < v), #(x ≤ v)] lies
    * within 3·ε·n + 1 ranks of the continuous target index p·(n−1) + 1.
    */
  private def assertRank(label: String, values: Array[Double], v: Double,
      p: Double, eps: Double): Unit = {
    val n = values.length
    val rLo = values.count(_ < v)            // ranks are 1-based
    val rHi = values.count(_ <= v)
    assert(rHi > rLo, s"$label: returned $v is not an element of the data")
    val target = p * (n - 1) + 1
    val slack = 3 * eps * n + 1
    assert(target >= rLo - slack && target <= rHi + 1 + slack,
      s"$label: v=$v rank span [${rLo + 1},$rHi] vs target $target ± $slack (n=$n)")
  }

  private def eventValuesByType(): Map[String, Array[Double]] =
    graft.operators.Synth.events(spark, sf)
      .select("event_type", "value").collect()
      .groupBy(_.getString(0))
      .map { case (t, rows) => t -> rows.map(_.getDouble(1)).sorted }

  test("q44 bound re-derived: HLL distinct-user estimate within 3·rsd of exact") {
    val rows = graft.operators.Synth.events(spark, sf)
      .groupBy("event_type")
      .agg(approx_count_distinct(col("user_id")).as("est"),
        countDistinct(col("user_id")).as("exact")).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (est, exact) = (r.getLong(1).toDouble, r.getLong(2).toDouble)
      assert(math.abs(est - exact) <= math.max(3 * 0.05 * exact, 2.0),
        s"${r.getString(0)}: approx_users=$est exact=$exact")
    }
  }

  test("q44 bound re-derived: approx percentiles honor the 3·n/accuracy rank guarantee") {
    val byType = eventValuesByType()
    val rows = graft.operators.Synth.events(spark, sf)
      .groupBy("event_type")
      .agg(percentile_approx(col("value"), lit(0.5), lit(1000)).as("p50"),
        percentile_approx(col("value"), lit(0.99), lit(1000)).as("p99"))
      .collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val t = r.getString(0)
      assertRank(s"$t p50", byType(t), r.getDouble(1), 0.5, 1.0 / 1000)
      assertRank(s"$t p99", byType(t), r.getDouble(2), 0.99, 1.0 / 1000)
    }
  }

  test("q83b: per-source and pairwise-union HLL(lgK=14) within 3·1.04/√2^14") {
    val eps = 3 * 1.04 / math.sqrt(1 << 14) // ≈ 0.0244
    val toks = "split(trim(text), '\\\\s+')"
    val ss = graft.operators.Synth.documents(spark, sf)
      .select(col("source"), explode(expr(s"graft_shingles($toks, 3)")).as("sh"))
    // per-source: estimate vs exact distinct
    val per = ss.groupBy("source").agg(
      expr("cast(hll_sketch_estimate(hll_sketch_agg(sh, 14)) as double)").as("est"),
      countDistinct(col("sh")).cast("double").as("exact")).collect()
    assert(per.nonEmpty)
    for (r <- per) {
      val (est, exact) = (r.getAs[Double]("est"), r.getAs[Double]("exact"))
      assert(math.abs(est - exact) <= math.max(eps * exact, 2.0),
        s"${r.getString(0)}: est=$est exact=$exact")
    }
    // pairwise unions (the quantity q83b's inclusion-exclusion rests on);
    // exact union sizes come from driver-side sets — the source count is
    // tiny and this is a test
    val sk = ss.groupBy("source").agg(expr("hll_sketch_agg(sh, 14)").as("sk"))
    val unions = sk.toDF("src_a", "sk_a")
      .crossJoin(sk.toDF("src_b", "sk_b"))
      .filter(col("src_a") < col("src_b"))
      .withColumn("est",
        expr("cast(hll_sketch_estimate(hll_union(sk_a, sk_b)) as double)"))
      .select("src_a", "src_b", "est")
    val bySource = ss.distinct().collect().groupBy(_.getString(0))
      .map { case (s, rows) => s -> rows.map(_.getString(1)).toSet }
    val uRows = unions.collect()
    assert(uRows.nonEmpty)
    for (r <- uRows) {
      val (a, b) = (r.getString(0), r.getString(1))
      val exactU = (bySource(a) ++ bySource(b)).size.toDouble
      val est = r.getAs[Double]("est")
      assert(math.abs(est - exactU) <= math.max(eps * exactU, 2.0),
        s"union($a,$b): est=$est exact=$exactU")
    }
  }

  test("q84b bound re-derived: approx equi-depth buckets within ±3·N/accuracy of N/4") {
    // the production bucket pass under approx boundaries: each of the 3
    // boundaries may be off by ≤ N/accuracy ranks, so each bucket count
    // may be off by ≤ 2·N/accuracy; assert at 3× per side.
    val ev = graft.operators.Synth.events(spark, sf)
    val n = ev.count().toDouble
    val slack = math.max(6 * n / 10000.0, 4.0)
    val bounds = ev.agg(
      expr("approx_percentile(value, 0.25, 10000)").as("b1"),
      expr("approx_percentile(value, 0.5, 10000)").as("b2"),
      expr("approx_percentile(value, 0.75, 10000)").as("b3"))
    val rows = ev.crossJoin(broadcast(bounds))
      .withColumn("bucket",
        when(col("value") <= col("b1"), 0)
          .when(col("value") <= col("b2"), 1)
          .when(col("value") <= col("b3"), 2)
          .otherwise(3))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .collect()
    assert(rows.length == 4, s"expected 4 buckets, got ${rows.length}")
    for (r <- rows)
      assert(math.abs(r.getLong(1) - n / 4) <= slack,
        s"bucket ${r.getInt(0)}: n=${r.getLong(1)} vs N/4=${n / 4} ± $slack")
  }

  test("q96b bound re-derived: per-day DAU HLL(lgK=12 default) within 3·1.04/√2^12") {
    val eps = 3 * 1.04 / math.sqrt(1 << 12) // ≈ 0.0488
    val rows = graft.operators.Synth.events(spark, sf)
      .select(to_date(col("ts")).as("d"), col("user_id"))
      .groupBy("d")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id")))
        .cast("double").as("est"),
        countDistinct(col("user_id")).cast("double").as("exact"))
      .collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (est, exact) = (r.getAs[Double]("est"), r.getAs[Double]("exact"))
      assert(math.abs(est - exact) <= math.max(eps * exact, 3.0),
        s"${r.get(0)}: dau est=$est exact=$exact")
    }
  }

  test("q97b bound re-derived: approx median and MAD within their rank guarantees") {
    val byType = eventValuesByType()
    val medsA = graft.operators.Synth.events(spark, sf)
      .groupBy("event_type")
      .agg(expr("approx_percentile(value, 0.5, 10000)").as("med_a"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(medsA.nonEmpty)
    for ((t, medA) <- medsA) {
      assertRank(s"$t med", byType(t), medA, 0.5, 1.0 / 10000)
      // the MAD sketch consumed |value − approx_med|, so its rank check
      // runs over THAT distribution (not the exact-median deviations)
      val devs = byType(t).map(v => math.abs(v - medA)).sorted
      val madA = graft.operators.Synth.events(spark, sf)
        .filter(col("event_type") === t)
        .select(abs(col("value") - lit(medA)).as("dev"))
        .agg(expr("approx_percentile(dev, 0.5, 10000)")).collect()(0).getDouble(0)
      assertRank(s"$t mad", devs, madA, 0.5, 1.0 / 10000)
    }
  }
}
