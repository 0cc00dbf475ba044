package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{IntersectSize, VectorCosine, VectorDot}

/** The `spark.sql.extensions=graft.functions.GraftExtensions` that every
  * [[GraftSession]] carries, end-to-end: the native functions resolve with
  * no registration step and no suite conf, and the
  * NativeDotProduct optimizer rule rewrites the composed
  * aggregate(zip_with(...)) dot product into the codegen'd VectorDot —
  * exactly where bit-identical, and nowhere else.
  *
  * Inputs are derived from range(...)'s id so ConstantFolding can't collapse
  * the projection into a LocalRelation before the pattern is visible.
  */
class ExtensionsSpec extends AnyFunSuite with SparkSuite {

  override protected def cores = 2

  private def hasVectorDot(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.expressions
      .exists(_.exists(_.isInstanceOf[VectorDot]))

  private val composed =
    "aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
  private val composedCast = "aggregate(zip_with(a, b, " +
    "(x, y) -> cast(x as double) * cast(y as double)), 0D, (acc, x) -> acc + x)"

  /** One row (id = 1) with non-foldable array columns `a` and `b`. */
  private def vecs(aExpr: String, bExpr: String): DataFrame =
    spark.range(1, 2).selectExpr(s"$aExpr AS a", s"$bExpr AS b")

  test("injected functions resolve via SQL with no register() call") {
    val r = spark.sql(
      "SELECT graft_dot(array(1D, 2D), array(3D, 4D)) AS d").collect()(0)
    assert(r.getDouble(0) == 11.0)
  }

  test("composed double dot product is rewritten to VectorDot, same result") {
    val df = vecs("array(cast(id as double), 2D, 3D)", "array(4D, 5D, 6D)")
      .selectExpr(s"$composed AS d")
    assert(hasVectorDot(df))
    assert(df.collect()(0).getDouble(0) == 32.0) // 1*4 + 2*5 + 3*6
  }

  test("float arrays with explicit double casts are rewritten") {
    val df = vecs("array(cast(id as float), cast(2.5 as float))",
      "array(cast(2 as float), cast(4 as float))")
      .selectExpr(s"$composedCast AS d")
    assert(hasVectorDot(df))
    assert(df.collect()(0).getDouble(0) == 12.0) // 1*2 + 2.5*4
  }

  test("raw float*float multiply is NOT rewritten (different rounding)") {
    val df = vecs("array(cast(id as float), cast(2.5 as float))",
      "array(cast(2 as float), cast(4 as float))")
      .selectExpr(s"$composed AS d")
    assert(!hasVectorDot(df))
  }

  test("nullable-element arrays are NOT rewritten (null element nulls the sum)") {
    // a null element makes containsNull = true; the composed form must stay,
    // and must yield NULL — VectorDot would read the slot as 0.0
    val df = vecs("array(cast(null as double), cast(id as double))",
      "array(3D, 4D)").selectExpr(s"$composed AS d")
    assert(!hasVectorDot(df))
    assert(df.collect()(0).isNullAt(0))
  }

  test("rewritten length mismatch still yields NULL (zip_with pad parity)") {
    val df = vecs("array(cast(id as double), 2D, 3D)",
      "array(4D, cast(id as double))").selectExpr(s"$composed AS d")
    assert(hasVectorDot(df))
    assert(df.collect()(0).isNullAt(0))
  }

  private def hasVectorCosine(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.expressions
      .exists(_.exists(_.isInstanceOf[VectorCosine]))

  private val cosExpr =
    "graft_dot(a, b) / (sqrt(graft_dot(a, a)) * sqrt(graft_dot(b, b)))"

  test("canonical cosine composition fuses to VectorCosine, bit-identical") {
    // mixed-sign float vectors; the unfused reference is assembled from
    // the three separately-computed dots (not in the canonical division
    // shape, so the rule leaves them alone) with the same IEEE op order
    val df = vecs(
      "array(cast(id as float), cast(-2.5 as float), cast(0.125 as float))",
      "array(cast(3.75 as float), cast(id + 1 as float), cast(-9.5 as float))")
      .selectExpr("graft_dot(a, b) AS d", "graft_dot(a, a) AS na",
        "graft_dot(b, b) AS nb", s"$cosExpr AS c")
    assert(hasVectorCosine(df))
    val r = df.collect()(0)
    val expected = r.getDouble(0) /
      (math.sqrt(r.getDouble(1)) * math.sqrt(r.getDouble(2)))
    assert(java.lang.Double.doubleToRawLongBits(r.getDouble(3)) ==
      java.lang.Double.doubleToRawLongBits(expected),
      s"fused ${r.getDouble(3)} != composed $expected")
  }

  test("fused cosine keeps the NULL-on-length-mismatch contract") {
    val df = vecs("array(cast(id as double), 2D)",
      "array(4D, 5D, cast(id + 5 as double))")
      .selectExpr(s"$cosExpr AS c")
    assert(hasVectorCosine(df))
    assert(df.collect()(0).isNullAt(0))
  }

  private def hasIntersectSize(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.expressions
      .exists(_.exists(_.isInstanceOf[IntersectSize]))

  test("size(array_intersect) fuses to IntersectSize: dedup + null-element parity") {
    // a has a duplicate match, an unmatched element, and a null; b holds
    // a null too → array_intersect = ['x', null] → size 2. The fused
    // count must reproduce BOTH the distinct-elements-of-a semantics and
    // the null-counted-once rule.
    val df = spark.range(1, 2).selectExpr(
      "array('x', 'x', 'y', cast(null as string), 'z', concat('k', id)) AS a",
      "array('x', cast(null as string), 'q', 'z') AS b")
      .selectExpr("size(array_intersect(a, b)) AS n")
    assert(hasIntersectSize(df))
    assert(df.collect()(0).getInt(0) == 3) // x, null, z
  }

  test("fused intersect-size keeps NULL-in -> NULL-out; floats stay composed") {
    val nullIn = spark.range(1, 2).selectExpr(
      "cast(null as array<string>) AS a", "array(concat('x', id)) AS b")
      .selectExpr("size(array_intersect(a, b)) AS n")
    assert(nullIn.collect()(0).isNullAt(0))
    // double arrays: -0.0/NaN set semantics differ boxed — must NOT fuse
    val floats = spark.range(1, 2).selectExpr(
      "array(cast(id as double), 2D) AS a", "array(2D, 3D) AS b")
      .selectExpr("size(array_intersect(a, b)) AS n")
    assert(!hasIntersectSize(floats))
    assert(floats.collect()(0).getInt(0) == 1)
  }

  test("plain-SQL cosine cascades: composed dots -> VectorDot -> VectorCosine") {
    // no graft_ function in the query text at all — NativeDotProduct
    // first rewrites each fold to VectorDot, then CosineFusion collapses
    // the division shape, all inside the same user-rule fixpoint batch
    def fold(x: String, y: String) =
      s"aggregate(zip_with($x, $y, (p, q) -> p * q), 0D, (acc, v) -> acc + v)"
    val df = vecs("array(cast(id as double), 2D, 3D)", "array(4D, 5D, 6D)")
      .selectExpr(
        s"${fold("a", "b")} / (sqrt(${fold("a", "a")}) * sqrt(${fold("b", "b")})) AS c")
    assert(hasVectorCosine(df))
    val c = df.collect()(0).getDouble(0)
    val expected = 32.0 / (math.sqrt(14.0) * math.sqrt(77.0))
    assert(java.lang.Double.doubleToRawLongBits(c) ==
      java.lang.Double.doubleToRawLongBits(expected))
  }
}
