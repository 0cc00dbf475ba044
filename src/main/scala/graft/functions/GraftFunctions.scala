package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** graft's native Catalyst expressions and optimizer rules, installed by
  * `spark.sql.extensions=graft.functions.GraftExtensions`
  * (SparkSessionExtensions.injectFunction / injectOptimizerRule), which
  * [[graft.GraftSession]] sets on every session it builds.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.descriptors.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => NativeDotProduct)
    ext.injectOptimizerRule(_ => CosineFusion)
    ext.injectOptimizerRule(_ => IntersectSizeFusion)
  }
}

object GraftFunctions {

  /** Evaluate a parameter that MUST be an integer literal (shingle n,
    * maxDist, width, k, ...). Without the foldable/type check a
    * non-literal argument surfaces as an opaque
    * UnsupportedOperationException from inside function resolution
    * (r8 advice); this names the function and parameter instead.
    */
  private def intLit(fn: String, param: String, e: Expression): Int = {
    if (!e.foldable) throw new org.apache.spark.sql.AnalysisException(
      errorClass = "_LEGACY_ERROR_TEMP_1332",
      messageParameters = Map("errorMessage" ->
        s"$fn: parameter <$param> must be an integer literal, got ${e.sql}"))
    e.eval() match {
      case i: java.lang.Integer => i.intValue()
      case l: java.lang.Long => l.intValue()
      case s: java.lang.Short => s.intValue()
      case b: java.lang.Byte => b.intValue()
      case other => throw new org.apache.spark.sql.AnalysisException(
        errorClass = "_LEGACY_ERROR_TEMP_1332",
        messageParameters = Map("errorMessage" ->
          (s"$fn: parameter <$param> must be an integer literal, got " +
            s"${e.sql} (${if (other == null) "NULL" else e.dataType.sql})")))
    }
  }

  type Descriptor =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  val descriptors: Seq[Descriptor] = Seq(
    (FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[VectorDot].getName, "graft_dot"),
      (children: Seq[Expression]) => VectorDot(children(0), children(1))),
    (FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[VectorCosine].getName, "graft_cosine"),
      (children: Seq[Expression]) => VectorCosine(children(0), children(1))),
    (FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[TokenShingles].getName, "graft_shingles"),
      (children: Seq[Expression]) => TokenShingles(children(0),
        intLit("graft_shingles", "n", children(1)))),
    (FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinHashSlots].getName, "graft_minhash"),
      (children: Seq[Expression]) => MinHashSlots(children(0),
        intLit("graft_minhash", "k", children(1)))),
    (FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHash16].getName, "graft_simhash"),
      (children: Seq[Expression]) => SimHash16(children(0))),
    (FunctionIdentifier("graft_simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "graft_simhash64"),
      (children: Seq[Expression]) => SimHash64(children(0))),
    (FunctionIdentifier("graft_winnow"),
      new ExpressionInfo(classOf[Winnow].getName, "graft_winnow"),
      (children: Seq[Expression]) => Winnow(children(0),
        intLit("graft_winnow", "k", children(1)),
        intLit("graft_winnow", "w", children(2)))),
    (FunctionIdentifier("graft_intersect_size"),
      new ExpressionInfo(classOf[IntersectSize].getName, "graft_intersect_size"),
      (children: Seq[Expression]) => IntersectSize(children(0), children(1))),
    (FunctionIdentifier("graft_sorted_intersect_size"),
      new ExpressionInfo(classOf[SortedIntersectSize].getName,
        "graft_sorted_intersect_size"),
      (children: Seq[Expression]) =>
        SortedIntersectSize(children(0), children(1))),
    (FunctionIdentifier("graft_gram_stats"),
      new ExpressionInfo(classOf[GramStats].getName, "graft_gram_stats"),
      (children: Seq[Expression]) => GramStats(children(0),
        intLit("graft_gram_stats", "n", children(1)))),
    (FunctionIdentifier("graft_hamming_pairs"),
      new ExpressionInfo(classOf[HammingPairs].getName, "graft_hamming_pairs"),
      (children: Seq[Expression]) => HammingPairs(children(0), children(1),
        intLit("graft_hamming_pairs", "maxDist", children(2)),
        intLit("graft_hamming_pairs", "width", children(3)),
        intLit("graft_hamming_pairs", "nBlocks", children(4)))),
    (FunctionIdentifier("graft_topk"),
      new ExpressionInfo(classOf[TopKByScore].getName, "graft_topk"),
      // the analyzer wraps AggregateFunctions in AggregateExpression
      (children: Seq[Expression]) => TopKByScore(children(0), children(1),
        intLit("graft_topk", "k", children(2)))))
}
