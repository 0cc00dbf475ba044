package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver registries are derived from one list of query families: a
  * name two families share would be silently dropped from both maps, and
  * a query without an oracle (or the reverse) would escape the oracle gate.
  */
class QueryRegistrySpec extends AnyFunSuite {

  test("26 families with disjoint names, each oracle keyed like its queries, 230 in all") {
    val families = SparkEntry.families
    assert(families.size == 26)
    val names = families.flatMap(_.queries.keys)
    val repeated = names.groupBy(identity).collect { case (n, ns) if ns.size > 1 => n }
    assert(repeated.isEmpty, s"names in more than one family: $repeated")
    families.foreach { f =>
      assert(f.oracle.keySet == f.queries.keySet, s"${f.getClass.getSimpleName}")
    }
    assert(SparkEntry.queries.size == 230)
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
  }
}
