package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver contract's registry, checked without a SparkSession: a repeated
  * name would silently drop a query from the maps derived from `specs`.
  */
class QueryRegistrySpec extends AnyFunSuite {

  private val names = SparkEntry.specs.map(_.name)

  test("specs holds 136 queries with distinct names") {
    assert(names.size == 136)
    val repeated = names.diff(names.distinct)
    assert(repeated.isEmpty, s"repeated query names: $repeated")
  }

  test("every query has a non-blank oracle") {
    val blank = SparkEntry.specs.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"blank oracles: $blank")
  }

  test("queries and oracleSql cover exactly the spec names") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.keySet == names.toSet)
  }
}
