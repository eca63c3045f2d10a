package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry: `SparkEntry` folds one list of family
  * modules, so a query name defined twice would silently keep only the
  * later module's entry. */
class SparkEntrySpec extends AnyFunSuite {

  test("no query or oracle name is defined by two family modules") {
    val fams = SparkEntry.families
    assert(fams.map(_.queries.size).sum == SparkEntry.queries.size)
    assert(fams.map(_.oracleSql.size).sum == SparkEntry.oracleSql.size)
    assert(SparkEntry.queries.size == 337)
  }

  test("every oracle names a registered query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without a query: $orphans")
  }
}
