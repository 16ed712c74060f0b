package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver contract's surface: the registered queries and their DuckDB
  * oracle twins. Removing or adding a query is a recorded decision, so the
  * count is pinned here and moves only together with this test.
  */
class RegistrySpec extends AnyFunSuite with CacheScoped {

  test("the registry holds 340 queries") {
    assert(SparkEntry.queries.size == 340)
  }

  test("every registered query has oracle SQL, and every oracle a query") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert(queries.diff(oracles).isEmpty, "queries without oracle SQL")
    assert(oracles.diff(queries).isEmpty, "oracle SQL without a query")
  }
}
