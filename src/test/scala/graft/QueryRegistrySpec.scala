package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry and its oracle map agree by name, checked
  * without running a query: a query added without an oracle, or an
  * oracle left behind by a renamed or deleted query, fails here
  * instead of after a full Verify run and `tools/oracle_check.py`. */
class QueryRegistrySpec extends AnyFunSuite {

  /** Queries checked by row count only, because no DuckDB oracle
    * expresses them. Every query carries one today. */
  private val rowsOnly = Set.empty[String]

  test("every oracle names a registered query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without a query: ${orphans.toSeq.sorted}")
  }

  test("the queries without an oracle are exactly the pinned rows-only list") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing == rowsOnly,
      s"unexpected: ${(missing -- rowsOnly).toSeq.sorted}; " +
        s"no longer rows-only: ${(rowsOnly -- missing).toSeq.sorted}")
  }
}
