package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry, checked without running a query: each query is
  * one [[QueryDef]], so a repeated name, a blank oracle, or an oracle
  * view that disagrees with the query view by name fails here instead
  * of after a full Verify run and `tools/oracle_check.py`. */
class QueryRegistrySpec extends AnyFunSuite {

  private def stub(name: String) =
    QueryDef(name, (s, _) => s.emptyDataFrame, "SELECT 1")

  test("a registry with a repeated name is rejected and names every repeat") {
    val e = intercept[IllegalArgumentException](SparkEntry.registry(Seq(
      stub("q1_a"), stub("q2_b"), stub("q1_a"), stub("q3_c"), stub("q3_c"))))
    assert(e.getMessage.contains("q1_a, q3_c"), e.getMessage)
    assert(!e.getMessage.contains("q2_b"), e.getMessage)
    val ok = Seq(stub("q1_a"), stub("q2_b"))
    assert(SparkEntry.registry(ok) == ok)
  }

  test("every oracle names a registered query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without a query: ${orphans.toSeq.sorted}")
  }

  /** Queries checked by row count only, because no DuckDB oracle
    * expresses them. Every query carries one today; a blank oracle
    * counts as none. */
  private val rowsOnly = Set.empty[String]

  test("the queries without an oracle are exactly the pinned rows-only list") {
    val withOracle = SparkEntry.oracleSql.collect { case (n, sql) if !sql.isBlank => n }.toSet
    val missing = SparkEntry.queries.keySet -- withOracle
    assert(missing == rowsOnly,
      s"unexpected: ${(missing -- rowsOnly).toSeq.sorted}; " +
        s"no longer rows-only: ${(rowsOnly -- missing).toSeq.sorted}")
  }
}
