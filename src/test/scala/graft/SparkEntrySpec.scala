package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry.Query

/** Registry integrity of the driver contract: every query carries exactly
  * one oracle. No query runs here; `Verify` + tools/compare.py cover
  * execution against DuckDB.
  */
class SparkEntrySpec extends AnyFunSuite {

  test("registry holds 57 uniquely named queries") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.size == 57)
    assert(names.distinct.size == names.size)
  }

  test("queries and oracleSql views share one key set") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.keySet == SparkEntry.registry.map(_.name).toSet)
  }

  test("every oracle is non-blank SQL starting with SELECT or WITH") {
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(sql.startsWith("SELECT") || sql.startsWith("WITH"), s"$name: ${sql.take(40)}")
    }
  }

  test("a registry with a repeated name is rejected") {
    val q = Query("dup", (s, _) => s.emptyDataFrame, "SELECT 1")
    val e = intercept[IllegalArgumentException](
      Query.registry(q, Query("other", q.run, "SELECT 2"), q))
    assert(e.getMessage.contains("dup"))
  }
}
