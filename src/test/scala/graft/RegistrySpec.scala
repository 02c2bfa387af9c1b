package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry's invariants: one declaration per query, the
  * `queries`/`oracleSql` views agree, and the suite runner's selector
  * never silently selects nothing. */
class RegistrySpec extends AnyFunSuite {

  test("212 distinct query names, each with a non-empty oracle") {
    val all = Suite.select(None)
    assert(all.size == 212)
    assert(all.map(_.name).distinct.size == 212)
    assert(all.forall(_.oracle.trim.nonEmpty),
      all.filter(_.oracle.trim.isEmpty).map(_.name))
  }

  test("the queries and oracleSql views have the same key set") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.keySet == SparkEntry.table.keySet)
  }

  test("building a table with a duplicate name fails fast") {
    val q = SparkEntry.table("q_times_avg_count")
    val e = intercept[IllegalArgumentException](
      Query.byName(Seq(q, SparkEntry.table("q_topk_agg"), q)))
    assert(e.getMessage.contains("q_times_avg_count"))
  }

  test("the selector picks named queries in name order and rejects an " +
      "unknown name or an empty list") {
    assert(Suite.select(Some(" q_topk_agg,q_times_avg_count ,"))
      .map(_.name) == Seq("q_times_avg_count", "q_topk_agg"))
    val e = intercept[IllegalArgumentException](
      Suite.select(Some("q_topk_agg,q_no_such_query")))
    assert(e.getMessage.contains("q_no_such_query"))
    assertThrows[IllegalArgumentException](Suite.select(Some(" , ")))
  }
}
