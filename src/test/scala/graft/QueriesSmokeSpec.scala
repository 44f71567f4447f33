package graft

import graft.queries.Query
import org.scalatest.funsuite.AnyFunSuite

/** Guards the driver's t1 smoke + rows>0 checks: every declared query
  * runs and returns rows on sf0.001, and every query has one twin. */
class QueriesSmokeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("entry() returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql and queries have the same keys (one twin per query)") {
    val (plans, twins) = (SparkEntry.queries.keySet, SparkEntry.oracleSql.keySet)
    assert(twins -- plans == Set.empty, "oracle without query")
    assert(plans -- twins == Set.empty, "query without oracle")
  }

  test("joining the registry rejects a duplicated name") {
    def q(name: String) = Query(name, (s, _) => s.range(1).toDF(), "SELECT 1")
    assert(Query.registry(Seq(q("a")), Seq(q("b"))).keySet == Set("a", "b"))
    val across = intercept[IllegalArgumentException](
      Query.registry(Seq(q("a"), q("b")), Seq(q("b"))))
    assert(across.getMessage.contains("duplicate query names: b"))
    intercept[IllegalArgumentException](Query.registry(Seq(q("a"), q("a"))))
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name returns rows at sf0.001") {
      assert(fn(spark, SparkTestSession.sfDir).count() > 0, s"$name returned 0 rows")
    }
  }
}
