package graft

import org.scalatest.funsuite.AnyFunSuite

class QuerySpec extends AnyFunSuite {

  private def q(name: String) = Query(name, (s, _) => s.emptyDataFrame, None)

  test("a duplicate query name is rejected by name") {
    val ok = Seq(q("a"), q("b"))
    assert(Query.requireDistinct(ok) == ok)
    val e = intercept[IllegalArgumentException](
      Query.requireDistinct(Seq(q("a"), q("b"), q("a"), q("c"), q("b"))))
    assert(e.getMessage.endsWith("duplicate query names: a, b"))
  }

  test("SparkEntry's 448 query names are distinct and all reach the maps") {
    val names = SparkEntry.all.map(_.name)
    assert(names.size == 448)
    assert(names.distinct == names)
    assert(SparkEntry.queries.keySet == names.toSet)
  }
}
