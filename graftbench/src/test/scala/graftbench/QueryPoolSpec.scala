package graftbench

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

class QueryPoolSpec extends AnyFunSuite {

  private val names = graft.SparkEntry.queries.keySet.toSeq

  test("the sample holds five light, one graph and one streaming query") {
    val s = QueryMix.sample(names)
    assert(s == QueryMix.sample(names.reverse))
    assert(s.distinct.size == s.size)
    assert(s.count(_.startsWith("graph_")) == 1)
    assert(s.count(_.startsWith("stream_")) == 1)
    assert(s.count(n => !QueryPool.isHeavy(n)) == QueryMix.LightStrata)
  }

  test("the op order is a function of the seed and cycles the sample") {
    val s = QueryMix.sample(names)
    def order(seed: Long) = QueryPool.opOrder(s, new Random(seed))
      .take(5 * s.size).toList
    assert(order(9) == order(9))
    assert(order(9) != order(10))
    order(9).grouped(s.size).foreach(c => assert(c.sorted == s.sorted))
  }

  test("one pick per cost stratum, at its middle") {
    val pool = (0 until 100).map(i => f"q$i%03d")
    val costs = pool.zipWithIndex.map { case (n, i) => n -> i.toDouble }.toMap
    assert(QueryPool.stratifiedSample(pool, costs, 10) ==
      (0 until 10).map(i => f"q${10 * i + 5}%03d"))
    // a name without a reference cost ranks at the median
    val partial = costs - "q000"
    assert(QueryPool.stratifiedSample(pool, partial, 1) == Seq("q050"))
  }
}
