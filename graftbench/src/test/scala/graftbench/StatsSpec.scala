package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("the tail rule picks the highest percentile with ten ops beyond it") {
    assert(Stats.tailPercentile(49).isEmpty)
    assert(Stats.tailPercentile(50).contains(80))
    assert(Stats.tailPercentile(99).contains(80))
    assert(Stats.tailPercentile(100).contains(90))
    assert(Stats.tailPercentile(200).contains(95))
    assert(Stats.tailPercentile(999).contains(95))
    assert(Stats.tailPercentile(1000).contains(99))
  }

  test("each percentile first has ten ops beyond it at 50/100/200/1000") {
    for ((p, n) <- Seq(80 -> 50, 90 -> 100, 95 -> 200, 99 -> 1000)) {
      assert(Stats.beyond(n, p) == 10)
      assert(Stats.beyond(n - 1, p) < 10)
    }
  }

  test("a run below its op minimum has no tail") {
    val lat = (1 to 49).map(_.toDouble)
    assert(Stats.tail(lat, 80, Stats.MinOps).isLeft)
    assert(Stats.tail(lat :+ 50.0, 80, Stats.MinOps) == Right(40.0))
    assert(Stats.tail(lat.take(20), 80, 10) == Right(16.0))
    assert(Stats.tail(lat.take(9), 80, 10).isLeft)
  }

  test("nearest-rank percentile and median") {
    val v = Seq(5.0, 1.0, 4.0, 2.0, 3.0)
    assert(Stats.percentile(v, 80) == 4.0)
    assert(Stats.percentile(v, 99) == 5.0)
    assert(Stats.percentile(v, 1) == 1.0)
    assert(Stats.median(v) == 3.0)
    assert(Stats.median(v :+ 6.0) == 3.5)
  }

  test("covered time is the union of job spans clipped to the op") {
    assert(Tracer.covered(Seq((0L, 10L), (5L, 20L), (30L, 40L)), 2, 35) ==
      18 + 5)
    assert(Tracer.covered(Nil, 0, 10) == 0)
    assert(Tracer.covered(Seq((0L, 100L), (10L, 20L)), 0, 50) == 50)
  }
}
