package graft

import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {
  test("building twice in one JVM installs PresentSortRule once") {
    val a = GraftSession.build(4)
    val b = GraftSession.build(4)
    assert(a eq b, "getOrCreate should hand back the live session")
    assert(b.experimental.extraOptimizations
      .count(_ == graft.plans.PresentSortRule) == 1)
  }
}
