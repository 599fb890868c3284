package dwbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  test("skew ratio is worst task over median task") {
    assert(Trace.skewRatio(Seq(100L, 100L, 100L, 400L)) == 4.0)
    assert(Trace.skewRatio(Seq(100L, 200L, 300L)) == 1.5)
  }

  test("tiny or single-task stages count as balanced") {
    assert(Trace.skewRatio(Seq(900L)) == 1.0)
    assert(Trace.skewRatio(Seq(1L, 40L)) == 1.0)
  }

  test("uncovered time is the window minus the union of the intervals") {
    // [10,30) and [20,40) overlap; [50,60) is separate; [90,120) is
    // clipped to the window's end at 100
    assert(Trace.uncovered(Seq((10L, 30L), (20L, 40L), (50L, 60L), (90L, 120L)), 0L, 100L) == 50L)
    assert(Trace.uncovered(Nil, 5L, 15L) == 10L)
    assert(Trace.uncovered(Seq((0L, 200L)), 50L, 100L) == 0L)
  }
}
