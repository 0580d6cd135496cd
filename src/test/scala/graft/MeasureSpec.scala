package graft

import org.scalatest.funsuite.AnyFunSuite

/** The shared timing method, without a Spark session. */
class MeasureSpec extends AnyFunSuite {

  test("bestOf returns the minimum of N timed calls") {
    val sleepsMs = Iterator(300L, 20L, 150L)
    var calls = 0
    val best = Measure.bestOf(3) { calls += 1; Thread.sleep(sleepsMs.next()) }
    assert(calls == 3)
    assert(best >= 0.02 && best < 0.15, s"best $best s is not the 20 ms call")
  }

  test("the battery loop times each body best-of-N; a body that throws is -1 after one call") {
    var okCalls, badCalls = 0
    val times = Measure.timeEach(Map(
      "ok" -> (() => okCalls += 1),
      "bad" -> (() => { badCalls += 1; throw new IllegalStateException("boom") })),
      runs = 3, tag = "spec")
    assert(times("bad") == -1.0 && badCalls == 1)
    assert(times("ok") >= 0.0 && okCalls == 3)
  }
}
