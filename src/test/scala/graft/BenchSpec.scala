package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Bench.timeQuery`: the per-query timing of the registry bench. */
class BenchSpec extends AnyFunSuite {

  test("timeQuery: a throwing body yields a failure, not a time") {
    var calls = 0
    val failed = Bench.timeQuery(3) {
      calls += 1
      throw new IllegalStateException("query failed")
    }
    assert(failed.left.map(_.getClass) == Left(classOf[IllegalStateException]))
    // the first failure ends the timing: no run after it is spent
    assert(calls == 1)
    // a succeeding body yields the median of its runs
    var n = 0
    val timed = Bench.timeQuery(3) { n += 1; Thread.sleep(if (n == 2) 300L else 1L) }
    assert(n == 3)
    assert(timed.exists(t => t > 0.0 && t < 0.3), timed.toString)
  }
}
