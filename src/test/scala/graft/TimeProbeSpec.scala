package graft

import org.scalatest.funsuite.AnyFunSuite

class TimeProbeSpec extends AnyFunSuite {

  private val s = 1000000000L // one second in nanoseconds

  test("job time is the union of job intervals, so overlapping jobs never make the gap negative") {
    // two jobs overlap for 1 s, a third is disjoint: Σ durations = 5 s,
    // union = 4 s — on a 4.5 s wall the old `wall − Σ` read −0.5 s
    val jobs = Seq((0L, 2 * s), (1 * s, 3 * s), (3 * s + s / 2, 4 * s + s / 2))
    assert(Dev.unionSec(jobs) == 4.0)
    assert(Dev.unionSec(jobs.reverse) == 4.0, "order must not matter")
    // a job nested inside another adds nothing; touching intervals add up
    assert(Dev.unionSec(Seq((0L, 4 * s), (1 * s, 2 * s))) == 4.0)
    assert(Dev.unionSec(Seq((0L, 1 * s), (1 * s, 2 * s))) == 2.0)
    assert(Dev.unionSec(Nil) == 0.0)
  }
}
