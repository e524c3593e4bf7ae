package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Bench.timeReps]]: a query that throws is a failure, never a time. */
class BenchSpec extends AnyFunSuite {

  test("every rep that runs is timed and followed by the clean-up") {
    var afters = 0
    val r = Bench.timeReps(3, () => (), () => afters += 1)
    assert(r.map(_.size) == Right(3))
    assert(afters == 3)
  }

  test("a rep that throws ends the query as failed with its exception") {
    var runs = 0
    var afters = 0
    val r = Bench.timeReps(3, () => {
      runs += 1
      if (runs == 2) throw new IllegalStateException("boom")
    }, () => afters += 1)
    assert(r.left.map(_.getClass) == Left(classOf[IllegalStateException]))
    assert(runs == 2 && afters == 2)
  }
}
