package graft

/** [[TimeQueries.time]]: a throwing query is a failure; a query that
  * runs gets its samples and the last rep's job/stage breakdown.
  */
class TimeQueriesSpec extends SparkSpec {

  test("a throwing query is returned as a failure") {
    val r = TimeQueries.time(spark, "/unused",
      (_, _) => throw new IllegalStateException("boom"), reps = 2)
    assert(r.left.map(_.getClass) == Left(classOf[IllegalStateException]))
  }

  test("one action: every sample, and a task total equal to the sum over its stages") {
    val r = TimeQueries.time(spark, "/unused", (s, _) =>
      s.range(0, 10000, 1, 4).selectExpr("id % 7 AS k").groupBy("k").count(),
      reps = 3)
    val t = r.fold(e => fail(e), identity)
    assert(t.samples.size == 3 && t.samples == t.samples.sorted)
    val b = t.breakdown
    assert(b.jobs.nonEmpty && b.stages.nonEmpty)
    assert(b.tasks == b.stages.map(_.tasks).sum)
    assert(b.taskMs == b.stages.map(_.taskMs).sum)
    // only the last rep: every stage belongs to a recorded job
    assert(b.stages.map(_.id).toSet.subsetOf(b.jobs.flatMap(_.stageIds).toSet))
  }
}
