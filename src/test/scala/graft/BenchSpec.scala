package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** [[Bench.timeReps]]: a query that throws is a failure, never a time.
  * [[Bench.warmup]]: a throwing query is skipped, and every query's
  * scoped persists are released before the next one runs.
  */
class BenchSpec extends SparkSpec {

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

  test("warmup swallows a throwing query and clears after each query") {
    val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val levelsSeen = scala.collection.mutable.ArrayBuffer.empty[StorageLevel]
    def persisting(n: Int): (SparkSession, String) => DataFrame = (s, _) => {
      // what the previous query persisted is released by now
      levelsSeen ++= held.map(_.storageLevel)
      held += Caches.persist(s.range(n).toDF("id"))
      held.last
    }
    val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "a" -> persisting(3),
      "b_throws" -> ((s, d) => {
        persisting(4)(s, d)
        throw new IllegalStateException("boom")
      }),
      "c" -> persisting(5))
    Bench.warmup(spark, queries)
    assert(held.size == 3)
    assert(levelsSeen.nonEmpty && levelsSeen.forall(_ == StorageLevel.NONE))
    assert(held.forall(_.storageLevel == StorageLevel.NONE))
  }
}
