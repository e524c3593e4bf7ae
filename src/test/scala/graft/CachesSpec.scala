package graft

import org.apache.spark.storage.StorageLevel

/** [[Caches]] releases everything it pins: `clearPersisted` frees the
  * checkpoint behind a [[Caches.pinned]] frame, and a frame whose plan
  * holds no checkpoint rdd is tracked through [[Caches.persist]] instead
  * of being skipped.
  */
class CachesSpec extends SparkSpec {

  private def persistentIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("clearPersisted releases the checkpoint behind a pinned frame") {
    val before = persistentIds
    val p = Caches.pinned(spark.range(100).toDF("id"))
    assert(p.count() == 100)
    val pinnedIds = persistentIds -- before
    assert(pinnedIds.nonEmpty)
    Caches.clearPersisted()
    assert((persistentIds intersect pinnedIds).isEmpty)
  }

  test("a frame with no checkpoint rdd is held through persist and released") {
    val f = Caches.track(spark.range(5).toDF("id"))
    assert(f.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(f.count() == 5)
    Caches.clearPersisted()
    assert(f.storageLevel == StorageLevel.NONE)
  }
}
