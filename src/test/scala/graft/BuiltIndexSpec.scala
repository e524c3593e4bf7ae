package graft

import java.nio.file.Files

import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** [[SparkEntry.builtIndex]] is keyed by the owning session: a second
  * live session building its own index leaves the first one's in place.
  */
class BuiltIndexSpec extends AnyFunSuite with SparkSpec {

  test("a second live session's index does not evict the first session's") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-built-index").toString
    Seq((1L, "merge sort merge"), (2L, "hash join sort")).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    val s2 = spark.newSession()
    val first = SparkEntry.builtIndex(spark, dir)
    assert(first.flatWords.storageLevel != StorageLevel.NONE)
    val second = SparkEntry.builtIndex(s2, dir)
    assert(second ne first)
    assert(first.flatWords.storageLevel != StorageLevel.NONE)
    // each session is served its own entry again
    assert(SparkEntry.builtIndex(spark, dir) eq first)
    assert(SparkEntry.builtIndex(s2, dir) eq second)
    first.flatWords.unpersist(false)
  }
}
