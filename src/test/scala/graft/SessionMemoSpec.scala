package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** [[SessionMemo]] contract: keyed by (session, key) so a second LIVE
  * session gets its own entry instead of silently evicting (and leaking
  * the checkpoint blocks of) the first session's, and each session's
  * entry keeps being served to it afterward; [[SessionMemo.resetAll]]
  * releases every memo, whatever it holds; a memo value never reads a
  * query-scoped pin.
  */
class SessionMemoSpec extends AnyFunSuite with SparkSpec {

  private def writeDocs(dir: String, rows: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    rows.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  test("two live sessions on the same dir hold independent entries") {
    val builds = new AtomicInteger(0)
    val memo = new SessionMemo[String, org.apache.spark.sql.DataFrame]((s, dir) => {
      builds.incrementAndGet()
      s.range(1).select(lit(dir).as("dir"))
    })
    val s1 = spark
    val s2 = spark.newSession()
    val df1 = memo(s1, "/some/dir")
    assert(builds.get() == 1)
    val df2 = memo(s2, "/some/dir")
    assert(builds.get() == 2)
    // serving again must hit each session's OWN cached entry — with a
    // dir-only key, s2's build replaced s1's entry and this re-built
    assert(memo(s1, "/some/dir") eq df1)
    assert(memo(s2, "/some/dir") eq df2)
    assert(builds.get() == 2)
    // distinct dirs stay distinct entries within a session
    memo(s1, "/other/dir")
    assert(builds.get() == 3)
  }

  test("two live sessions each keep their own stemmed index") {
    val dir = Files.createTempDirectory("graft-stemmed-index").toString
    writeDocs(dir, Seq((1L, "sorted merges tables"), (2L, "quickly merging joins")))
    val s2 = spark.newSession()
    val first = SparkEntry.stemmedIndex(spark, dir)
    val second = SparkEntry.stemmedIndex(s2, dir)
    assert(second ne first)
    // before the session-reference key, s2's call evicted spark's entry
    assert(SparkEntry.stemmedIndex(spark, dir) eq first)
    assert(SparkEntry.stemmedIndex(s2, dir) eq second)
    SessionMemo.resetAll()
  }

  test("resetAll releases each entry by its type and rebuilds on next use") {
    val builds = new AtomicInteger(0)
    val frames = new SessionMemo[String, org.apache.spark.sql.DataFrame]((s, _) => {
      builds.incrementAndGet()
      s.range(10).toDF("id").localCheckpoint()
    })
    val ladders = new SessionMemo[String, Seq[Int]]((_, _) => {
      builds.incrementAndGet()
      Seq(1, 2)
    })
    val dir = Files.createTempDirectory("graft-memo-reset").toString
    writeDocs(dir, Seq((1L, "merge join"), (2L, "hash join")))
    val index = SparkEntry.builtIndex(spark, dir)
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val cp = frames(spark, dir)
    val cpIds = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(cpIds.nonEmpty)
    assert(ladders(spark, dir) == Seq(1, 2))
    assert(index.flatWords.storageLevel != StorageLevel.NONE)
    SessionMemo.resetAll()
    assert((spark.sparkContext.getPersistentRDDs.keySet.toSet intersect cpIds).isEmpty)
    assert(index.flatWords.storageLevel == StorageLevel.NONE)
    assert(frames(spark, dir) ne cp)
    assert(SparkEntry.builtIndex(spark, dir) ne index)
    ladders(spark, dir)
    assert(builds.get() == 4)
    SessionMemo.resetAll()
  }

  test("a table rewritten mid-session is read afresh after resetAll") {
    val dir = Files.createTempDirectory("graft-memo-stale").toString
    val bm25 = SparkEntry.queries("bm25_search")
    def hits(): Set[Long] = bm25(spark, dir).select("doc_id").collect().map(_.getLong(0)).toSet
    writeDocs(dir, Seq((1L, "merge join table"), (2L, "scan scan")))
    assert(hits() == Set(1L, 2L))
    // replaced outside Spark (as a regenerated dataset would be): a write
    // through Spark refreshes the listings of cached plans on that path,
    // which would mask a stale memoized scan
    val staged = Files.createTempDirectory("graft-memo-staged").toString
    writeDocs(staged, Seq((7L, "merge merge"), (8L, "table join"), (9L, "scan")))
    val table = Paths.get(s"$dir/documents.parquet")
    val walk = Files.walk(table)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally walk.close()
    Files.move(Paths.get(s"$staged/documents.parquet"), table)
    SessionMemo.resetAll()
    assert(hits() == Set(7L, 8L, 9L))
    SessionMemo.resetAll()
  }

  test("memo values outlive the query's pins; resetAll frees them all") {
    val dir = "/root/testdata/sf0.001"
    val memoQueries = Seq("dedup_components", "graph_louvain_full_sizes")
    def ids = spark.sparkContext.getPersistentRDDs.keySet.toSet
    def rows(q: String) =
      SparkEntry.queries(q)(spark, dir).collect().map(_.toString).sorted.toSeq
    SessionMemo.resetAll()
    Caches.clearPersisted()
    val before = ids
    val first = memoQueries.map(rows)
    Caches.clearPersisted()
    // served from the memos (CC labels, both louvain faces): a value
    // that read a query-scoped pin fails with "Checkpoint block ... not
    // found" here
    assert(memoQueries.map(rows) == first)
    Caches.clearPersisted()
    val memoIds = ids -- before
    assert(memoIds.nonEmpty)
    SessionMemo.resetAll()
    assert((ids intersect memoIds).isEmpty, s"resetAll left ${ids intersect memoIds}")
  }

  test("ShingledRows tag mismatch fails loudly (r6 ADVICE)") {
    import spark.implicits._
    val docs = Seq((1L, "merge join table scan index")).toDF("doc_id", "text")
    val pairs = Seq((1L, 1L)).toDF("doc_a", "doc_b")
    val rows = ext.Dedup.shingleRows(docs, k = 3, hashed = true)
    val tagged = ext.Dedup.ShingledRows(rows, k = 3, hashed = true)
    // matching tag: plans fine
    ext.Dedup.jaccardForPairs(docs, pairs, 3, preShingleRows = Some(tagged))
    // k mismatch and hashed mismatch both reject at plan time
    intercept[IllegalArgumentException] {
      ext.Dedup.jaccardForPairs(docs, pairs, 4, preShingleRows = Some(tagged))
    }
    intercept[IllegalArgumentException] {
      ext.Dedup.jaccardForPairs(docs, pairs, 3, hashed = false,
        preShingleRows = Some(tagged))
    }
  }
}
