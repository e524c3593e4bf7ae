package graft.search

import graft.SparkSpec
import graft.index.Indexer

/** Executed-plan regression guards for the flagship search path (r2
  * VERDICT item 7): the plan properties `docs/SCALE.md` documents must
  * FAIL the build if someone reintroduces a UDF, a full sort, or loses
  * the broadcast — same style as `BucketedJoinSpec`'s zero-shuffle assert.
  */
class SearchPlanSpec extends SparkSpec {

  private def executedPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // materialize so AQE finalizes its physical plan
    df.queryExecution.executedPlan.toString
  }

  test("bm25 top-10 plans as TakeOrderedAndProject with a broadcast IDF join and no UDFs") {
    import spark.implicits._
    val corpus = (1L to 300L)
      .map(i => (i, s"merge sort table scan row filter group agg $i"))
      .toDF("doc_id", "text")
    val t = Indexer.build(corpus, stem = false)
    val top10 = Search.topK(Search.scoreTerms(t, Seq("merge", "scan", "filter")), 10)
    val plan = executedPlan(top10)

    // top-k must be a distributed TakeOrderedAndProject, never a global sort
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // the |query|-row IDF side must broadcast
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the hot path stays UDF-free (PorterStem is a codegen expression, and
    // this non-stemmed path does not even use it)
    assert(!plan.contains("ScalaUDF"), plan)
    assert(!plan.contains("BatchEvalPython"), plan)
    t.flatWords.unpersist(false)
  }

  test("snippet lookup joins the top-k by broadcast, not a shuffle of the corpus") {
    import spark.implicits._
    val corpus = (1L to 300L)
      .map(i => (i, s"merge sort table scan row filter group agg $i"))
      .toDF("doc_id", "text")
    val t = Indexer.build(corpus, stem = false)
    val withSnippets = Search.withSnippets(
      Search.topK(Search.scoreTerms(t, Seq("merge", "scan")), 10), corpus, "text")
    val plan = executedPlan(withSnippets)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("ScalaUDF"), plan)
    t.flatWords.unpersist(false)
  }
}
