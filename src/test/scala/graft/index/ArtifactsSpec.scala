package graft.index

import java.nio.file.Files

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec

import graft.{Caches, SparkSpec}
import graft.search.Search

/** S3 sink path: persist all reference-shaped index artifacts
  * (SURVEY.md §1.1) and read them back.
  */
class ArtifactsSpec extends SparkSpec {

  test("writeArtifacts round-trips all eight artifact tables") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "merge sort merge"),
      (2L, "hash join sort")).toDF("doc_id", "text")
    val t = Indexer.build(corpus, stem = false)
    val dir = Files.createTempDirectory("graft-artifacts").toString
    Indexer.writeArtifacts(spark, t, dir,
      opinionText = Some(corpus.select($"doc_id", $"text".as("opinion_text"))),
      preprocessedDocs = Some(Indexer.preprocessedDocs(corpus, stem = false)))

    def n(name: String): Long = spark.read.parquet(s"$dir/$name.parquet").count()
    assert(n("flat_words") == 6)
    assert(n("doc_lengths") == 2)
    assert(n("term_frequencies") == 5)
    assert(n("idf_values") == 4)
    assert(n("inverted_index") == 4)
    assert(n("opinion_text") == 2) // the reference's seventh artifact
    val params = spark.read.parquet(s"$dir/scoring_params.parquet")
      .as[Double].collect()
    assert(params.toSeq == Seq(3.0)) // avgdl = (3 + 3) / 2

    // the reference's FIRST persisted table (searchenginespark.py:74-77):
    // raw columns preserved + words:array<string>, schema round-trips
    val pre = spark.read.parquet(s"$dir/preprocessed_docs.parquet")
    assert(pre.columns.toSeq == Seq("doc_id", "text", "words"))
    assert(pre.schema("words").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType == org.apache.spark.sql.types.StringType)
    val words = pre.select($"doc_id", $"words").as[(Long, Seq[String])]
      .collect().toMap
    assert(words(1L) == Seq("merge", "sort", "merge"))
    assert(words(2L) == Seq("hash", "join", "sort"))
  }

  test("loadArtifacts serves an index identical to the built one") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "merge sort merge table scan"),
      (2L, "hash join sort table"),
      (3L, "scan scan merge")).toDF("doc_id", "text")
    val built = Indexer.build(corpus, stem = false)
    val dir = Files.createTempDirectory("graft-serve").toString
    Indexer.writeArtifacts(spark, built, dir)
    val loaded = Indexer.loadArtifacts(spark, dir)

    assert(loaded.nDocs == built.nDocs)
    assert(loaded.avgdl == built.avgdl) // double round-trips parquet exactly
    def score(t: IndexTables) = graft.search.Search
      .scoreTerms(t, Seq("merge", "scan"))
      .as[(Long, Double)].collect().toSeq
    assert(score(loaded) == score(built)) // bitwise-equal scores
  }

  /** A built index over a small corpus and the index loaded back from
    * its written artifacts.
    */
  private lazy val (built, loaded) = {
    import spark.implicits._
    val corpus = Seq(
      (1L, "merge sort merge table scan"),
      (2L, "hash join sort table"),
      (3L, "scan scan merge"),
      (4L, "btree index lookup merge join"),
      (5L, "table table scan filter")).toDF("doc_id", "text")
    val b = Indexer.build(corpus, stem = false)
    val dir = Files.createTempDirectory("graft-pinned").toString
    Indexer.writeArtifacts(spark, b, dir)
    (b, Indexer.loadArtifacts(spark, dir))
  }

  private val queries = Seq(
    Seq("merge", "scan", "table"), // several terms
    Seq("merge", "merge", "join"), // a repeated term
    Seq("nosuchterm", "zzz"),      // out-of-vocabulary terms only
    Seq.empty[String])             // no terms

  private def scores(t: IndexTables, terms: Seq[String]): Seq[(Long, Double)] = {
    import spark.implicits._
    Search.scoreTerms(t, terms).as[(Long, Double)].collect().toSeq
  }

  test("a loaded index scores every query like the built one") {
    queries.foreach(q => assert(scores(loaded, q) == scores(built, q), q))
    assert(scores(loaded, queries.head).size == 5)
    assert(scores(loaded, queries(2)).isEmpty && scores(loaded, queries(3)).isEmpty)
  }

  /** Every physical node of `p`, through AQE's stages; an in-memory scan
    * is a leaf (the plan that filled the cache is not part of the query).
    */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  test("a loaded index scores from its pinned postings, not the Parquet artifacts") {
    val df = Search.scoreTerms(loaded, Seq("merge", "scan"))
    df.collect() // AQE finalizes its plan
    val plan = nodes(org.apache.spark.sql.graftshim.ColumnShim.executedPlan(df))
    val scans = plan.collect { case s: InMemoryTableScanExec => s }
    assert(scans.size == 1, plan.mkString("\n"))
    // the word filter reaches the scan, where batch statistics apply it
    assert(scans.head.predicates.exists(p =>
      p.isInstanceOf[org.apache.spark.sql.catalyst.expressions.In] &&
        p.references.map(_.name).toSet == Set("word")), scans.head.predicates)
    // no per-query read or broadcast of idf_values / doc_lengths
    assert(!plan.exists(_.isInstanceOf[FileSourceScanExec]), plan.mkString("\n"))
    assert(!plan.exists(_.isInstanceOf[BroadcastExchangeExec]), plan.mkString("\n"))
  }

  test("clearing the caches costs a loaded index speed, not rows") {
    val before = queries.map(scores(loaded, _))
    Caches.clearPersisted()
    assert(queries.map(scores(loaded, _)) == before)
  }
}
