package graft.index

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.storage.StorageLevel

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
    Indexer.writeArtifacts(spark, b, pinnedDir,
      opinionText = Some(corpus.select($"doc_id", $"text".as("opinion_text"))))
    (b, Indexer.loadArtifacts(spark, pinnedDir))
  }
  private lazy val pinnedDir = Files.createTempDirectory("graft-pinned").toString

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

  /** One served op as the serving mode runs it: top-10 of `t` joined by
    * broadcast to a plain read of `dir`'s text artifact, with snippets.
    */
  private def servedOp(t: IndexTables, dir: String): DataFrame =
    broadcast(Search.scoreTerms(t, Seq("merge", "scan", "table")).limit(10))
      .join(spark.read.parquet(s"$dir/opinion_text.parquet"), Seq("doc_id"))
      .withColumn("snippet", Search.snippet(col("opinion_text"), 12))
      .select("doc_id", "score", "snippet")
      .orderBy(col("score").desc, col("doc_id").asc)

  private def executed(df: DataFrame): Seq[SparkPlan] = {
    df.collect() // AQE finalizes its plan
    nodes(org.apache.spark.sql.graftshim.ColumnShim.executedPlan(df))
  }

  test("a loaded index pins its text artifact, so a plain read of it is served from memory") {
    loaded
    val plan = executed(spark.read.parquet(s"$pinnedDir/opinion_text.parquet"))
    assert(plan.exists(_.isInstanceOf[InMemoryTableScanExec]), plan.mkString("\n"))
    assert(!plan.exists(_.isInstanceOf[FileSourceScanExec]), plan.mkString("\n"))
  }

  test("a served op over a loaded index reads no Parquet and returns the built index's rows") {
    val op = servedOp(loaded, pinnedDir)
    val plan = executed(op)
    assert(!plan.exists(_.isInstanceOf[FileSourceScanExec]), plan.mkString("\n"))
    assert(op.collect().toSeq == servedOp(built, pinnedDir).collect().toSeq)
    assert(op.count() == 5)
  }

  test("clearing the caches costs a loaded index speed, not rows") {
    val before = queries.map(scores(loaded, _))
    val servedBefore = servedOp(loaded, pinnedDir).collect().toSeq
    Caches.clearPersisted()
    assert(queries.map(scores(loaded, _)) == before)
    assert(servedOp(loaded, pinnedDir).collect().toSeq == servedBefore)
  }

  test("a directory without a text artifact loads and pins only the postings") {
    import spark.implicits._
    val corpus = Seq((1L, "merge sort merge"), (2L, "hash join sort")).toDF("doc_id", "text")
    val b = Indexer.build(corpus, stem = false)
    val dir = Files.createTempDirectory("graft-notext").toString
    Indexer.writeArtifacts(spark, b, dir)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val t = Indexer.loadArtifacts(spark, dir)
    val pinned = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(pinned.size == 1, pinned)
    assert(t.postings.storageLevel != StorageLevel.NONE)
    assert(scores(t, Seq("merge", "sort")) == scores(b, Seq("merge", "sort")))
    b.flatWords.unpersist(false)
  }

  /** Corpus `i` of a reload cycle: doc 1 holds `i + 1` copies of "merge",
    * so every cycle has its own scores, and every text names its cycle.
    */
  private def cycleCorpus(i: Int): DataFrame = {
    import spark.implicits._
    Seq((1L, ("merge " * (i + 1)) + s"sort cycle$i"),
      (2L, s"hash join sort table cycle$i"),
      (3L, s"scan merge cycle$i")).toDF("doc_id", "text")
  }

  /** Writes corpus `i`'s artifacts to `dir` through `write`, reloads the
    * directory and checks that the reload serves corpus `i`: the built
    * index's scores and its texts.
    */
  private def reloadCycle(i: Int, dir: String)(write: (IndexTables, DataFrame) => Unit): Unit = {
    import spark.implicits._
    val corpus = cycleCorpus(i)
    val b = Indexer.build(corpus, stem = false)
    write(b, corpus.select($"doc_id", $"text".as("opinion_text")))
    val t = Indexer.loadArtifacts(spark, dir)
    val terms = Seq("merge", "sort")
    assert(scores(t, terms) == scores(b, terms), s"cycle $i")
    val texts = spark.read.parquet(s"$dir/opinion_text.parquet")
      .as[(Long, String)].collect().toMap
    assert(texts == corpus.as[(Long, String)].collect().toMap, s"cycle $i")
    b.flatWords.unpersist(false)
  }

  test("a reload after an in-session overwrite serves the new artifacts") {
    val dir = Files.createTempDirectory("graft-reload").toString
    (0 until 10).foreach(i => reloadCycle(i, dir) { (b, text) =>
      Indexer.writeArtifacts(spark, b, dir, opinionText = Some(text))
    })
  }

  test("a reload after the files are replaced outside Spark serves the new artifacts") {
    val dir = Files.createTempDirectory("graft-replaced")
    (0 until 3).foreach(i => reloadCycle(i, dir.toString) { (b, text) =>
      val staged = Files.createTempDirectory("graft-staged")
      Indexer.writeArtifacts(spark, b, staged.toString, opinionText = Some(text))
      deleteTree(dir)
      Files.move(staged, dir)
    })
  }

  private def deleteTree(p: Path): Unit = {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally walk.close()
  }
}
