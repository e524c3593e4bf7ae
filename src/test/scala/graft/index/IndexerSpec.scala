package graft.index

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Indexer invariants from FIXTURES.md §B over a tiny literal corpus. */
class IndexerSpec extends SparkSpec {

  private lazy val corpus = {
    import spark.implicits._
    Seq(
      (1L, "the merge sort merge sort merge"),
      (2L, "hash join and the sort"),
      (3L, "scan scan scan")).toDF("doc_id", "text")
  }

  test("flat words: stopwords removed, occurrences preserved") {
    val flat = Indexer.flatWords(corpus, stem = false)
    import spark.implicits._
    val byDoc = flat.as[(Long, String)].collect().groupBy(_._1)
    assert(byDoc(1L).map(_._2).sorted.toSeq ==
      Seq("merge", "merge", "merge", "sort", "sort"))
    assert(byDoc(2L).map(_._2).sorted.toSeq == Seq("hash", "join", "sort"))
    assert(byDoc(3L).map(_._2).toSeq == Seq("scan", "scan", "scan"))
  }

  test("sum of term frequencies per doc equals doc length") {
    val flat = Indexer.flatWords(corpus, stem = false)
    val dl = Indexer.docLengths(flat)
    val tfSum = Indexer.termFrequencies(flat)
      .groupBy("doc_id").agg(sum("term_freq").as("s"))
    val joined = dl.join(tfSum, "doc_id")
      .filter(col("doc_length") =!= col("s"))
    assert(joined.count() == 0)
  }

  test("posting list size equals doc_freq") {
    val flat = Indexer.flatWords(corpus, stem = false)
    val inv = Indexer.invertedIndex(flat)
    val idf = Indexer.docFreqIdf(flat, 3)
    val joined = inv.join(idf, "word")
      .filter(size(col("doc_ids")) =!= col("doc_freq"))
    assert(joined.count() == 0)
  }

  test("idf formula and avgdl") {
    val t = Indexer.build(corpus, stem = false)
    assert(t.nDocs == 3)
    // doc lengths: 5, 3, 3 -> avgdl 11/3
    assert(math.abs(t.avgdl - 11.0 / 3) < 1e-12)
    import spark.implicits._
    val idf = t.idfValues.select("word", "doc_freq", "idf")
      .as[(String, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(idf("sort")._2 == 2)
    assert(math.abs(idf("sort")._3 - math.log10(3.0 / 2)) < 1e-12)
    assert(idf("scan")._2 == 1)
    assert(math.abs(idf("scan")._3 - math.log10(3.0)) < 1e-12)
    assert(idf.values.forall(r => r._2 >= 1 && r._2 <= 3))
    // the built index's own artifact rows
    val postings = t.invertedIndex.select("word", "doc_ids")
      .as[(String, Seq[Long])].collect().toMap
    assert(postings("sort") == Seq(1L, 2L))
    assert(t.docLengths.select("doc_length").as[Long].collect().sum == 11)
    assert(t.termFrequencies.select("term_freq").as[Long].collect().forall(_ >= 1))
  }

  test("inverted index posting lists sorted") {
    import spark.implicits._
    val inv = Indexer.invertedIndex(Indexer.flatWords(corpus, stem = false))
      .as[(String, Seq[Long])].collect().toMap
    assert(inv("sort") == Seq(1L, 2L))
    assert(inv("merge") == Seq(1L))
  }
}
