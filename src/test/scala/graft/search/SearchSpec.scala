package graft.search

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.index.Indexer

class SearchSpec extends SparkSpec {

  test("BM25 point value (FIXTURES.md §D)") {
    import spark.implicits._
    // tf=2, dl=100, avgdl=100, idf=0.5 -> 0.5 * (2*2.2) / (2 + 1.2) = 0.6875
    val df = Seq((2L, 100L, 0.5)).toDF("tf", "dl", "idf")
    val got = df.select(
      BM25.score(col("tf"), col("dl"), col("idf"), lit(100.0)).as("s"))
      .as[Double].head()
    assert(math.abs(got - 0.6875) < 1e-12)
  }

  test("b=0 removes length normalization") {
    import spark.implicits._
    val df = Seq((3L, 10L, 1.0), (3L, 1000L, 1.0)).toDF("tf", "dl", "idf")
    val s = df.select(
      BM25.score(col("tf"), col("dl"), col("idf"), lit(100.0), b = 0.0).as("s"))
      .as[Double].collect()
    assert(s(0) == s(1)) // same tf, same idf -> same score regardless of dl
  }

  private lazy val corpus = {
    import spark.implicits._
    Seq(
      (1L, "merge sort merge sort merge the fast algorithm"),
      (2L, "hash join hash join hash join and merge"),
      (3L, "table scan table scan full table"),
      (4L, "btree index lookup random access")).toDF("doc_id", "text")
  }

  test("topK ranks docs with more matching terms higher") {
    import spark.implicits._
    val t = Indexer.build(corpus, stem = false)
    val top = Search.topK(Search.scoreTerms(t, Seq("merge", "sort")), 4)
      .select("doc_id").as[Long].collect()
    assert(top.head == 1L) // doc 1 has both terms, high tf
    assert(top.toSet.contains(2L)) // doc 2 matches "merge" only
    assert(!top.toSet.contains(3L) && !top.toSet.contains(4L))
    t.flatWords.unpersist(false)
  }

  test("topK breaks a 4dp tie by doc_id, not by the unrounded score") {
    import spark.implicits._
    val scored = Seq((1L, 0.12341), (2L, 0.12344)).toDF("doc_id", "score")
    assert(Search.topK(scored, 1).as[(Long, Double)].collect().toSeq ==
      Seq((1L, 0.1234)))
  }

  test("snippet truncation") {
    import spark.implicits._
    val df = Seq("short", "x" * 200).toDF("text")
    val got = df.select(Search.snippet(col("text"), 10).as("s")).as[String].collect()
    assert(got(0) == "short")
    assert(got(1) == "x" * 10 + "...")
  }

  test("topKWithSnippet returns text for each hit in one plan") {
    import spark.implicits._
    val got = Search.topKWithSnippet(corpus, "scan", k = 3, stem = false)
      .as[(Long, Double, String)].collect()
    assert(got.map(_._1).toSeq == Seq(3L))
    assert(got.head._3.startsWith("table scan"))
  }

  test("topKWithSnippet serves scores rounded to 4dp") {
    import spark.implicits._
    val scores = Search.topKWithSnippet(corpus, "merge sort join", k = 4, stem = false)
      .select("score").as[Double].collect()
    assert(scores.length == 2)
    scores.foreach(s => assert(BigDecimal(s).scale <= 4, s"$s has more than 4 decimals"))
  }

  test("phraseMatch requires adjacency, keeps stopwords, handles repeats") {
    import spark.implicits._
    val fixture = Seq(
      // two exact occurrences, the first at pos 1
      (1L, "x hash the query hash the query"),
      // all three words present but never adjacent in order — no match
      (2L, "hash a the b query hash query the"),
      // REVERSED order — no match (order matters, not just proximity)
      (3L, "query the hash"),
      // punctuation splits but does not break adjacency; case-folds
      (4L, "... Hash, THE query!")).toDF("doc_id", "text")
    val got = Search.phraseMatch(
      Indexer.positionalPostings(fixture), "hash the query")
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    assert(got === Seq((1L, 2L, 1L), (4L, 1L, 0L)))

    // a phrase with a REPEATED word must not double-count ("the x the")
    val rep = Seq(
      (10L, "a the x the b"), // match at pos 1
      (11L, "the x x the")    // no match
    ).toDF("doc_id", "text")
    val gotRep = Search.phraseMatch(
      Indexer.positionalPostings(rep), "the x the")
      .as[(Long, Long, Long)].collect().toSeq
    assert(gotRep === Seq((10L, 1L, 1L)))
  }

  test("bm25f: title weight, per-field norm, saturation applied once") {
    import spark.implicits._
    // every doc: title flen=8, body flen=2 -> len_f/avglen_f = 1, so the
    // per-field norm denominator is exactly 1 and scores are hand-computable.
    // "alpha" df=3 of N=4 -> idf = log10(4/3) = 0.1249387...
    val fixture = Seq(
      (1L, "alpha qb qc qd qe qf qg qh qj qk"), // title hit: tft = 2.0
      (2L, "qb qc qd qe qf qg qh qj alpha qk"), // body hit:  tft = 1.0
      (3L, "qb qc qd qe qf qg qh qj qk ql"),    // no hit
      (4L, "alpha qb qc qd qe qf qg qh alpha qk") // both fields: tft = 3.0
    ).toDF("doc_id", "text")
    val got = Search.bm25fSearch(fixture, Seq("alpha"))
      .as[(Long, Double)].collect().toSeq
    val idf = math.log10(4.0 / 3.0)
    def r4(x: Double) = math.round(x * 1e4) / 1e4
    assert(got === Seq(
      (4L, r4(idf * 3.0 / (1.2 + 3.0))),
      (1L, r4(idf * 2.0 / (1.2 + 2.0))),
      (2L, r4(idf * 1.0 / (1.2 + 1.0)))))
    // saturation once on the combined tf: a doc hitting both fields scores
    // LESS than the sum of the two single-field docs (the BM25F point), but
    // more than either alone
    assert(got(0)._2 < got(1)._2 + got(2)._2 && got(0)._2 > got(1)._2)
  }

  test("scoreTermsConjunctive keeps only all-terms docs, scores equal OR") {
    import spark.implicits._
    // corpus: doc 2 has merge+join; docs 1/3 miss one of the terms
    val t = graft.index.Indexer.build(corpus, stem = false)
    val and = Search.scoreTermsConjunctive(t, Seq("merge", "join"))
      .as[(Long, Double)].collect().toMap
    assert(and.keySet == Set(2L), and.toString)
    // the conjunctive score IS the disjunctive score for a matching doc
    val or = Search.scoreTerms(t, Seq("merge", "join"))
      .as[(Long, Double)].collect().toMap
    assert(and(2L) == or(2L))
    // disjunctive ranks partial matches too — AND is a strict subset
    assert(or.keySet.contains(1L) && or.keySet.contains(2L))
    // duplicate query terms don't change the required match count
    val dup = Search.scoreTermsConjunctive(t, Seq("merge", "join", "merge"))
      .as[(Long, Double)].collect().toMap
    assert(dup == and)
  }

  /** Plain-Scala BM25 over collected index rows: doc_id → score. */
  private def expectedScores(tf: Seq[(Long, String, Long)], dl: Map[Long, Long],
      idf: Map[String, Double], avgdl: Double, terms: Set[String],
      k1: Double = BM25.DefaultK1, b: Double = BM25.DefaultB): Map[Long, Double] =
    tf.filter(r => terms(r._2)).groupBy(_._1).map { case (d, rs) =>
      d -> rs.map { case (_, w, f) =>
        idf(w) * (f * (k1 + 1)) / (f + k1 * (1 - b + b * dl(d) / avgdl))
      }.sum
    }

  test("an index with a swapped IDF scores with that IDF, not stale postings") {
    import spark.implicits._
    val t = Indexer.build(corpus, stem = false)
    val idf2 = t.idfValues.select(col("word"), (col("idf") * 3.0 + 1.0).as("idf"))
    val terms = Seq("merge", "join", "table")
    val got = Search.scoreTerms(t.withIdf(idf2), terms)
      .as[(Long, Double)].collect().toMap
    val want = expectedScores(
      t.termFrequencies.as[(Long, String, Long)].collect().toSeq,
      t.docLengths.as[(Long, Long)].collect().toMap,
      idf2.as[(String, Double)].collect().toMap, t.avgdl, terms.toSet)
    assert(got.keySet == want.keySet)
    got.foreach { case (d, s) => assert(math.abs(s - want(d)) < 1e-12, s"doc $d: $s vs ${want(d)}") }
    assert(got != Search.scoreTerms(t, terms).as[(Long, Double)].collect().toMap)
    t.flatWords.unpersist(false)
  }

  test("bm25_okapi_variant serves the Okapi IDF it swaps in") {
    import spark.implicits._
    // "merge" is in 4 of 5 docs, so its raw Okapi idf is negative and floored
    val docs = Seq(
      (1L, "merge sort merge join"),
      (2L, "merge table scan table"),
      (3L, "merge hash join"),
      (4L, "scan merge btree"),
      (5L, "index lookup join table")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-okapi").toString
    docs.write.parquet(s"$dir/documents.parquet")
    val got = graft.SparkEntry.queries("bm25_okapi_variant")(spark, dir)
      .as[(Long, Double)].collect().toSeq
    val t = Indexer.build(docs, stem = false)
    val n = t.nDocs.toDouble
    val raw = t.idfValues.select("word", "doc_freq").as[(String, Long)].collect()
      .map { case (w, df) => w -> math.log((n - df + 0.5) / (df + 0.5)) }.toMap
    assert(raw("merge") < 0)
    val floor = 0.25 * raw.values.sum / raw.size
    val okapi = raw.map { case (w, v) => w -> (if (v < 0) floor else v) }
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = expectedScores(
      t.termFrequencies.as[(Long, String, Long)].collect().toSeq,
      t.docLengths.as[(Long, Long)].collect().toMap,
      okapi, t.avgdl, graft.SparkEntry.SearchTerms.toSet, k1 = 1.5)
      .toSeq.map { case (d, s) => (d, r4(s)) }
      .sortBy { case (d, s) => (-s, d) }.take(10)
    assert(got.size == 5)
    assert(got == want)
    t.flatWords.unpersist(false)
  }
}
