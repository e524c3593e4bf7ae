package graft.sources

import graft.{SparkEntry, SparkSpec}
import graft.text.Tokenizer

class CorpusSourceSpec extends SparkSpec {

  private val fixture = SparkEntry.FixturePath
  private lazy val corpus = CorpusSource.readJsonl(spark, fixture)

  test("explicit schema reads all six fixture cases") {
    assert(corpus.count() == 6)
    assert(corpus.schema("casebody").dataType.typeName == "struct")
  }

  test("explodeOpinions: one row per opinion; null casebody and empty arrays drop") {
    import spark.implicits._
    val op = CorpusSource.explodeOpinions(corpus)
      .select("doc_id", "opinion_type").as[(Long, String)].collect()
    assert(op.length == 7)
    val byDoc = op.groupBy(_._1).view.mapValues(_.length).toMap
    assert(byDoc(1002L) == 3) // multi-opinion case
    assert(!byDoc.contains(1003L)) // null casebody
    assert(!byDoc.contains(1004L)) // empty opinions
  }

  test("concatOpinions: empty string for missing opinions, joined text otherwise") {
    import spark.implicits._
    val ct = CorpusSource.concatOpinions(corpus).as[(Long, String)].collect().toMap
    assert(ct(1003L) == "")
    assert(ct(1004L) == "")
    assert(ct(1002L).startsWith("The defendant was convicted"))
    assert(ct(1002L).contains("On rehearing")) // all three opinions joined
  }

  test("firstOpinionText picks the first opinion deterministically") {
    import spark.implicits._
    val ft = CorpusSource.firstOpinionText(corpus).as[(Long, String)].collect().toMap
    assert(ft(1002L).startsWith("The defendant"))
    assert(!ft.contains(1003L) && !ft.contains(1004L))
  }

  test("tokenizer golden case from the contraction fixture (doc 1005)") {
    import spark.implicits._
    val text = CorpusSource.explodeOpinions(corpus)
      .filter($"doc_id" === 1005L).select("opinion_text").as[String].head()
    // "Don't ... won't; it can't -- the STATUTE isn't ambiguous!"
    // The contraction pre-split (r16 VERDICT #9) now reproduces NLTK
    // word_tokenize + isalpha exactly: don't → "do" (stopword), won't
    // → "wo" and can't → "ca" (NLTK's own splits — neither is in the
    // 179-word stopword list, so BOTH survive in the reference
    // pipeline too), isn't → "is" (stopword)
    val toks = Tokenizer.tokenize(text, stem = false)
    assert(toks == Seq("parties", "understand", "court", "wo", "ca",
      "statute", "ambiguous"))
  }
}
