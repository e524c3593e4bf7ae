package perfbench

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  test("the same seed gives a byte-identical corpus, JSONL file and query log") {
    val a = Gen.corpus(7, nDocs = 40, meanTokens = 200)
    val b = Gen.corpus(7, nDocs = 40, meanTokens = 200)
    assert(a.docs == b.docs)
    assert(a.vocab.sameElements(b.vocab))
    assert(Gen.queryLog(7, a.vocab, 100) == Gen.queryLog(7, b.vocab, 100))
    val fa = Files.createTempFile("gen", ".jsonl")
    val fb = Files.createTempFile("gen", ".jsonl")
    try {
      val (ta, na) = Gen.writeCapJsonl(a, fa, 7)
      val (tb, nb) = Gen.writeCapJsonl(b, fb, 7)
      assert(Files.readAllBytes(fa).sameElements(Files.readAllBytes(fb)))
      assert(ta == tb && na == nb)
    } finally { Files.delete(fa); Files.delete(fb) }
  }

  test("a different seed gives a different corpus and query log") {
    val a = Gen.corpus(7, nDocs = 40, meanTokens = 200)
    val b = Gen.corpus(8, nDocs = 40, meanTokens = 200)
    assert(a.docs != b.docs)
    assert(Gen.queryLog(7, a.vocab, 100) != Gen.queryLog(8, b.vocab, 100))
  }

  test("the JSONL cases concatenate back to the generated documents") {
    val c = Gen.corpus(3, nDocs = 30, meanTokens = 300)
    val f = Files.createTempFile("gen", ".jsonl")
    try {
      val (texts, bytes) = Gen.writeCapJsonl(c, f, 3)
      assert(texts == c.docs)
      assert(Files.readAllLines(f).size == 30)
      assert(bytes > 0)
    } finally Files.delete(f)
  }

  test("documents are tokenizer-visible: stopwords dropped, inflections stemmed") {
    val c = Gen.corpus(5, nDocs = 20, meanTokens = 400)
    val raw = c.docs.flatMap(_._2.toLowerCase.split("[^a-z]+")).filter(_.nonEmpty)
    val kept = c.docs.flatMap(d => graft.text.Tokenizer.tokenize(d._2))
    assert(raw.count(Gen.Stop.contains) > raw.size / 5)
    assert(kept.size < raw.size)
    assert(kept.toSet.size < raw.filterNot(Gen.Stop.contains).toSet.size)
  }

  test("query logs mix vocabulary words with the reference's own queries") {
    val c = Gen.corpus(9, nDocs = 10, meanTokens = 100)
    val log = Gen.queryLog(9, c.vocab, 2000)
    assert(log.exists(Gen.ReferenceQueries.contains))
    assert(log.forall(q => q.split(' ').length <= 4 && graft.text.Tokenizer.tokenize(q).nonEmpty))
  }
}
