package perfbench

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class ScorerSpec extends AnyFunSuite with BeforeAndAfterAll {

  test("BM25 by hand: idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))") {
    val s = new Scorer(
      postings = Map("x" -> Array(1L -> 2L, 2L -> 1L), "y" -> Array(2L -> 3L)),
      docLength = Map(1L -> 4L, 2L -> 8L),
      idf = Map("x" -> 0.5, "y" -> 1.0),
      avgdl = 6.0)
    def bm(idf: Double, tf: Double, dl: Double): Double =
      idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / 6.0))
    val want = Seq(2L -> Scorer.round4(bm(0.5, 1, 8) + bm(1.0, 3, 8)),
      1L -> Scorer.round4(bm(0.5, 2, 4)))
    assert(s.topK(Seq("x", "y", "x")) == want)
    assert(s.topK(Seq("unknown")) == Nil)
    assert(s.topK(Seq("x", "y"), k = 1) == want.take(1))
  }

  test("ties order by doc_id; rounding is 4dp HALF_UP; snippets cut at 160") {
    val s = new Scorer(Map("x" -> Array(9L -> 1L, 3L -> 1L)), Map(9L -> 5L, 3L -> 5L),
      Map("x" -> 1.0), 5.0)
    assert(s.topK(Seq("x")).map(_._1) == Seq(3L, 9L))
    assert(Scorer.round4(0.00005) == 0.0001)
    assert(Scorer.round4(-0.00005) == -0.0001)
    assert(Scorer.snippet("a" * 160) == "a" * 160)
    assert(Scorer.snippet("a" * 161) == "a" * 160 + "...")
  }

  test("batch fingerprints see row order and content") {
    val rows = Array(Row(1L, "a", 0.5), Row(2L, "b", 0.25))
    val fp = Batch.fingerprint(rows)
    assert(fp.startsWith("2:"))
    assert(Batch.fingerprint(rows.reverse) != fp)
    assert(Batch.fingerprint(Array(Row(1L, "a", 0.5), Row(2L, "b", 0.3))) != fp)
  }

  // ---- the engine's served results against the independent scorer ----

  private lazy val spark = graft.GraftSession.local(2)
  private lazy val scratch = Files.createTempDirectory("perfbench-spec").toFile
  private lazy val ctx = Ctx(spark, 2, 1, 1, scratch, new Tracer(false), None)
  private lazy val corpus = Gen.corpus(11, nDocs = 60, meanTokens = 150)
  private lazy val served = Serve.setup(ctx, corpus, new java.io.File(scratch, "artifacts"))

  override def afterAll(): Unit = {
    spark.stop()
    Files.walk(scratch.toPath).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.delete(p))
  }

  test("served top-10s equal the independent scorer's; a swapped result fails the check") {
    val log = Gen.queryLog(11, corpus.vocab, 25)
    val ops = log.zipWithIndex.map { case (q, i) =>
      Serve.execute(ctx, served, i, q, traced = false)
    }
    assert(ops.forall(_.ok))
    assert(ops.exists(_.rows.size == Serve.TopK))
    assert(Serve.check(ctx, served, corpus, ops).isEmpty)
    val i = ops.indexWhere(_.rows.size >= 2)
    val r = ops(i).rows
    val swapped = ops.updated(i, ops(i).copy(rows = r(1) +: r(0) +: r.drop(2)))
    assert(Serve.check(ctx, served, corpus, swapped).size == 1)
  }

  test("the served artifacts hold the index invariants") {
    val (mismatches, counts) = Serve.checkIndex(served.built, served.t, corpus.docs)
    assert(mismatches.isEmpty)
    assert(counts.find(_.name == "index.tokens").exists(_.value > 0))
  }
}
