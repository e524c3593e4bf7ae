package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DsirSpec extends SparkSpec {
  import spark.implicits._

  test("hashedFeatures: unigram + adjacent-bigram counts over kept tokens") {
    val docs = Seq((1L, "alpha beta alpha")).toDF("doc_id", "text")
    val feat = Dsir.hashedFeatures(docs, buckets = 1024)
    // 3 unigram instances + 2 bigram instances = 5 total occurrences
    assert(feat.agg(sum("n")).head().getLong(0) == 5L)
    // "alpha" appears twice → some bucket carries n >= 2
    assert(feat.agg(max("n")).head().getLong(0) >= 2L)
  }

  test("hashedFeatures: stopwords are dropped and bigrams stitch KEPT tokens") {
    // "the" is a stopword: tokens = [alpha, beta] → 2 unigrams + the
    // gap-skipping bigram "alpha beta" = 3 occurrences
    val docs = Seq((1L, "alpha the beta")).toDF("doc_id", "text")
    val feat = Dsir.hashedFeatures(docs, buckets = 1024)
    assert(feat.agg(sum("n")).head().getLong(0) == 3L)
  }

  test("scoreFeatures: batching-independent against a frozen model") {
    // the stream ≡ batch property stream_dsir_score gates: scoring a
    // corpus whole equals scoring it in arbitrary batches, because a
    // doc's weight reads only its own rows + the frozen model
    val all = Seq(
      (1L, "alpha beta gamma", "tgt"),
      (2L, "alpha gamma beta alpha", "raw"),
      (3L, "omega sigma tau gamma", "raw"),
      (4L, "beta beta omega", "raw")
    ).toDF("doc_id", "text", "source")
    val tagged = Dsir.hashedFeatures(all, 256)
      .join(all.select(col("doc_id"), (col("source") === "tgt").as("tgt")),
        Seq("doc_id"))
    val model = Dsir.ratioModel(tagged, 256)
    def scores(df: org.apache.spark.sql.DataFrame) =
      Dsir.scoreFeatures(Dsir.hashedFeatures(df, 256), model)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val whole = scores(all)
    val batched = scores(all.filter(col("doc_id") <= 2)) ++
      scores(all.filter(col("doc_id") > 2))
    assert(whole == batched)
    graft.Caches.clearPersisted()
  }
}
