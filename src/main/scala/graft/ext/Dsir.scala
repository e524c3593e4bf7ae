package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data Selection via Importance Resampling (Xie et al., "Data
  * Selection for Language Models via Importance Resampling", NeurIPS
  * 2023) over hashed n-gram features — the principled replacement for
  * per-source heuristics when a pipeline must pull target-domain-like
  * documents out of a raw crawl: score every candidate with the
  * log-likelihood ratio of two bag-of-hashed-n-grams models (target
  * exemplars vs the raw pool) and resample by weight.
  *
  * Everything is one n-gram pass + three hash aggregates:
  *   1. per-doc hashed (unigram ∪ bigram) bucket counts (∝ tokens),
  *   2. per-bucket target/raw totals (∝ B buckets, map-side combined),
  *   3. per-doc weight = Σ_b n_db · llr_b via a BROADCAST join of the
  *      B-row ratio table (B is fixed — 1024 here — at any corpus
  *      size, the paper's own design point: the feature space is
  *      hashed precisely so the model stays O(B) at 100 TB).
  *
  * Determinism: bucket counts are exact integers; the per-bucket
  * log-ratio is pinned to an exact integer at the 1e-8 grid via
  * floor(llr·10⁸ + 0.5) (the only float op is log10 of
  * exactly-representable integers — per-bucket O(ulp) exposure,
  * N-independent); per-doc weights are then EXACT BIGINT sums
  * (Σ n·llr8 — the r14 integer-accumulation discipline), so ranking
  * and the emitted weight = w_q/10⁸ are bit-identical on any engine.
  */
object Dsir {

  /** Per-document hashed n-gram bucket counts: (doc_id, bucket, n)
    * over unigrams ∪ space-joined bigrams of the stopword-filtered
    * lowercase token stream (the [[graft.index.Indexer.flatWords]]
    * normalization; bigrams stitch ADJACENT KEPT tokens — the
    * [[Dedup.shingleRows]] k=2 window idiom, counts not distinct).
    * Buckets come from [[Dedup.md5Hash60]] mod `buckets`, so the
    * feature hash mirrors in SQL exactly.
    */
  def hashedFeatures(docs: DataFrame, buckets: Int): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    // Plan note (r17 receipt-driven): an array-side rewrite — bigrams
    // via an indexed ArrayTransform whose lambda dereferences the
    // kept-token array per element — MEASURED 3.7× slower at 1× and
    // ~10× @10× (receipts/scale_curve.jsonl, the two r17
    // curate_dsir_weights rows at 10.67×/10.05×): higher-order
    // lambdas are interpreted per element, and the captured array
    // reference re-evaluates through the collapsed projection. The
    // lead() window below shuffles token rows once, but every
    // per-token operator stays whole-stage-codegen, and the union's
    // two branches reuse the window exchange — the cheaper plan at
    // every measured scale. The @10× receipt (~4.4×) prices the full
    // per-rep rebuild under bench isolation; in a live session the
    // build runs once behind the SparkEntry DSIR memos.
    val raw = docs
      .select(col("doc_id"),
        posexplode(split(lower(col("text")), "[^a-z]+")).as(Seq("pos", "w")))
      .filter(length(col("w")) > 0 &&
        !col("w").isin(graft.text.Stopwords.alphaOnly: _*))
    val win = Window.partitionBy("doc_id").orderBy("pos")
    val withNext = raw.withColumn("w1", lead(col("w"), 1).over(win))
    val grams = withNext.select(col("doc_id"), col("w").as("f"))
      .unionAll(withNext.filter(col("w1").isNotNull)
        .select(col("doc_id"), concat_ws(" ", col("w"), col("w1")).as("f")))
    grams
      .select(col("doc_id"),
        pmod(Dedup.md5Hash60(col("f")), lit(buckets.toLong)).as("bucket"))
      .groupBy("doc_id", "bucket").agg(count(lit(1)).as("n"))
  }

  /** The (bucket, lr8) ratio MODEL from tagged per-doc features
    * (`tagged` = [[hashedFeatures]] ⋈ a boolean `tgt` column): the
    * add-one-smoothed hashed-n-gram log₁₀-likelihood ratio
    *   llr_b = log(ct_b+1) − log(cr_b+1) + log(Nr+B) − log(Nt+B)
    * (target counts ct / raw counts cr, totals Nt / Nr), pinned to an
    * exact integer lr8 = floor(llr·10⁸ + 0.5). The sum-of-logs form
    * never materializes a count PRODUCT, so nothing overflows at any
    * corpus size (the naive (ct+1)·(Nr+B) quotient passes 2⁶³ around
    * Nr ≈ 10¹² tokens). B rows — broadcastable always.
    */
  def ratioModel(tagged: DataFrame, buckets: Int): DataFrame = {
    val bucketCounts = tagged.groupBy("bucket").agg(
      sum(when(col("tgt"), col("n")).otherwise(lit(0L))).as("ct"),
      sum(when(!col("tgt"), col("n")).otherwise(lit(0L))).as("cr"))
    val totals = broadcast(bucketCounts
      .agg(sum("ct").as("nt"), sum("cr").as("nr")))
    val b = lit(buckets.toLong)
    val llr =
      log10((col("ct") + lit(1L)).cast("double")) -
        log10((col("cr") + lit(1L)).cast("double")) +
        log10((col("nr") + b).cast("double")) -
        log10((col("nt") + b).cast("double"))
    bucketCounts.crossJoin(totals)
      .select(col("bucket"),
        floor(llr * lit(1.0e8) + lit(0.5)).cast("long").as("lr8"))
  }

  /** STATELESS scoring of per-doc features against a frozen ratio
    * model: weight = (Σ_b n_db · lr8_b) / 10⁸ — an exact BIGINT sum
    * per document, one broadcast join. Because the weight depends
    * only on the document's own rows and the frozen model, scoring is
    * batching-independent — the property the streaming face
    * (`stream_dsir_score`) turns into its stream ≡ batch gate.
    */
  def scoreFeatures(feat: DataFrame, model: DataFrame): DataFrame =
    feat.join(broadcast(model), Seq("bucket"))
      .groupBy("doc_id")
      .agg(sum(col("n") * col("lr8")).as("w_q"))
      .select(col("doc_id"),
        (col("w_q").cast("double") / lit(1.0e8)).as("weight"))
}
