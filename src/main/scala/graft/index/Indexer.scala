package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.text.Tokenizer

/** Offline indexing pipeline — the Scala/Spark re-expression of
  * `searchenginespark.py:74-208` (SURVEY.md §3.2). Produces the reference's
  * seven index artifacts (SURVEY.md §1.1 / FIXTURES.md §B):
  * flat_words, inverted_index, doc_lengths, term_frequencies, idf_values,
  * scoring_params, plus the corpus text table.
  *
  * Scale design (100 TB story):
  *  - `flatWords` is a narrow map (tokenize + explode), no shuffle; it is
  *    persisted ONCE and feeds all four aggregations — the reference
  *    re-executed its Python-UDF lineage per branch (SURVEY.md §3.2).
  *  - Every aggregation is a hash aggregate with map-side partial
  *    aggregation; Spark shuffles only the partially-combined (key, count)
  *    pairs, not raw tokens. No `repartition(8, …)` — the reference's manual
  *    repartitioning (`searchenginespark.py:140,160`) is subsumed by
  *    `spark.sql.shuffle.partitions` + AQE coalescing (SURVEY.md §2.9 R1/R2).
  *  - `docFreq` uses exact `count_distinct` for BM25 parity; at 100 TB the
  *    (word, doc_id) input to it is already deduplicated via the TF table
  *    (see [[docFreqIdf]]) so the distinct expansion never sees raw tokens.
  *  - `invertedIndex` posting lists are `array_sort`-determinized
  *    (`collect_list` order is partition-dependent; SURVEY.md §2.5 G1).
  *    At extreme posting-list sizes (stopword-like terms at 100 TB) the
  *    list for one key must fit in one task — real deployments cap or
  *    bucket posting lists; the engine keeps the reference's semantics.
  */
object Indexer {

  /** Corpus → (doc_id, word) pairs; one row per token occurrence.
    * Reference: explode + UDF at `searchenginespark.py:74-101`.
    *
    * Shape note: explode-FIRST, then codegen'd row filters. Filtering
    * stopwords inside a higher-order `filter` lambda runs interpreted
    * (~µs/token — 30×+ slower than this plan); post-explode, `isin` over
    * the 153 literals becomes an InSet hash probe inside WholeStageCodegen
    * and the whole pipeline runs at scan speed. Same output either way.
    */
  def flatWords(docs: DataFrame, stem: Boolean = true): DataFrame = {
    val raw = docs
      .select(col("doc_id"), explode(split(lower(col("text")), "[^a-z]+")).as("word"))
      .filter(length(col("word")) > 0 &&
        !col("word").isin(graft.text.Stopwords.alphaOnly: _*))
    if (stem) raw.withColumn("word", graft.functions.PorterStem.stem(col("word")))
    else raw
  }

  /** (doc_id, word, pos) — POSITIONAL postings, the phrase-search index
    * (the reference's index is bag-of-words; this is the posting variant
    * phrase/adjacency queries need). Position = index in the normalized
    * token stream (`[^a-z]+` split on lowered text, empties removed)
    * with NO stopword removal and NO stemming: a phrase is an exact
    * surface-form sequence and its stopwords are load-bearing
    * ("hash THE query"). One narrow pass — posexplode over the filtered
    * token array; only (id, short word, int) rows ever shuffle.
    */
  def positionalPostings(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      posexplode(filter(split(lower(col("text")), "[^a-z]+"),
        w => length(w) > 0)).as(Seq("pos", "word")))

  /** doc_id → token count. Reference: `searchenginespark.py:125`. */
  def docLengths(flat: DataFrame): DataFrame =
    flat.groupBy("doc_id").agg(count(lit(1)).as("doc_length"))

  /** (doc_id, word) → term frequency. Reference: `searchenginespark.py:143`. */
  def termFrequencies(flat: DataFrame): DataFrame =
    flat.groupBy("doc_id", "word").agg(count(lit(1)).as("term_freq"))

  /** word → sorted posting list. Reference: `searchenginespark.py:114`.
    *
    * Content note (r2 ADVICE): the reference builds this artifact with
    * `collect_list` — duplicate doc_id per occurrence, partition-dependent
    * order. We deliberately emit `array_sort(collect_set(...))`: postings
    * are deduplicated and sorted, which is (a) deterministic run-to-run
    * and (b) the shape every consumer here wants (membership, merge-join).
    * Per-occurrence multiplicity is not lost — it lives in
    * [[termFrequencies]], which is where the reference itself reads TF
    * from (`pyapp.py:94`). So the artifact differs from the reference's
    * bytes but not from its information content.
    */
  def invertedIndex(flat: DataFrame): DataFrame =
    flat.groupBy("word")
      .agg(array_sort(collect_set("doc_id")).as("doc_ids"))

  /** word → (doc_freq, idf = log10(N / doc_freq)).
    * Reference: `searchenginespark.py:160-166`.
    * Computed from the distinct (doc_id, word) projection so the
    * count-distinct expansion aggregates pre-deduplicated pairs — at scale
    * this is the same two-shuffle shape Catalyst plans for
    * `countDistinct`, made explicit.
    */
  def docFreqIdf(flat: DataFrame, nDocs: Long): DataFrame =
    flat.select("word", "doc_id").distinct()
      .groupBy("word").agg(count(lit(1)).as("doc_freq"))
      .withColumn("idf", log10(lit(nDocs.toDouble) / col("doc_freq")))

  /** (word, doc_id, term_freq, doc_length, idf): one row per posting with
    * every input BM25 reads — TF ⋈ broadcast(IDF) ⋈ doc_lengths, the
    * serving join of `pyapp.py:93-95`, defined once for every scorer.
    * Left joins for fidelity with the reference; on a consistent index
    * they never produce nulls (every indexed word has an IDF row, every
    * doc a length row — SURVEY.md §2.4 note). Lazy: a filter on `word`
    * pushes into the TF scan and, through the join key, into the IDF
    * scan, so a query reads only its terms' rows.
    */
  def postings(tf: DataFrame, idf: DataFrame, dl: DataFrame): DataFrame =
    tf.join(broadcast(idf.select("word", "idf")), Seq("word"), "left")
      .join(dl, Seq("doc_id"), "left")
      .select("word", "doc_id", "term_freq", "doc_length", "idf")

  /** All index artifacts for a corpus, with the flat-words lineage persisted
    * once (the §3.2 fix). `docs` must have columns (doc_id, text).
    */
  def build(docs: DataFrame, stem: Boolean = true): IndexTables = {
    val flat = flatWords(docs, stem).persist(StorageLevel.MEMORY_AND_DISK)
    val dl = docLengths(flat)
    // N and Σ doc_length in ONE action (was a count + a separate sum —
    // two sequential jobs over the same aggregate)
    val nr = dl.agg(count(lit(1)), coalesce(sum("doc_length"), lit(0L))).head()
    val n = nr.getLong(0)
    val sumDl = nr.getLong(1)
    val avgdl = sumDl.toDouble / n
    val tf = termFrequencies(flat)
    val idf = docFreqIdf(flat, n)
    IndexTables(
      flatWords = flat,
      docLengths = dl,
      termFrequencies = tf,
      idfValues = idf,
      invertedIndex = invertedIndex(flat),
      postings = postings(tf, idf, dl),
      nDocs = n,
      avgdl = avgdl)
  }

  /** Build an index from an ALREADY-TOKENIZED (doc_id, word) table — the
    * pre-stemmed-fixture path (SURVEY.md §5): the stemmer runs once to
    * produce the flat table (e.g. written to Parquet), and both this
    * engine and a SQL oracle that cannot stem score from the same rows.
    */
  def buildFromFlat(flat: DataFrame): IndexTables = {
    val f = graft.Caches.persist(flat)
    val dl = docLengths(f)
    val nr = dl.agg(count(lit(1)), coalesce(sum("doc_length"), lit(0L))).head()
    val n = nr.getLong(0)
    val sumDl = nr.getLong(1)
    val tf = termFrequencies(f)
    val idf = docFreqIdf(f, n)
    IndexTables(
      flatWords = f,
      docLengths = dl,
      termFrequencies = tf,
      idfValues = idf,
      invertedIndex = invertedIndex(f),
      postings = postings(tf, idf, dl),
      nDocs = n,
      avgdl = sumDl.toDouble / n)
  }

  /** Persist every artifact as Parquet (reference artifact layout,
    * SURVEY.md §1.1; S3 sink op). scoring_params is the reference's 1-row
    * table (`scoring_params.parquet`, avgdl only). `opinionText`, when
    * given, is the reference's seventh artifact — the per-document display
    * text the serving app joins search hits against
    * (`opinion_text.parquet`, `pyapp.py:37,114`). `preprocessedDocs`, when
    * given, is the reference's FIRST persisted table (raw doc columns +
    * `words:array<string>`, `searchenginespark.py:74-77` — SURVEY §1.1
    * row 2; r3 VERDICT "What's missing" #1): nothing downstream reads it,
    * but it completes the artifact snapshot. Build one with
    * [[preprocessedDocs]].
    */
  def writeArtifacts(spark: SparkSession, t: IndexTables, outDir: String,
      opinionText: Option[DataFrame] = None,
      preprocessedDocs: Option[DataFrame] = None): Unit = {
    def w(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    import spark.implicits._
    // the eight writes are independent jobs over the persisted flat-words
    // lineage and distinct output paths — run them concurrently
    // (optimization-guide §2.6): sequential write jobs each leave the
    // cluster idle through their commit tail. Written bytes are identical
    // (same frames, same paths); only the wall clock changes.
    val writes: Seq[() => Unit] = Seq(
      () => w(t.flatWords, "flat_words"),
      () => w(t.docLengths, "doc_lengths"),
      () => w(t.termFrequencies, "term_frequencies"),
      () => w(t.idfValues, "idf_values"),
      () => w(t.invertedIndex, "inverted_index"),
      () => w(Seq(t.avgdl).toDF("avgdl"), "scoring_params")) ++
      opinionText.map(df => () => w(df, "opinion_text")).toSeq ++
      preprocessedDocs.map(df => () => w(df, "preprocessed_docs")).toSeq
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      writes.map(task => pool.submit(new java.util.concurrent.Callable[Unit] {
        override def call(): Unit = task()
      })).foreach(_.get())
    } catch {
      case e: java.util.concurrent.ExecutionException => throw e.getCause
    } finally pool.shutdown()
  }

  /** The reference's `preprocessed_docs` table: every input column plus
    * the tokenizer output as `words:array<string>`
    * (`searchenginespark.py:74-77`). Narrow map — no shuffle at any scale.
    */
  def preprocessedDocs(docs: DataFrame, stem: Boolean = true): DataFrame =
    docs.withColumn("words", Tokenizer.tokensCol(col("text"), stem))

  /** Postings per partition of a loaded index's pinned [[postings]]:
    * a query's task count grows with the partition count, not with the
    * terms it reads, so one partition holds up to ≈ 1M rows.
    */
  private val PinnedPostingsPerPartition = 1L << 20

  /** The reference's serving mode (`pyapp.py:30-37`, and `data/pyapp.py:12-18`,
    * which holds the artifacts in memory): load the prebuilt on-disk
    * artifacts — never re-index. avgdl comes from the 1-row scoring_params
    * table; nDocs is one count over the (tiny) doc_lengths artifact. The
    * idf doubles round-trip Parquet exactly, so scores from a loaded index
    * are bitwise equal to scores from the built one.
    *
    * `postings` is joined once here and pinned through [[graft.Caches]],
    * sorted by (word, doc_id) in ⌈rows / 1M⌉ range partitions: every
    * in-memory column batch then covers a narrow word range, and its
    * min/max statistics let a query's `word IN (…)` filter skip every
    * batch that holds none of its terms. A query reads its own postings
    * and no Parquet; the three artifact tables stay as loaded for every
    * other reader. Clearing the cache costs speed only: the pinned plan
    * recomputes from the artifacts.
    *
    * The `opinion_text` artifact, when the directory has one, is pinned
    * too, as the plain read `spark.read.parquet(s"$dir/opinion_text.parquet")`.
    * Spark's cache manager matches a cached Parquet read by its path, so
    * every later read of that path in the session — a served query's
    * snippet join — is an in-memory scan. The pin holds ≈ the text bytes
    * (≈ 11 MB at 600 reference-shaped documents) and spills to local disk
    * past storage memory.
    *
    * Each pin first drops any cache entry with the same plan: a reload of
    * a rewritten directory would otherwise match the previous load's pin
    * by path and keep serving it.
    */
  def loadArtifacts(spark: SparkSession, dir: String): IndexTables = {
    def r(name: String): DataFrame = spark.read.parquet(s"$dir/$name.parquet")
    def hold(df: DataFrame): DataFrame = {
      df.unpersist(false)
      val p = graft.Caches.persist(df)
      p.count()
      p
    }
    val dl = r("doc_lengths")
    val tf = r("term_frequencies")
    val idf = r("idf_values")
    val parts = math.max(1L,
      (tf.count() + PinnedPostingsPerPartition - 1) / PinnedPostingsPerPartition).toInt
    val pinned = hold(postings(tf, idf, dl)
      .repartitionByRange(parts, col("word"), col("doc_id"))
      .sortWithinPartitions("word", "doc_id"))
    val textPath = new org.apache.hadoop.fs.Path(s"$dir/opinion_text.parquet")
    if (textPath.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(textPath))
      hold(r("opinion_text"))
    IndexTables(
      flatWords = r("flat_words"),
      docLengths = dl,
      termFrequencies = tf,
      idfValues = idf,
      invertedIndex = r("inverted_index"),
      postings = pinned,
      nDocs = dl.count(),
      avgdl = r("scoring_params").head().getDouble(0))
  }
}

/** Typed rows for the index artifacts (SURVEY.md §1.1) — `Dataset[T]`
  * views where compile-time safety helps callers (builder brief).
  */
final case class Posting(word: String, doc_ids: Seq[Long])
final case class DocStat(doc_id: Long, doc_length: Long)
final case class TermFreq(doc_id: Long, word: String, term_freq: Long)
final case class IdfRow(word: String, doc_freq: Long, idf: Double)

/** The in-memory handle on a built index (SURVEY.md §1.1 artifact set).
  * `postings` is [[Indexer.postings]] over this index's own
  * `termFrequencies`, `idfValues` and `docLengths`; a `copy` that swaps
  * one of them must derive it again (see [[withIdf]]).
  */
final case class IndexTables(
    flatWords: DataFrame,
    docLengths: DataFrame,
    termFrequencies: DataFrame,
    idfValues: DataFrame,
    invertedIndex: DataFrame,
    postings: DataFrame,
    nDocs: Long,
    avgdl: Double) {
  import org.apache.spark.sql.Dataset

  /** This index scored with `idf` — (word, idf) rows — in place of its
    * own IDF table, with `postings` derived from the new table.
    */
  def withIdf(idf: DataFrame): IndexTables =
    copy(idfValues = idf, postings = Indexer.postings(termFrequencies, idf, docLengths))

  def typedDocLengths: Dataset[DocStat] = {
    val s = docLengths.sparkSession; import s.implicits._
    docLengths.as[DocStat]
  }
  def typedTermFrequencies: Dataset[TermFreq] = {
    val s = termFrequencies.sparkSession; import s.implicits._
    termFrequencies.as[TermFreq]
  }
  def typedIdfValues: Dataset[IdfRow] = {
    val s = idfValues.sparkSession; import s.implicits._
    idfValues.as[IdfRow]
  }
  def typedInvertedIndex: Dataset[Posting] = {
    val s = invertedIndex.sparkSession; import s.implicits._
    invertedIndex.as[Posting]
  }
}
