package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.index.{IndexTables, Indexer}
import graft.text.Tokenizer

/** Online query path — the single-plan re-expression of the reference's
  * serving pipeline (`pyapp.py:89-121`, traced in SURVEY.md §3.1):
  *
  *   query → tokenize (driver-side) → TF filtered to query terms
  *         → ⋈ IDF (broadcast) → ⋈ doc_lengths → BM25 column arithmetic
  *         → sum per doc → top-k → (optionally) ⋈ text for snippets
  *
  * The served list is written once: [[topK]] turns any scored
  * (doc_id, score) frame into the result list (4dp score, rounded score
  * descending, doc_id ascending, k rows) and [[withSnippets]] joins it
  * to the text. Every BM25 ranked list of the gate queries, the flagship
  * `SparkEntry.entry` and [[topKWithSnippet]] go through the two.
  *
  * Fixes over the reference, per SURVEY.md §3.1:
  *  - the N+1 text lookup (`pyapp.py:110-114` runs one filter+collect job
  *    per result row) becomes ONE broadcast join of the top-k rows against
  *    the corpus in the same plan;
  *  - snippet truncation is a native expression (F6), not driver string
  *    code;
  *  - top-k goes through `orderBy(desc).limit(k)` which Catalyst plans as
  *    `TakeOrderedAndProject` — a true distributed top-k, no full sort.
  *
  * Scale notes (100 TB): every scorer reads [[IndexTables.postings]]
  * (TF ⋈ broadcast(IDF) ⋈ doc_lengths, defined once in `graft.index`)
  * filtered by an IN-list on `word`. On a built index that join is
  * lazy: the filter pushes down to the TF scan and, through the join
  * key, to the IDF scan, so the IDF side is |query| rows and broadcast;
  * doc_lengths at 100 TB has one row per document and co-shuffles with
  * the filtered TF on doc_id (both sides tiny after term filtering); AQE
  * picks broadcast when the filtered TF side fits. A loaded index
  * (serving mode, [[Indexer.loadArtifacts]]) pins the joined postings
  * in memory, sorted by (word, doc_id): a query reads only the column
  * batches whose word range holds its terms, with no Parquet scan and
  * no per-query broadcast. The pin costs memory in proportion to the
  * postings (≈ 13 B per posting in Spark's columnar cache, ≈ 3.7 MB at
  * 300k postings); at 100 TB it is range-partitioned by word. The same
  * load pins the `opinion_text` artifact, held by its path: a snippet
  * join to a plain read of that path is an in-memory scan, at a cost of
  * ≈ the text bytes (≈ 11 MB at 600 documents), spilling to disk past
  * storage memory.
  */
object Search {

  /** Score all docs matching `terms`, descending. Output: (doc_id, score).
    * Deterministic: ties broken by doc_id ascending. One path for every
    * index: the query terms' rows of [[IndexTables.postings]] — a lazy
    * join on a built index, the pinned relation on a loaded one.
    */
  def scoreTerms(t: IndexTables, terms: Seq[String], k1: Double = BM25.DefaultK1,
      b: Double = BM25.DefaultB): DataFrame =
    partials(t, t.postings.filter(col("word").isin(terms: _*)), k1, b)
      .groupBy("doc_id")
      .agg(sum("partial").as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)

  /** `postings` rows of `t` with their BM25 partial score as `partial`. */
  private def partials(t: IndexTables, postings: DataFrame, k1: Double,
      b: Double): DataFrame =
    postings.withColumn("partial",
      BM25.score(col("term_freq"), col("doc_length"), col("idf"), lit(t.avgdl), k1, b))

  /** CONJUNCTIVE (boolean-AND) scoring: only documents containing
    * EVERY query term are ranked — the strict-match mode every search
    * engine serves beside the default disjunctive OR ([[scoreTerms]]).
    * One plan, ONE shuffle: the same postings rows as scoreTerms with
    * the matched-term count folded into the SAME hash aggregate
    * (postings have one row per (doc, word), so count(*) IS the
    * distinct-term count), then the |terms| filter — no second pass, no
    * semi-join round. Output: (doc_id, score) descending, ties by doc_id.
    */
  def scoreTermsConjunctive(t: IndexTables, terms: Seq[String],
      k1: Double = BM25.DefaultK1, b: Double = BM25.DefaultB): DataFrame = {
    val ts = terms.distinct
    partials(t, t.postings.filter(col("word").isin(ts: _*)), k1, b)
      .groupBy("doc_id")
      .agg(sum("partial").as("score"), count(lit(1)).as("n_terms"))
      .filter(col("n_terms") === ts.size)
      .select(col("doc_id"), col("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
  }

  /** The served result list: `scored` (doc_id, score) with the score
    * rounded to 4dp, ordered by that rounded score descending then
    * doc_id ascending, first `k` rows. Every BM25 ranked list the
    * engine serves goes through here, so a 4dp tie is broken by doc_id,
    * never by the unrounded score. Catalyst plans the order-and-limit as
    * `TakeOrderedAndProject`, a distributed top-k with no full sort.
    */
  def topK(scored: DataFrame, k: Int): DataFrame =
    scored.withColumn("score", round(col("score"), 4))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)

  /** Snippet length of every served result (`pyapp.py:116-117`). */
  val SnippetLen = 160

  /** The snippet join: the k-bounded `top` (doc_id, score) broadcast
    * against `corpus` on doc_id, with `textCol` cut by [[snippet]].
    * Output: (doc_id, score, snippet), score descending, ties by doc_id.
    */
  def withSnippets(top: DataFrame, corpus: DataFrame, textCol: String): DataFrame =
    broadcast(top)
      .join(corpus, Seq("doc_id"))
      .withColumn("snippet", snippet(col(textCol), SnippetLen))
      .select("doc_id", "score", "snippet")
      .orderBy(col("score").desc, col("doc_id").asc)

  /** Top-k with text snippet for a free-text query over an ad-hoc
    * (doc_id, text) corpus: the index is built in-plan (batch engine,
    * no serving state), then [[topK]] and [[withSnippets]] as for every
    * served query. Output: (doc_id, score, snippet), score at 4dp.
    */
  def topKWithSnippet(docs: DataFrame, query: String, k: Int = 10,
      stem: Boolean = true): DataFrame = {
    val t = Indexer.build(docs, stem)
    val terms = Tokenizer.tokenize(query, stem).distinct
    withSnippets(topK(scoreTerms(t, terms), k), docs.select("doc_id", "text"), "text")
  }

  /** Per-term score UPPER BOUNDS for MaxScore pruning: for every word,
    * the max over its postings of the BM25 partial — ub(t) ≥ any
    * contribution t can make to any document's score. ONE map-side-
    * combined hash aggregate over [[IndexTables.postings]], emitting one
    * row per vocabulary word — at 100 TB this is an INDEX-TIME artifact,
    * one small column beside `idf_values`, amortized over every query
    * (r11 VERDICT "Next round" #1). Output: (word, ub).
    */
  def termBounds(t: IndexTables, k1: Double = BM25.DefaultK1,
      b: Double = BM25.DefaultB): DataFrame =
    partials(t, t.postings, k1, b)
      .groupBy("word")
      .agg(max("partial").as("ub"))

  /** Safety slack for pruning against the 4dp-ROUNDED final ordering:
    * a doc with unrounded score < θ − slack has rounded score strictly
    * below round(θ, 4) (round moves a value by ≤ 5·10⁻⁵ and is
    * monotone), so it can never displace the ≥ k seed docs scoring
    * ≥ θ — even under the (rounded score, doc_id) tie-break.
    */
  private[search] val PruneSlack = 1e-4

  /** The MaxScore essential set (Turtle & Flood, IPM'95): terms sorted
    * ASCENDING by upper bound; the longest prefix whose cumulative
    * bound sum stays below θ − slack is non-essential — a document
    * matching ONLY those terms cannot reach the current top-k floor θ.
    * Pure driver arithmetic over |query| values (S4). Ties broken by
    * word so the split is deterministic.
    */
  private[search] def essentialTerms(ubs: Map[String, Double], theta: Double,
      slack: Double = PruneSlack): Seq[String] = {
    val asc = ubs.toSeq.sortBy { case (w, ub) => (ub, w) }
    val cum = asc.scanLeft(0.0) { case (acc, (_, ub)) => acc + ub }.tail
    asc.zip(cum).dropWhile(_._2 < theta - slack).map(_._1._1)
  }

  /** MaxScore-PRUNED BM25 top-k — bitwise-equal results to the unpruned
    * [[scoreTerms]] path (same arithmetic, same 4dp rounding, same
    * (score desc, doc_id) order), reading FEWER postings when terms are
    * selective. Three stages, all k- or |query|-bounded driver state:
    *
    *  1. bound lookup: the query terms' rows of `bounds` (from
    *     [[termBounds]] — an index-time artifact) collect to |query|
    *     doubles (S4);
    *  2. seed pass: fully score only the docs containing the single
    *     highest-bound term t*; θ = the k-th best full score among
    *     them (a LOWER bound on the true k-th score, since seeds are a
    *     subset of all matching docs — pruning with it is conservative);
    *  3. pruned pass: essential terms = [[essentialTerms]](ubs, θ); a
    *     doc matching only non-essential terms scores < θ − slack and
    *     is skipped. Candidates = docs with ≥ 1 essential-term posting
    *     (one semi-join); candidates are fully scored and the top-k
    *     taken.
    *
    * At 100 TB stage 3's candidate generation reads ONLY the essential
    * terms' posting lists — the stopword-like low-idf lists that
    * dominate posting volume are exactly the ones MaxScore drops. The
    * reference scores every posting of every query term
    * (`pyapp.py:93-107`); so does [[scoreTerms]] — this is the
    * serving-scale upgrade on the engine's own flagship.
    *
    * Falls back to the unpruned plan when fewer than k docs match t*
    * (θ would be undefined; the query is already cheap then).
    */
  def prunedTopK(t: IndexTables, bounds: DataFrame, terms: Seq[String],
      k: Int = 10, k1: Double = BM25.DefaultK1,
      b: Double = BM25.DefaultB): DataFrame = {
    val ubs = bounds.filter(col("word").isin(terms: _*))
      .select("word", "ub").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // terms with no posting (not in the index) contribute nothing
    val present = terms.filter(ubs.contains)
    if (present.isEmpty)
      return t.docLengths.select(col("doc_id"), lit(0.0).as("score")).limit(0)
    // on a built index the optimizer pushes the semi-join below the
    // postings joins, so only candidate postings meet IDF and doc_lengths
    def fullScore(candidates: DataFrame): DataFrame =
      partials(t, t.postings.filter(col("word").isin(present: _*))
          // no join hint: the candidate side shrinks with term selectivity
          // but is not bounded — AQE picks broadcast when it fits
          .join(candidates, Seq("doc_id"), "left_semi"), k1, b)
        .groupBy("doc_id")
        .agg(sum("partial").as("score"))
    val tstar = present.maxBy(w => (ubs(w), w))
    val seedTop = fullScore(
        t.termFrequencies.filter(col("word") === tstar).select("doc_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k).collect()
    if (seedTop.length < k) return topK(scoreTerms(t, present, k1, b), k)
    val theta = seedTop.map(_.getDouble(1)).min
    val essential = essentialTerms(ubs, theta)
    val candidates = t.termFrequencies
      .filter(col("word").isin(essential: _*))
      .select("doc_id").distinct()
    topK(fullScore(candidates), k)
  }

  /** F6: truncate-with-ellipsis, native expressions (`pyapp.py:116-117`). */
  def snippet(text: Column, maxLen: Int): Column =
    when(length(text) > maxLen, concat(substring(text, 1, maxLen), lit("...")))
      .otherwise(text)

  /** Exact-phrase match over positional postings
    * ([[Indexer.positionalPostings]]): phrase term i maps each of its
    * occurrences to anchor = pos − i; an anchor where ALL n distinct
    * offsets land is an exact occurrence of the phrase starting there.
    * ONE broadcast join against the n phrase terms + ONE aggregate,
    * whatever n is — no n-way posting self-join. At 100 TB the
    * broadcast join doubles as the word filter: only postings of the
    * phrase's words survive into the (doc_id, anchor) aggregate, the
    * same slice an IN-filter would read. Repeated phrase words are
    * handled by construction (a posting joins every i it matches).
    * Output: (doc_id, n_matches, first_pos), one row per matching doc.
    */
  def phraseMatch(postings: DataFrame, phrase: String): DataFrame = {
    val spark = postings.sparkSession
    import spark.implicits._
    // raw surface tokens — the positional index keeps stopwords, so the
    // phrase tokenizer must too (NOT Tokenizer.tokenize, which drops them)
    val terms = phrase.toLowerCase.split("[^a-z]+").filter(_.nonEmpty).toSeq
    require(terms.nonEmpty, s"phrase has no alphabetic tokens: '$phrase'")
    val t = terms.zipWithIndex.toDF("word", "i")
    postings.join(broadcast(t), Seq("word"))
      .select(col("doc_id"), (col("pos") - col("i")).as("anchor"), col("i"))
      .groupBy("doc_id", "anchor")
      .agg(countDistinct("i").as("k"))
      .filter(col("k") === terms.length)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_matches"),
        min("anchor").cast("long").as("first_pos"))
  }

  /** Field-weighted BM25F (simplified Robertson & Zaragoza form): the
    * multi-field extension of [[BM25]] — a hit in the "title" field
    * (the first `titleLen` positions of the token stream; the corpus
    * has no explicit fields, so position defines them) counts
    * `wTitle`/`wBody` times a body hit, each field normalized by its
    * OWN length against its own corpus average:
    *
    *   tf̃(t,d) = Σ_f w_f · tf_f / (1-b + b·len_f/avglen_f)
    *   score(d) = Σ_t idf(t) · tf̃ / (k1 + tf̃)
    *
    * Saturation (k1) is applied ONCE on the combined tf̃ — weighting
    * then saturating is what distinguishes BM25F from naively summing
    * per-field BM25 scores (which over-rewards a term appearing in
    * both fields). idf is document-level (df counts a doc once
    * whichever field matched).
    *
    * Scale: same shape as [[scoreTerms]] — the term filter lands on
    * the postings scan, per-field stats are a (doc, field) aggregate,
    * `avglen` is a 2-row broadcast, idf a ≤|terms|-row broadcast; one
    * shuffle on doc_id for the final sum. Output: top-`k`
    * (doc_id, score), 4dp, ties by doc_id.
    */
  def bm25fSearch(docs: DataFrame, terms: Seq[String], titleLen: Int = 8,
      wTitle: Double = 2.0, wBody: Double = 1.0, k1: Double = BM25.DefaultK1,
      b: Double = BM25.DefaultB, k: Int = 10): DataFrame = {
    val fielded = Indexer.positionalPostings(docs)
      .withColumn("field",
        when(col("pos") < titleLen, "title").otherwise("body"))
      .filter(!col("word").isin(graft.text.Stopwords.alphaOnly: _*))
    val fl = fielded.groupBy("doc_id", "field").agg(count(lit(1)).as("flen"))
    val avgs = fl.groupBy("field").agg(avg("flen").as("avglen"))
    val nDocs = docs.count()
    val hits = fielded.filter(col("word").isin(terms: _*))
    val idf = hits.select("doc_id", "word").distinct()
      .groupBy("word").agg(count(lit(1)).as("df"))
      .withColumn("idf", log10(lit(nDocs.toDouble) / col("df")))
    val tf = hits.groupBy("doc_id", "field", "word").agg(count(lit(1)).as("tf"))
    val wtf = tf
      .join(fl, Seq("doc_id", "field"))
      .join(broadcast(avgs), Seq("field"))
      .withColumn("w", when(col("field") === "title", lit(wTitle)).otherwise(lit(wBody)))
      .withColumn("ntf", col("w") * col("tf") /
        (lit(1 - b) + lit(b) * col("flen") / col("avglen")))
      .groupBy("doc_id", "word").agg(sum("ntf").as("tft"))
    wtf
      .join(broadcast(idf), Seq("word"))
      .withColumn("contrib", col("idf") * col("tft") / (lit(k1) + col("tft")))
      .groupBy("doc_id")
      .agg(round(sum("contrib"), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }
}
