package perfbench

/** Independent BM25 reference for the `serve` check: plain Scala over the
  * artifact rows collected to the driver, no Spark plan involved. Same
  * formula and constants as the engine (k1 = 1.2, b = 0.75, idf as
  * stored), the same 4-decimal HALF_UP rounding as Spark's `round`, the
  * same (score desc, doc_id asc) order.
  */
final class Scorer(
    postings: Map[String, Array[(Long, Long)]],
    docLength: Map[Long, Long],
    idf: Map[String, Double],
    avgdl: Double,
    k1: Double = 1.2,
    b: Double = 0.75) {

  /** Top-`k` (doc_id, rounded score) for already-tokenized `terms`. */
  def topK(terms: Seq[String], k: Int = 10): Seq[(Long, Double)] = {
    val acc = scala.collection.mutable.HashMap.empty[Long, Double]
    terms.distinct.foreach { w =>
      val wi = idf.getOrElse(w, 0.0)
      postings.getOrElse(w, Array.empty[(Long, Long)]).foreach { case (d, tf) =>
        val dl = docLength(d).toDouble
        val part = wi * (tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + b * dl / avgdl))
        acc(d) = acc.getOrElse(d, 0.0) + part
      }
    }
    acc.toSeq.map { case (d, s) => (d, Scorer.round4(s)) }
      .sortBy { case (d, s) => (-s, d) }
      .take(k)
  }
}

object Scorer {
  def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The engine's snippet rule (`Search.snippet`, 160 characters). */
  def snippet(text: String, maxLen: Int = 160): String =
    if (text.length > maxLen) text.substring(0, maxLen) + "..." else text
}
