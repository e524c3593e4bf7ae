package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Seeded input generators. Everything the engine receives is made here
  * from a seed: the same seed gives byte-identical output on every JVM
  * (SplittableRandom is specified bit-for-bit), a different seed a
  * different corpus and query log.
  */
object Gen {

  /** Zipf(s) over ranks 0 until n, sampled by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(r => math.pow(r + 1.0, -s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    def sample(rng: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  private val Onsets = Array("b", "c", "d", "f", "g", "h", "j", "k", "l", "m",
    "n", "p", "r", "s", "t", "v", "w", "z", "br", "cl", "dr", "fl", "gr",
    "pl", "pr", "sl", "st", "tr", "th", "sh", "ch", "qu")
  private val Vowels = Array("a", "e", "i", "o", "u", "ai", "ea", "ou", "io")
  private val Codas = Array("", "", "", "n", "r", "l", "m", "s", "t", "nd",
    "rt", "st", "x", "ck")
  /** English inflections, so Porter stemming folds surface forms. */
  private val Suffixes = Array("s", "ed", "ing", "ness", "ful")
  /** Function words the tokenizer must drop (all in its stopword list). */
  val Stop: Array[String] = Array("the", "of", "and", "to", "a", "in",
    "that", "is", "was", "for", "it", "with", "as", "by", "on", "be", "at",
    "this", "not", "or", "had", "which", "his", "from", "their")

  /** `n` distinct pseudo-words of 2–3 syllables, none a stopword; a
    * word's index is its Zipf rank.
    */
  def vocabulary(seed: Long, n: Int): Array[String] = {
    val rng = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    val stop = graft.text.Stopwords.englishSet
    while (seen.size < n) {
      val syl = 2 + rng.nextInt(2)
      val sb = new StringBuilder
      (0 until syl).foreach { _ =>
        sb ++= Onsets(rng.nextInt(Onsets.length))
        sb ++= Vowels(rng.nextInt(Vowels.length))
      }
      sb ++= Codas(rng.nextInt(Codas.length))
      val w = sb.toString
      if (!stop.contains(w)) seen += w
    }
    seen.toArray
  }

  final case class Corpus(docs: IndexedSeq[(Long, String)], vocab: Array[String])

  val DefaultVocab = 22000
  val DefaultZipf = 1.17

  /** A reference-shaped corpus: `nDocs` documents whose token counts
    * follow a log-normal around `meanTokens` (the reference's mean),
    * words drawn by Zipf rank from a `vocab`-word vocabulary, about 30 %
    * of them inflected, with stopwords, sentence capitals and punctuation
    * mixed in. 600 documents index to ≈ 950k tokens, ≈ 22k terms and
    * ≈ 300k (doc, term) pairs.
    */
  def corpus(seed: Long, nDocs: Int, meanTokens: Int = 1530,
      vocab: Int = DefaultVocab): Corpus = {
    val words = vocabulary(seed, vocab)
    val zipf = new Zipf(vocab, DefaultZipf)
    val rng = new SplittableRandom(seed)
    val docs = (0 until nDocs).map { d =>
      val len = math.max(60, math.min(12000,
        (meanTokens * math.exp(0.6 * gaussian(rng) - 0.18)).toInt))
      val sb = new java.lang.StringBuilder(len * 9)
      var sentence = 0
      var kept = 0
      while (kept < len) {
        val w =
          if (rng.nextDouble() < 0.35) Stop(rng.nextInt(Stop.length))
          else {
            kept += 1
            val base = words(zipf.sample(rng))
            if (rng.nextDouble() < 0.3) base + Suffixes(rng.nextInt(Suffixes.length))
            else base
          }
        if (sb.length > 0) sb.append(' ')
        if (sentence == 0) sb.append(w.capitalize) else sb.append(w)
        sentence += 1
        if (sentence > 8 && rng.nextInt(10) == 0) { sb.append('.'); sentence = 0 }
        else if (rng.nextInt(25) == 0) sb.append(',')
      }
      sb.append('.')
      (d.toLong, sb.toString)
    }
    Corpus(docs, words)
  }

  private def gaussian(rng: SplittableRandom): Double = {
    // Box–Muller; one deviate per call keeps the stream simple
    val u1 = 1.0 - rng.nextDouble()
    val u2 = rng.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  /** The reference app's own example queries (`pyapp.py`), which miss a
    * pseudo-word vocabulary entirely: they exercise the empty-posting path.
    */
  val ReferenceQueries: Seq[String] = Seq("murder", "property rights")

  /** `n` free-text queries of 1–4 words drawn by Zipf rank from the
    * corpus vocabulary (surface forms, sometimes inflected), with 3 % of
    * them taken from [[ReferenceQueries]]. Head words have corpus-wide
    * posting lists, tail words one or two postings.
    */
  def queryLog(seed: Long, vocab: Array[String], n: Int): IndexedSeq[String] = {
    val rng = new SplittableRandom(seed * 31 + 7)
    val zipf = new Zipf(vocab.length, 0.9)
    (0 until n).map { _ =>
      if (rng.nextInt(100) < 3) ReferenceQueries(rng.nextInt(ReferenceQueries.size))
      else (0 until 1 + rng.nextInt(4)).map { _ =>
        val w = vocab(zipf.sample(rng))
        if (rng.nextInt(4) == 0) w + Suffixes(rng.nextInt(Suffixes.length)) else w
      }.mkString(" ")
    }
  }

  /** Writes the corpus as Harvard-CAP-shaped JSONL (the reference's input
    * format, `graft.sources.CorpusSource.capSchema`): each document
    * becomes a case whose text is split across 1–3 opinions. Returns the
    * case texts as the indexer will see them after `concatOpinions`
    * (opinions joined by one space) and the bytes of opinion text.
    */
  def writeCapJsonl(c: Corpus, path: Path, seed: Long): (IndexedSeq[(Long, String)], Long) = {
    val rng = new SplittableRandom(seed * 17 + 3)
    val out = Files.newBufferedWriter(path, StandardCharsets.UTF_8)
    var textBytes = 0L
    val concat = try c.docs.map { case (id, text) =>
      val parts = splitText(text, 1 + rng.nextInt(3))
      textBytes += parts.map(_.length.toLong).sum
      val ops = parts.zipWithIndex.map { case (p, i) =>
        val kind = if (i == 0) "majority" else if (i == 1) "concurrence" else "dissent"
        s"""{"author":"Judge ${(id % 97).toString}","text":${json(p)},"type":"$kind"}"""
      }.mkString("[", ",", "]")
      out.write(
        s"""{"id":$id,"name":"Case $id","name_abbreviation":"C$id",""" +
        s""""decision_date":"19${(50 + id % 50).toString}-0${(1 + id % 9).toString}-1${(id % 10).toString}",""" +
        s""""docket_number":"No. $id","first_page":"${id % 900}","last_page":"${id % 900 + 9}",""" +
        s""""court":{"id":${id % 13},"jurisdiction_url":null,"name":"Court ${id % 13}","name_abbreviation":"Ct","slug":"ct-${id % 13}"},""" +
        s""""jurisdiction":{"id":${id % 7},"name":"J${id % 7}","name_long":"Jurisdiction ${id % 7}","slug":"j${id % 7}","whitelisted":true},""" +
        s""""citations":[{"cite":"$id Ark. 1","type":"official"}],""" +
        s""""reporter":{"full_name":"Reports"},"volume":{"volume_number":"${id % 400}"},""" +
        s""""casebody":{"data":{"attorneys":["A. Counsel"],"head_matter":"Case $id","judges":["Judge"],"opinions":$ops,"parties":["P v. Q"]},"status":"ok"}}""")
      out.write('\n')
      (id, parts.mkString(" "))
    } finally out.close()
    (concat, textBytes)
  }

  /** Splits text at word boundaries into `k` non-empty pieces. */
  private def splitText(text: String, k: Int): Seq[String] = {
    val words = text.split(' ')
    if (k <= 1 || words.length < 2 * k) Seq(text)
    else {
      val step = words.length / k
      (0 until k).map { i =>
        val end = if (i == k - 1) words.length else (i + 1) * step
        words.slice(i * step, end).mkString(" ")
      }
    }
  }

  private def json(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
}
