package graftbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import scala.util.Random

/** Seeded input generator. Everything a workload feeds the program comes
  * from here, so one seed gives one input set, and [[Gen.digest]] records
  * its content hash.
  *
  * Text model. Three figures are measured on the repo's `documents` test
  * table (`documents.parquet` at scale factors 0.001, 0.01 and 0.1; 500,
  * 500 and 5000 rows):
  *  - length: 10 to 100 words, spread evenly (quartiles 32, 54 and 77
  *    words at sf0.1);
  *  - CJK share: 15% of documents are `lang = zh` (14.8%, 15.0%, 15.1%).
  *    The table's zh rows hold ASCII words; here they hold Han words of 1-3
  *    characters, so the tokenizers meet the script the label names;
  *  - near-copy share: 5.0% of documents at every scale are an earlier
  *    document with one word appended (243 of the 250 at sf0.1 verbatim).
  * The table draws from 31 equally frequent words, so its vocabulary is no
  * model for term statistics; words here follow a Zipf(1.07) law over a
  * 5000-word vocabulary: English stopwords, then pronounceable ASCII
  * words. That law, the hot-term query share and the cache-repeat share
  * are settings, not measurements. ASCII documents contain only lowercase
  * words, single spaces and sentence-final periods, so the checks can count
  * tokens with plain string code. */
final class Gen(val seed: Long) {
  import Gen._

  private val rnd = new Random(seed)
  private val sha = MessageDigest.getInstance("SHA-256")

  /** Vocabulary by Zipf rank: rank 0 is the most frequent word. As in
    * natural text, the top ranks are the English [[Stopwords]] (in seeded
    * order), which the stream's curation gate requires one of. */
  val vocab: Array[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    seen ++= rnd.shuffle(Stopwords)
    while (seen.size < VocabSize) {
      val syl = 1 + rnd.nextInt(3)
      seen += (0 until syl).map(_ => Onsets(rnd.nextInt(Onsets.length)) + Vowels(rnd.nextInt(Vowels.length))).mkString
    }
    seen.toArray
  }
  private val cjkVocab: Array[String] = Array.fill(600) {
    val n = 1 + rnd.nextInt(3)
    new String(Array.fill(n)((0x4E00 + rnd.nextInt(0x5000)).toChar))
  }
  private val cdf: Array[Double] = {
    val w = Array.tabulate(VocabSize)(r => 1.0 / math.pow(r + 1, ZipfS))
    val s = w.sum
    w.scanLeft(0.0)(_ + _ / s).tail
  }
  /** The stopword-class terms: the top Zipf ranks, each in over 80% of
    * documents. */
  val hotTerms: Array[String] = vocab.take(HotRanks)

  def zipfWord(r: Random): String = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    vocab(math.min(VocabSize - 1, if (i >= 0) i else -i - 1))
  }

  private def length(r: Random): Int = MinWords + r.nextInt(MaxWords - MinWords + 1)

  private def asciiDoc(r: Random): String = {
    val n = length(r)
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(if (r.nextInt(12) == 0) ". " else " ")
      sb.append(zipfWord(r)); i += 1
    }
    sb.append('.').toString
  }

  private def cjkDoc(r: Random): String =
    Array.fill(length(r))(cjkVocab(r.nextInt(cjkVocab.length))).mkString(" ")

  /** A near-copy of each given document (one word appended), with ids
    * from `firstId`. */
  def nearCopies(of: Seq[Doc], firstId: Long): Array[Doc] = of.zipWithIndex.map { case (d, i) =>
    val t = nearCopy(rnd, d.text); record(t); Doc(firstId + i, t, d.cjk, d.user, d.id)
  }.toArray

  private def nearCopy(r: Random, of: String): String = of + " " + zipfWord(r)

  /** `n` documents with ids from `firstId`. Near-copies copy an original
    * (never a copy) drawn from the same batch, so duplicate clusters are
    * stars. */
  def docs(n: Int, firstId: Long = 0L): Array[Doc] = {
    val out = new Array[Doc](n)
    var i = 0
    while (i < n) {
      val u = rnd.nextDouble()
      val cjk = u < CjkShare
      val text =
        if (!cjk && u < CjkShare + NearDupShare && i > 0) {
          var j = rnd.nextInt(i)
          while ((out(j).cjk || out(j).copyOf >= 0) && j > 0) j -= 1
          if (out(j).cjk || out(j).copyOf >= 0) (asciiDoc(rnd), -1L) else (nearCopy(rnd, out(j).text), out(j).id)
        } else if (cjk) (cjkDoc(rnd), -1L)
        else (asciiDoc(rnd), -1L)
      out(i) = Doc(firstId + i, text._1, cjk, rnd.nextInt(Users), text._2)
      record(text._1)
      i += 1
    }
    out
  }

  /** Query term lists: a fixed share carries one stopword-class term (top
    * [[HotRanks]] ranks, in most documents); the other terms come from
    * ranks [[MidRanks]], each in a few percent of documents, so only the
    * stopword-class queries cross the BM25 serve's MaxScore threshold. */
  def queries(n: Int): Array[Seq[String]] = Array.fill(n) {
    val mid = Iterator.continually(vocab(MidRanks.start + rnd.nextInt(MidRanks.size))).distinct.take(QueryTerms).toSeq
    val q = if (rnd.nextDouble() < HotQueryShare) hotTerms(rnd.nextInt(HotRanks)) +: mid.tail else mid
    record(q.mkString(" "))
    q
  }

  /** `n` events as (type, user, value): [[EventTypes]] equally frequent
    * types, users uniform over [[EventUsers]], values exponential with mean
    * [[EventMean]] in cents. All three are measured on the `events` test
    * table (sf0.1: 100,000 events of 5 types over 1500 users, value mean
    * 49.9 and median 34.8). */
  def events(n: Int): Array[(Int, Int, Double)] = {
    val a = Array.fill(n)((rnd.nextInt(EventTypes), rnd.nextInt(EventUsers),
      math.round(-EventMean * math.log(1 - rnd.nextDouble()) * 100) / 100.0))
    record(a.mkString(",")); a
  }

  def ints(n: Int, bound: Int): Array[Int] = {
    val a = Array.fill(n)(rnd.nextInt(bound)); record(a.mkString(",")); a
  }

  def shuffle[T](xs: Seq[T]): Seq[T] = rnd.shuffle(xs)

  /** Which of `n` slots keep their text into pass `pass` (the cache-repeat
    * share); independent of the generator's main stream. */
  def keepMask(pass: Int, n: Int): Array[Boolean] = {
    val r = new Random(seed * 1000003L + pass)
    Array.fill(n)(r.nextDouble() < CacheRepeatShare)
  }

  private def record(s: String): Unit = sha.update(s.getBytes(StandardCharsets.UTF_8))

  /** SHA-256 over every input generated so far, in generation order. */
  def digest: String = sha.clone().asInstanceOf[MessageDigest].digest().map("%02x".format(_)).mkString
}

object Gen {
  /** `copyOf` is the id of the document this one is a near-copy of, or -1. */
  final case class Doc(id: Long, text: String, cjk: Boolean, user: Int, copyOf: Long)

  /** Shares of all documents: CJK, and near-copies of an earlier one
    * (measured on `documents`); pinned by the self-test. */
  val CjkShare = 0.15
  val NearDupShare = 0.05
  /** Queries carrying a stopword-class term, and texts that repeat from
    * one corpus pass to the next (settings). */
  val HotQueryShare = 0.30
  val CacheRepeatShare = 0.50
  val MinWords = 10
  val MaxWords = 100
  val EventTypes = 5
  val EventUsers = 1500
  val EventMean = 50.0
  /** Events per document: 100,000 events beside 5000 documents at sf0.1. */
  val EventsPerDoc = 20
  val VocabSize = 5000
  val ZipfS = 1.07
  /** The program's English stopword list (`TextAnalysis.EnStopwords`). */
  val Stopwords = Seq("the", "a", "an", "and", "of", "to", "is", "in", "it", "that", "for", "on")
  val HotRanks = 4
  val MidRanks: Range = 120 until 1100
  val QueryTerms = 2
  val Users = 40
  private val Onsets = Array("b", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z", "ch", "st", "tr")
  private val Vowels = Array("a", "e", "i", "o", "u", "ai", "ou")

  /** The ASCII words of a generated document, as the plain-words
    * tokenizer should see them (lowercase, punctuation dropped). */
  def asciiWords(text: String): Array[String] = text.split("[^a-z]+").filter(_.nonEmpty)
}
