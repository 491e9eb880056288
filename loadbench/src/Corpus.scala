package loadbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import scala.collection.mutable

import graft.core._

/** Seeded corpus generator. Documents are short: a 40-token `text`
  * drawn Zipf-skewed from a fixed 5 000-word vocabulary, plus a small
  * nested `meta` object. The seed picks which words are hot and which
  * words each document draws; the vocabulary itself is fixed. */
object Corpus {
  val VocabSize = 5000
  val TokensPerDoc = 40
  val ZipfS = 1.0

  private val Syllables = Array("ka", "lo", "mi", "nu", "pe", "ri", "so", "ta",
    "vu", "ze", "bo", "du", "fi", "ga", "he", "ju", "qo", "wy", "xe", "ca")

  /** Vocabulary word `i`: base-20 syllables, unique by construction.
    * Every 97th word is longer than 12 characters, the length at which
    * the async `score` lens rejects a token. */
  val vocab: Array[String] = Array.tabulate(VocabSize) { i =>
    val sb = new StringBuilder
    var k = i
    var digits = 0
    while (digits < 2 || k > 0) { sb.append(Syllables(k % 20)); k /= 20; digits += 1 }
    if (i % 97 == 0) sb.append("extendedform")
    sb.toString
  }

  private val cdfs = new java.util.concurrent.ConcurrentHashMap[Int, Array[Double]]()

  /** Zipf rank in [0, n) with exponent [[ZipfS]]: inverse transform
    * over a cached cumulative distribution. */
  def zipfRank(rng: SplittableRandom, n: Int): Int = {
    val cdf = cdfs.computeIfAbsent(n, _ => {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, ZipfS))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    })
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    math.min(if (i >= 0) i else -i - 1, n - 1)
  }

  /** A generator bound to one seed: `rankToWord` is a seed-shuffled
    * permutation, so different seeds have different hot words. */
  final class Gen(seed: Long) {
    private val rng = new SplittableRandom(seed)
    private val rankToWord: Array[Int] = {
      val a = Array.tabulate(VocabSize)(identity)
      val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
      var i = a.length - 1
      while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
      a
    }
    def word(): String = vocab(rankToWord(zipfRank(rng, VocabSize)))
    def zipf(n: Int): Int = zipfRank(rng, n)
    def nextInt(n: Int): Int = rng.nextInt(n)
    def nextDouble(): Double = rng.nextDouble()

    /** One document. Capitals and punctuation exercise the lenses'
      * tokenizer (lower-case, split on runs outside [a-z0-9]). */
    def doc(n: Long): PoValue = {
      val sb = new StringBuilder
      var i = 0
      while (i < TokensPerDoc) {
        val w = word()
        if (i > 0) sb.append(if (rng.nextInt(8) == 0) ", " else " ")
        sb.append(if (rng.nextInt(10) == 0) w.capitalize else w)
        i += 1
      }
      sb.append('.')
      PoObj(
        "text" -> PoStr(sb.toString),
        "meta" -> PoObj(
          "group" -> PoStr("g" + rng.nextInt(16)),
          "n" -> PoInt(n),
          "tags" -> PoArr(Vector(PoStr(word()), PoStr(word())))))
    }
  }

  /** `n` documents with ids "0".."n-1" (the token lens emits
    * `Number(path.recordID)`, so ids are numeric). */
  def generate(seed: Long, n: Int): (Gen, Vector[(String, PoValue)]) = {
    val g = new Gen(seed)
    (g, Vector.tabulate(n)(i => (i.toString, g.doc(i.toLong))))
  }

  /** SHA-256 over the canonical CBOR of every (id, value), in order. */
  def digest(docs: Seq[(String, PoValue)]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    docs.foreach { case (id, v) =>
      md.update(id.getBytes(UTF_8)); md.update(0: Byte); md.update(Cbor.encode(v))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Determinism self-test: the same seed gives the same digest, and
    * a different seed a different one. */
  def selfTest(seed: Long, n: Int): Option[String] = {
    val a = digest(generate(seed, n)._2)
    val b = digest(generate(seed, n)._2)
    val c = digest(generate(seed + 1, n)._2)
    if (a != b) Some(s"corpus digest differs for seed $seed: $a vs $b")
    else if (a == c) Some(s"seeds $seed and ${seed + 1} give one digest $a")
    else None
  }

  def tokens(text: String): Array[String] =
    text.toLowerCase(java.util.Locale.ROOT).split("[^a-z0-9]+").filter(_.nonEmpty)

  def textOf(v: PoValue): Option[String] = v match {
    case PoObj(f) => f.get("text").collect { case PoStr(t) => t }
    case _ => None
  }
}

/** Plain-Scala model of the three lenses over the live documents:
  *  - `tok`: token → set of numeric doc ids containing it;
  *  - `cnt`: first character of a token → {tokens, postings};
  *  - `score`: doc id → the async lens's "n=..;sum=..;rej=.." string.
  * Updated per write, so every served value has an expected value. */
final class Model {
  val docs = mutable.HashMap[String, PoValue]()
  val postings = mutable.HashMap[String, mutable.TreeSet[Long]]()

  def put(id: String, v: PoValue): Unit = { remove(id); docs(id) = v; index(id, v, add = true) }
  def remove(id: String): Unit = docs.remove(id).foreach(index(id, _, add = false))

  private def index(id: String, v: PoValue, add: Boolean): Unit =
    Corpus.textOf(v).foreach { t =>
      Corpus.tokens(t).distinct.foreach { tok =>
        if (add) postings.getOrElseUpdate(tok, mutable.TreeSet[Long]()) += id.toLong
        else postings.get(tok).foreach { s =>
          s -= id.toLong
          if (s.isEmpty) postings.remove(tok)
        }
      }
    }

  def tokValue(tok: String): Option[Set[Long]] = postings.get(tok).map(_.toSet)

  def cntValue(bucket: String): Option[(Long, Long)] = {
    val ts = postings.iterator.filter(_._1.take(1) == bucket).toSeq
    if (ts.isEmpty) None else Some((ts.size.toLong, ts.map(_._2.size.toLong).sum))
  }

  def cntAll: Map[String, (Long, Long)] =
    postings.toSeq.groupBy(_._1.take(1)).map { case (b, ts) =>
      b -> (ts.size.toLong, ts.map(_._2.size.toLong).sum)
    }

  def scoreValue(id: String): Option[String] =
    docs.get(id).flatMap(Corpus.textOf).map(Model.score)

  def liveUserBytes: Long = docs.valuesIterator.map(v => Cbor.encode(v).length.toLong).sum
}

object Model {
  /** The `score` lens's output for one text (AsyncLensQuery.JsAsyncCode:
    * first 40 distinct tokens; lengths summed, tokens over 12 chars
    * rejected). */
  def score(text: String): String = {
    val uniq = Corpus.tokens(text).distinct.take(40)
    val (rej, ok) = uniq.partition(_.length > 12)
    s"n=${uniq.length};sum=${ok.map(_.length).sum};rej=${rej.length}"
  }

  def of(docs: Seq[(String, PoValue)]): Model = {
    val m = new Model
    docs.foreach { case (id, v) => m.put(id, v) }
    m
  }
}
