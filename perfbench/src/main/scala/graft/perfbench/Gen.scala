package graft.perfbench

import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer

/** Seeded input generator. Everything the program under test receives is
  * produced here from `(seed, sizes)`; the same seed gives byte-identical
  * inputs. Besides the inputs it returns the planted ground truth the
  * output checks and quality metrics are scored against.
  */
object Gen {

  /** Ten English function words ranked first in the Zipf vocabulary, so
    * ordinary pages pass the Gopher stopword rule the way real text does.
    */
  private val stopwords =
    Array("the", "and", "of", "to", "a", "in", "is", "that", "it", "for")

  private val consonants = "bcdfghjklmnprstvwz"
  private val vowels = "aeiou"

  /** Zipfian vocabulary: rank r has weight 1 / (r+1)^s. */
  final class Vocab(val words: Array[String], cdf: Array[Double]) {
    def draw(r: SplittableRandom): String = {
      val u = r.nextDouble()
      var lo = 0
      var hi = cdf.length - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cdf(mid) < u) lo = mid + 1 else hi = mid
      }
      words(lo)
    }
  }

  def vocab(seed: Long, size: Int, s: Double = 1.05): Vocab = {
    val r = new SplittableRandom(seed ^ 0x5eed5eedL)
    val seen = scala.collection.mutable.HashSet[String](stopwords: _*)
    val words = ArrayBuffer[String](stopwords: _*)
    while (words.size < size) {
      val syl = 1 + r.nextInt(3)
      val sb = new StringBuilder
      for (_ <- 0 until syl) {
        sb += consonants(r.nextInt(consonants.length))
        sb += vowels(r.nextInt(vowels.length))
        if (r.nextInt(3) == 0) sb += consonants(r.nextInt(consonants.length))
      }
      val w = sb.toString
      if (w.length >= 3 && seen.add(w)) words += w
    }
    val weights = Array.tabulate(size)(i => 1.0 / math.pow(i + 1.0, s))
    val total = weights.sum
    var acc = 0.0
    val cdf = weights.map { w => acc += w / total; acc }
    cdf(size - 1) = 1.0
    new Vocab(words.toArray, cdf)
  }

  private def logNormal(r: SplittableRandom, median: Double, sigma: Double): Double =
    median * math.exp(sigma * gaussian(r))

  def gaussian(r: SplittableRandom): Double = {
    // Box-Muller; one draw per call keeps the stream position simple
    val u1 = math.max(r.nextDouble(), 1e-300)
    val u2 = r.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }

  /** A clean page: one sentence per line, a log-normal number of
    * sentences (at least 7). Each sentence opens with a stopword (the
    * i-th sentence with the i-th of the ten) and has 7-15 more words,
    * ending in '.'. So every page, and every [[perturb]]ed copy of it,
    * clears the cleaner: C4's line and three-sentence rules, Gopher's
    * fifty-word floor and its two distinct stopwords.
    */
  def goodPage(r: SplittableRandom, v: Vocab): String =
    goodPage(r, v, math.max(7, math.min(60, logNormal(r, 10, 0.5).toInt)))

  /** A clean page of exactly `nSent` (at least 7) sentences. */
  def goodPage(r: SplittableRandom, v: Vocab, nSent: Int): String = {
    require(nSent >= 7, s"a clean page needs at least 7 sentences, got $nSent")
    (0 until nSent).map { i =>
      val n = 7 + r.nextInt(9)
      (stopwords(i % stopwords.length) +: (0 until n).map(_ => v.draw(r))).mkString(" ") + "."
    }.mkString("\n")
  }

  /** A page the crawl cleaner must drop: navigation boilerplate, a page
    * too short to hold three sentences, or symbol/markup noise.
    */
  def lowQualityPage(r: SplittableRandom, v: Vocab): String = r.nextInt(3) match {
    case 0 =>
      (0 until 4 + r.nextInt(8)).map(_ =>
        (0 until 2 + r.nextInt(3)).map(_ => v.draw(r)).mkString(" | "))
        .mkString("\n")
    case 1 =>
      (0 until 1 + r.nextInt(2)).map(_ =>
        (0 until 6 + r.nextInt(6)).map(_ => v.draw(r)).mkString(" ") + ".")
        .mkString("\n")
    case _ =>
      (0 until 5 + r.nextInt(6)).map(_ =>
        (0 until 6 + r.nextInt(6)).map(_ => "#" * (1 + r.nextInt(4))).mkString(" ") +
          " { }").mkString("\n")
  }

  /** Near-copy of `text`: each word but a line's first is independently
    * replaced by a fresh vocabulary draw with probability `rate`, keeping
    * line structure, punctuation and sentence openers, so the copy of a
    * clean page stays clean. Word 3-shingle Jaccard falls roughly as
    * s/(2-s) with s = (1-rate)^3.
    */
  def perturb(r: SplittableRandom, v: Vocab, text: String, rate: Double): String =
    text.split("\n", -1).map { line =>
      val words = line.stripSuffix(".").split(" ")
      (words.head +: words.tail.map(w => if (r.nextDouble() < rate) v.draw(r) else w))
        .mkString(" ") + (if (line.endsWith(".")) "." else "")
    }.mkString("\n")

  /** A raw web-like corpus: ids 0..n-1 in shuffled order. */
  case class Corpus(
      ids: Array[Long], texts: Array[String],
      /** exact-copy groups: every id in a group carries identical text */
      exactGroups: Seq[Seq[Long]],
      /** (copy id, source id, perturbation rate) */
      nearPairs: Seq[(Long, Long, Double)],
      lowQuality: Set[Long]) {
    def rawBytes: Long = texts.iterator.map(_.getBytes("UTF-8").length.toLong).sum
  }

  /** Sizes in share of `n`: ~5% exact copies, ~10% near copies,
    * ~20% low-quality pages; the rest are distinct clean pages.
    * Near-copy rates are drawn from [minRate, maxRate]; the default span
    * straddles the Jaccard-0.5 threshold (rate ~0.12), so the measured
    * recall depends on the detector rather than being 1 by construction.
    */
  def corpus(seed: Long, n: Int, v: Vocab, exactShare: Double = 0.05,
      nearShare: Double = 0.10, lowShare: Double = 0.20,
      minRate: Double = 0.01, maxRate: Double = 0.16,
      /** page length in sentences; 0 draws it log-normal per page */
      sentences: Int = 0): Corpus = {
    val r = new SplittableRandom(seed)
    val nExact = (n * exactShare).toInt
    val nNear = (n * nearShare).toInt
    val nLow = (n * lowShare).toInt
    val nBase = n - nExact - nNear - nLow
    // slot k of the generation order gets id perm(k)
    val perm = shuffled(r, n)
    val texts = new Array[String](n)
    for (k <- 0 until nBase)
      texts(perm(k)) = if (sentences > 0) goodPage(r, v, sentences) else goodPage(r, v)
    val exactBy = scala.collection.mutable.LinkedHashMap[Long, ArrayBuffer[Long]]()
    val near = ArrayBuffer[(Long, Long, Double)]()
    for (k <- nBase until nBase + nExact) {
      val src = perm(r.nextInt(nBase))
      texts(perm(k)) = texts(src)
      exactBy.getOrElseUpdate(src.toLong, ArrayBuffer(src.toLong)) += perm(k).toLong
    }
    for (k <- nBase + nExact until nBase + nExact + nNear) {
      val src = perm(r.nextInt(nBase))
      val rate = minRate + (maxRate - minRate) * r.nextDouble()
      texts(perm(k)) = perturb(r, v, texts(src), rate)
      near += ((perm(k).toLong, src.toLong, rate))
    }
    val low = (nBase + nExact + nNear until n).map { k =>
      texts(perm(k)) = lowQualityPage(r, v); perm(k).toLong
    }.toSet
    Corpus(Array.tabulate(n)(_.toLong), texts,
      exactBy.values.map(_.toSeq).toSeq, near.toSeq, low)
  }

  def shuffled(r: SplittableRandom, n: Int): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    for (i <- n - 1 to 1 by -1) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }

  /** Gaussian-mixture embeddings: `k` centres ~ N(0, I), each vector its
    * centre plus N(0, spread² I) noise.
    */
  final class Mixture(seed: Long, val dim: Int, k: Int, spread: Double) {
    private val r0 = new SplittableRandom(seed ^ 0x3c3c3cL)
    val centres: Array[Array[Double]] =
      Array.fill(k)(Array.fill(dim)(gaussian(r0)))
    def sample(r: SplittableRandom): Array[Double] = {
      val c = centres(r.nextInt(k))
      Array.tabulate(dim)(j => c(j) + spread * gaussian(r))
    }
    def jitter(r: SplittableRandom, v: Array[Double], eps: Double): Array[Double] =
      v.map(x => x + eps * gaussian(r))
  }

  /** A run of `words` consecutive words of `text` (line breaks folded). */
  def span(r: SplittableRandom, text: String, words: Int): String = {
    val toks = text.replace('\n', ' ').split(" ")
    val start = r.nextInt(math.max(1, toks.length - words))
    toks.slice(start, start + words).mkString(" ")
  }
}
