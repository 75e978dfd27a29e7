package graftbench

import scala.collection.mutable

/** Seeded input generator. Every workload input is a pure function of
  * the seed and the knobs; the knobs carry the input properties graft's
  * behaviour depends on (branch count, shared columns, skew, duplicate
  * share and cluster size, recrawl mix, base-to-batch ratio), the seed
  * only moves the random draws. graft receives only the files and the
  * stream rows built from this. A workload reads each of its knobs once
  * and then calls `checkKnobs`, so a knob it does not have is an error;
  * sizes and check thresholds are constants, not knobs.
  */
final class Gen(seed: Long, knobs: Map[String, String]) {
  private val rng = new java.util.SplittableRandom(seed)
  private val known = mutable.Set.empty[String]

  def int(name: String, default: Int): Int = {
    known += name
    knobs.get(name).map(_.toInt).getOrElse(default)
  }
  def dbl(name: String, default: Double): Double = {
    known += name
    knobs.get(name).map(_.toDouble).getOrElse(default)
  }

  def checkKnobs(workload: String): Unit = {
    val unknown = knobs.keySet -- known
    require(unknown.isEmpty, s"$workload has no knob ${unknown.mkString(", ")}; " +
      s"its knobs are ${known.toSeq.sorted.mkString(", ")}")
  }

  def nextInt(bound: Int): Int = rng.nextInt(bound)
  def nextDouble(): Double = rng.nextDouble()
  def fork(): java.util.SplittableRandom = rng.split()

  /** Distinct lowercase pseudo-words; `n` of them, 3–9 letters. */
  def vocabulary(n: Int): Array[String] = {
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val len = 3 + rng.nextInt(7)
      seen += Array.fill(len)(('a' + rng.nextInt(26)).toChar).mkString
    }
    seen.toArray
  }
}

/** Zipf(s) sampler over ranks 0 until n by inverse CDF lookup. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }

  def sample(u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** Text arithmetic that mirrors graft's tokenizer and word n-grams
  * (lowercase, split on whitespace, drop empties, distinct n-grams
  * joined by one space) so checks can recount outputs without Spark.
  */
object Text {
  def tokens(text: String): Array[String] =
    text.toLowerCase.split("\\s+").filter(_.nonEmpty)

  def ngrams(text: String, n: Int): Set[String] = {
    val t = tokens(text)
    if (t.length < n) Set.empty
    else (0 to t.length - n).iterator.map(i => t.slice(i, i + n).mkString(" ")).toSet
  }

  /** graft's 60-bit gram hash: first 15 hex digits of md5(gram). */
  def gramHash(gram: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest(gram.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xff); i += 1 }
    (v << 4) | ((d(7) & 0xff) >>> 4)
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b.contains)
    inter.toDouble / (a.size + b.size - inter).toDouble
  }

  /** Spark's round(x, 4) on a double (HALF_UP over the decimal form). */
  def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
}
