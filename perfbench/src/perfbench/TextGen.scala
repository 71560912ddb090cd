package perfbench

import java.util.SplittableRandom

/** Seeded documents for the dedup workloads, in the spirit of
  * `CorpusScaleDemo.dedupDocs`: distinct bodies over a 10^6-word space,
  * every fourth token a stopword of the document's language, plus the
  * planted cases the checks rely on:
  *   - exact copies (identical text);
  *   - near copies: one word replaced in the middle of a ≥ 45-token body,
  *     so word-3-shingle Jaccard with the source is ≥ 0.85 > τ = 0.8;
  *   - hub documents: a 25-token boilerplate block shared by every hub
  *     document plus a distinct body, Jaccard ≈ 0.2 < τ (kept);
  *   - short documents under the 30-word quality gate (dropped).
  * Stopwords are drawn only from words unique to one language's list, so
  * the planted language is the only one language-ID can answer. */
final class TextGen(seed: Long) {
  private val rnd = new SplittableRandom(seed)

  val markers: Map[String, IndexedSeq[String]] = {
    val sw = graft.ext.TextAnalysis.stopwords
    sw.map { case (l, ws) => l -> ws.filterNot(w => sw.exists { case (o, os) => o != l && os.contains(w) }).toIndexedSeq }
  }
  val langs: IndexedSeq[String] = markers.keys.toIndexedSeq.sorted

  private val boilerplate: Array[String] = Array.fill(25)(s"bp${rnd.nextInt(1000000)}")

  private def word(): String = s"w${rnd.nextInt(1000000)}"

  def lang(): String = langs(rnd.nextInt(langs.size))

  /** `n` tokens: content words with every fourth a stopword of `lang`. */
  def body(n: Int, lang: String): Array[String] = {
    val m = markers(lang)
    Array.tabulate(n)(i => if (i % 4 == 3) m(rnd.nextInt(m.size)) else word())
  }

  def base(lang: String): Array[String] = body(45 + rnd.nextInt(26), lang)

  def short(lang: String): Array[String] = body(10 + rnd.nextInt(16), lang)

  def hub(lang: String): Array[String] = boilerplate ++ body(35 + rnd.nextInt(11), lang)

  /** One content word in the middle third replaced by a fresh word. */
  def near(src: Array[String]): Array[String] = {
    val out = src.clone()
    var i = src.length / 3 + rnd.nextInt(src.length / 3)
    if (i % 4 == 3) i -= 1
    out(i) = word()
    out
  }

  def pick(n: Int): Int = rnd.nextInt(n)

  def chance(p: Double): Boolean = rnd.nextDouble() < p

  /** A seeded permutation of 0 until n. */
  def permutation(n: Int): Array[Int] = {
    val a = Array.range(0, n)
    for (i <- n - 1 to 1 by -1) { val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a
  }
}

/** What ideal MinHash LSH lets through, as the bound on near duplicates
  * the dedup workloads may keep. `DocPipeline` signs the set of a
  * document's words with k = 8 MinHash components in 4 bands of 2 and
  * makes a pair a candidate when one band matches. With independent
  * hash functions a pair of word-set Jaccard J shares no band with
  * probability (1 − J²)⁴. */
object IdealLsh {
  val Bands = 4
  val Rows = 2
  /** Chance, per check, that ideal LSH misses more than the allowance. */
  val FalseAlarm = 1e-6

  def jaccard(a: String, b: String): Double = {
    val (x, y) = (a.split(" ").toSet, b.split(" ").toSet)
    (x intersect y).size.toDouble / (x union y).size
  }

  def missProb(j: Double): Double = math.pow(1 - math.pow(j, Rows), Bands)

  /** The smallest m such that more than m of independent pairs with miss
    * probabilities `qs` are missed with probability at most `FalseAlarm`. */
  def allowance(qs: Seq[Double]): Int = {
    var dist = Array(1.0) // dist(m) = P(m misses so far)
    for (q <- qs) {
      val next = new Array[Double](dist.length + 1)
      for (m <- dist.indices) { next(m) += dist(m) * (1 - q); next(m + 1) += dist(m) * q }
      dist = next
    }
    var m = 0
    var above = 1.0 - dist(0)
    while (above > FalseAlarm) { m += 1; above -= dist(m) }
    m
  }
}
