package perfbench

import java.util.SplittableRandom

/** Seeded input generators. Every input the program sees is made here
  * from `--seed`; the same seed gives the same inputs. Per-row generators
  * derive their stream from (seed, row), so the benchmark can regenerate
  * any row on its own — that is what the output checks compare against. */
object Gen {

  /** A stream for (seed, salt, i): independent of call order. */
  def rng(seed: Long, salt: Long, i: Long = 0L): SplittableRandom =
    new SplittableRandom(mix(mix(seed ^ 0x5DEECE66DL, salt), i))

  private def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  // ─── Vocabulary and text ───

  /** Fixed (seed-independent) vocabulary: 4,000 distinct pseudo-words of
    * 2–4 consonant-vowel syllables. The seed picks which words a text
    * uses, not the words themselves. */
  val Vocabulary: Array[String] = {
    val cons = "bcdfghklmnprstvz"
    val vows = "aeiou"
    val r = new SplittableRandom(20261018L)
    val seen = new java.util.LinkedHashSet[String]()
    while (seen.size < 4000) {
      val syl = 2 + r.nextInt(3)
      val sb = new StringBuilder
      var k = 0
      while (k < syl) {
        sb += cons.charAt(r.nextInt(cons.length)); sb += vows.charAt(r.nextInt(vows.length)); k += 1
      }
      seen.add(sb.toString)
    }
    seen.toArray(new Array[String](0))
  }

  /** Zipf(s = 1.1) cumulative weights over the vocabulary rank. */
  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(Vocabulary.length)(i => 1.0 / math.pow(i + 1, 1.1))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  def word(r: SplittableRandom): String = {
    val u = r.nextDouble()
    var i = java.util.Arrays.binarySearch(zipfCdf, u)
    if (i < 0) i = -i - 1
    Vocabulary(math.min(i, Vocabulary.length - 1))
  }

  /** `n` Zipf-distributed words separated by single spaces. */
  def words(r: SplittableRandom, n: Int): String = {
    val sb = new StringBuilder
    var k = 0
    while (k < n) {
      if (k > 0) sb += ' '
      sb ++= word(r)
      k += 1
    }
    sb.toString
  }

  /** Sentences of 6–14 words ending in '.', about `chars` long. */
  def prose(r: SplittableRandom, chars: Int): String = {
    val sb = new StringBuilder
    while (sb.length < chars) {
      if (sb.nonEmpty) sb += ' '
      val s = words(r, 6 + r.nextInt(9))
      sb ++= s.capitalize
      sb += '.'
    }
    sb.toString
  }

  // ─── Vectors ───

  /** Gaussian mixture on the unit sphere: `clusters` centres drawn
    * uniformly (from the seed), each row = its centre plus isotropic
    * noise of norm ~`spread`. Returned unnormalized as float32; the
    * engine unit-normalizes cosine collections at insert. */
  final class Mixture(seed: Long, dim: Int, clusters: Int, spread: Double) extends Serializable {
    private val centres: Array[Array[Double]] = Array.tabulate(clusters) { c =>
      val r = rng(seed, 101, c)
      unit(Array.fill(dim)(r.nextGaussian()))
    }
    def cluster(i: Long): Int = rng(seed, 102, i).nextInt(clusters)
    def row(i: Long): Array[Float] = {
      val r = rng(seed, 103, i)
      val c = centres(cluster(i))
      val sd = spread / math.sqrt(dim)
      Array.tabulate(dim)(d => (c(d) + r.nextGaussian() * sd).toFloat)
    }
  }

  def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n > 0) v.map(_ / n) else v
  }
}
