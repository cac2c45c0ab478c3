package perfbench

/** Order statistics used for every timing the benchmark reports. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail rule: the highest percentile that still has at least
    * `beyond` samples above it. With the samples sorted ascending, that is
    * the sample at index n - beyond - 1 (exactly `beyond` samples sit
    * after it); its percentile is the share of samples at or below it.
    * Returns (value, percentile in 0..100, n), or None when there are not
    * more than `beyond` samples.
    */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double, Int)] = {
    val n = xs.length
    if (n <= beyond) None
    else {
      val s = xs.sorted
      val i = n - beyond - 1
      Some((s(i), 100.0 * (i + 1) / n, n))
    }
  }
}

/** SplitMix64: a small, seedable, platform-independent generator, so one
  * seed yields byte-identical inputs on every machine.
  */
final class Rng(seed: Long) {
  private var x = seed * 0x9E3779B97F4A7C15L + 0x632BE59BD9B4E019L

  def nextLong(): Long = {
    x += 0x9E3779B97F4A7C15L
    var z = x
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform in [0, n). */
  def nextInt(n: Int): Int = java.lang.Long.remainderUnsigned(nextLong(), n.toLong).toInt

  /** Uniform in [0, 1). */
  def nextDouble(): Double = (nextLong() >>> 11).toDouble / (1L << 53).toDouble
}

/** Draws from a Zipf distribution over ranks 1..n with exponent s. */
final class Zipf(n: Int, s: Double) {
  private val cum: Array[Double] = {
    val c = new Array[Double](n)
    var acc = 0.0
    var r = 0
    while (r < n) { acc += 1.0 / math.pow(r + 1, s); c(r) = acc; r += 1 }
    c
  }

  def draw(rng: Rng): Int = {
    val target = rng.nextDouble() * cum(n - 1)
    var lo = 0
    var hi = n - 1
    while (lo < hi) {
      val m = (lo + hi) >>> 1
      if (cum(m) < target) lo = m + 1 else hi = m
    }
    lo + 1
  }
}
