package perfbench

import scala.util.hashing.MurmurHash3

object Stats {

  /** Linear-interpolation quantile of a non-empty sample, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(s.size - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The tail of a latency sample and the percentile it is: the 90th
    * when at least ten samples lie beyond it; else the highest whole
    * percentile above the median that leaves ten beyond it; else, for
    * fewer than 20 samples, the slowest one (the 100th). */
  def tail(xs: Seq[Double]): (Double, Int) = {
    val n = xs.size
    val pct = math.min(90, ((n - 10) * 100) / n)
    if (n >= 20 && pct > 50) (quantile(xs, pct / 100.0), pct)
    else (xs.max, 100)
  }

  /** Order-independent digest of a set of triples: count, wrapping sum
    * and xor of a 64-bit hash per triple. */
  def digest(triples: Iterable[(String, String, String)]): String = {
    var sum = 0L
    var xor = 0L
    var n = 0L
    triples.foreach { case (s, p, o) =>
      val key = s"$s\u0001$p\u0001$o"
      val h = (MurmurHash3.stringHash(key, 0x3c074a61).toLong << 32) ^
        (MurmurHash3.stringHash(key, 0x1b873593) & 0xffffffffL)
      sum += h; xor ^= h; n += 1
    }
    f"$n-$sum%016x-$xor%016x"
  }
}
