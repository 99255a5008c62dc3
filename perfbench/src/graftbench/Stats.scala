package graftbench

/** Percentiles by nearest rank. A percentile is only reported when at
  * least `MinBeyond` samples lie above it; asking for one the sample
  * cannot support is an error, never a silently noisy number. */
object Stats {
  val MinBeyond = 10

  def percentile(xs: Seq[Double], p: Double): Double = {
    require(p > 0.0 && p < 1.0, s"percentile must be in (0, 1): $p")
    val n = xs.size
    val rank = Math.ceil(p * n).toInt
    require(n > 0 && n - rank >= MinBeyond,
      s"p${(p * 100).round} needs $MinBeyond samples beyond it; $n samples leave ${n - rank}")
    xs.sorted.apply(rank - 1)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
