package perfbench

/** Order statistics used by every report the benchmark prints. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** A tail latency: `value` is the sample at `percentile`, and `beyond`
    * samples are strictly above it in sorted order. */
  final case class Tail(value: Double, percentile: Double, beyond: Int, samples: Int)

  /** The highest percentile that still has at least `minBeyond` samples
    * beyond it: with `n` sorted samples that is the `(n - minBeyond)`-th
    * smallest. A tail below the median is no tail, so with fewer than
    * `2 * minBeyond` samples the median is reported, with the number of
    * samples beyond it. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    val rank = n - minBeyond // 1-based rank of the tail sample
    if (rank >= (n + 1) / 2 && rank >= 1)
      Tail(s(rank - 1), 100.0 * rank / n, minBeyond, n)
    else Tail(median(s), 50.0, n / 2, n)
  }
}
