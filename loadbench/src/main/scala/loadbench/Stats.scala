package loadbench

/** Summary statistics for the per-op samples of one timed window. */
object Stats {

  /** A tail reading: the value at whole percentile `pct` (nearest rank),
    * with `beyond` samples above it out of `n`. `pct` is 100 (the
    * maximum) only when there are too few samples for any percentile
    * to have `minBeyond` samples beyond it. */
  final case class Tail(pct: Int, value: Double, beyond: Int, n: Int)

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** 1-based nearest rank of whole percentile `p` among `n` samples. */
  private def rank(p: Int, n: Int): Int =
    math.max(1, math.ceil(p * n / 100.0 - 1e-9).toInt)

  /** The highest whole percentile whose nearest-rank value has at least
    * `minBeyond` samples beyond it in sorted order. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    (99 to 1 by -1).find(p => n - rank(p, n) >= minBeyond) match {
      case Some(p) => Tail(p, s(rank(p, n) - 1), n - rank(p, n), n)
      case None    => Tail(100, s.last, 0, n)
    }
  }
}
