package graftbench

/** Summary statistics used for every reported timing. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail rule: the highest whole percentile p whose nearest-rank
    * value (rank = ceil(p/100 * n), 1-based, ascending) still has at
    * least `beyond` samples above it. None when fewer than
    * `beyond + 1` samples exist: no percentile qualifies then.
    * Returns (p, rank). */
  def tailRank(n: Int, beyond: Int = 10): Option[(Int, Int)] =
    (99 to 1 by -1).iterator
      .map(p => (p, math.ceil(p * n / 100.0).toInt))
      .find { case (_, rank) => rank >= 1 && n - rank >= beyond }

  final case class Tail(value: Double, percentile: Int, rank: Int, samples: Int)

  def tail(xs: Seq[Double], beyond: Int = 10): Option[Tail] =
    tailRank(xs.length, beyond).map { case (p, rank) =>
      Tail(xs.sorted.apply(rank - 1), p, rank, xs.length)
    }
}
