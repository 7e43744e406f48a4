package perfbench

/** Summary statistics for timing samples. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** The highest whole percentile p in [50, 99] whose nearest-rank
    * sample still has at least `beyond` samples above it, with that
    * sample. None when the run took too few samples for any such p:
    * a tail figure resting on fewer than `beyond` samples is noise.
    */
  def tailPercentile(xs: Seq[Double], beyond: Int = 10): Option[(Int, Double)] = {
    val s = xs.sorted
    val n = s.length
    (99 to 50 by -1).iterator.map { p =>
      val rank = math.ceil(p * n / 100.0).toInt // 1-based nearest rank
      (p, rank)
    }.collectFirst { case (p, rank) if rank >= 1 && n - rank >= beyond => (p, s(rank - 1)) }
  }
}
