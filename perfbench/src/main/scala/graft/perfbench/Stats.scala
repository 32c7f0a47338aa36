package graft.perfbench

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile, reported only when at least ten samples
    * lie beyond it: p90 needs 100 samples, p99 1000. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    val beyond = math.floor(xs.size * (1 - q) + 1e-9).toInt
    require(beyond >= 10,
      s"p${(q * 100).round} of ${xs.size} samples has $beyond beyond it; at least 10 are needed")
    val s = xs.sorted
    s(math.max(0, math.ceil(q * s.size - 1e-9).toInt - 1))
  }

  /** Total length covered by a set of intervals. */
  def union(iv: Seq[(Double, Double)]): Double = {
    var covered = 0.0; var hi = Double.NegativeInfinity
    iv.sortBy(_._1).foreach { case (a, b) =>
      val from = math.max(a, hi)
      if (b > from) { covered += b - from; hi = b }
    }
    covered
  }
}
