package perfbench

/** Order statistics for latency samples. */
object Stats {

  /** The percentiles a tail may be reported at, in increasing order. */
  val Ladder: Seq[Double] = Seq(50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

  /** Samples a percentile must have strictly beyond it to be reported. */
  val MinBeyond = 10

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank position (1-based) of percentile `p` among `n` samples.
    * The epsilon keeps 0.9 * 100 = 90.00000000000001 at rank 90. */
  def rank(p: Double, n: Int): Int =
    math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  /** The highest percentile of [[Ladder]] that has at least [[MinBeyond]]
    * samples beyond it, with its nearest-rank value; None when even the
    * median has fewer. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] = {
    val s = xs.sorted
    val n = s.length
    Ladder.reverse.find(p => n - rank(p, n) >= MinBeyond)
      .map(p => p -> s(rank(p, n) - 1))
  }
}
