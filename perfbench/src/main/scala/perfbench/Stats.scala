package perfbench

/** Order statistics. Every reported metric is a `median`; `quartiles`
  * gives the within-run spread of a metric's samples, printed on stderr,
  * and follows Python's `statistics.quantiles(xs, n=4)` (the default
  * "exclusive" method), the quartiles used to judge run-to-run spread. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** (Q1, Q2, Q3); needs at least two samples, like the Python original. */
  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    require(xs.size >= 2, "quartiles need at least two samples")
    val s = xs.sorted.toIndexedSeq
    val ld = s.size
    val m = ld + 1
    def q(i: Int): Double = {
      val j = math.min(math.max(i * m / 4, 1), ld - 1)
      val delta = i * m - j * 4
      (s(j - 1) * (4 - delta) + s(j) * delta) / 4.0
    }
    (q(1), q(2), q(3))
  }
}
