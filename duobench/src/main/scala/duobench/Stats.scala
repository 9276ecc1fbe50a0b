package duobench

/** Order statistics for latency samples. */
object Stats {

  /** Linear-interpolated quantile over the sorted samples (the
    * "inclusive" method of Python's `statistics.quantiles`, NumPy's
    * default). NaN for an empty sample.
    */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(q >= 0.0 && q <= 1.0, s"quantile out of range: $q")
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Samples strictly above the q-quantile's rank in a sample of n. */
  def beyond(n: Int, q: Double): Int = math.floor(n * (1.0 - q) + 1e-9).toInt

  /** Candidate tail percentiles, highest first. */
  val Ladder: Seq[Double] = Seq(0.99, 0.95, 0.9, 0.75, 0.5)

  /** The highest percentile of [[Ladder]] with at least `minBeyond`
    * samples above it; None when even the median has fewer.
    */
  def tailQuantile(n: Int, minBeyond: Int = 10): Option[Double] =
    Ladder.find(q => beyond(n, q) >= minBeyond)

  /** A latency summary: the median, the tail at the percentile
    * [[tailQuantile]] picks (the median when too few samples), and the
    * sample count.
    */
  final case class Summary(n: Int, p50: Double, tailQ: Double, tail: Double) {
    def tailName: String = s"p${math.round(tailQ * 100)}"
    override def toString: String =
      f"n=$n p50=$p50%.2f $tailName=$tail%.2f"
  }

  def summarize(xs: Seq[Double]): Summary = {
    val q = tailQuantile(xs.size).getOrElse(0.5)
    Summary(xs.size, median(xs), q, quantile(xs, q))
  }
}
