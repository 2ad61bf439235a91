package perfbench

/** The benchmark's estimator. Every sample is kept: no fastest-cluster
  * selection, no outlier trimming, no pooling across runs. Quantiles use
  * the same "exclusive" method as Python's `statistics.quantiles`, so the
  * numbers printed here match what a reader recomputes from the samples.
  */
object Stats {

  final case class Summary(n: Int, median: Double, q1: Double, q3: Double,
                           max: Double, hiPct: Int, hi: Double) {
    def render(unit: String): String = {
      val tail = if (hiPct > 50) f" p$hiPct=$hi%.4f" else ""
      f"median=$median%.4f $unit q1=$q1%.4f q3=$q3%.4f max=$max%.4f$tail n=$n"
    }
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** Python `statistics.quantiles(xs, n=4, method="exclusive")`; with fewer
    * than two samples every quartile is the sample itself.
    */
  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    require(xs.nonEmpty, "quartiles of no samples")
    if (xs.length == 1) return (xs.head, xs.head, xs.head)
    val s = xs.sorted
    val m = s.length
    def q(i: Int): Double = {
      val j = (i * (m + 1) / 4).max(1).min(m - 1)
      val delta = i * (m + 1) - j * 4
      (s(j - 1) * (4 - delta) + s(j) * delta) / 4.0
    }
    (q(1), q(2), q(3))
  }

  /** The highest of p50/p90/p99 that leaves at least ten samples above
    * it; below twenty samples that is the median.
    */
  def highestSupportedPercentile(n: Int): Int =
    Seq(99, 90).find(p => n * (100 - p) / 100.0 >= 10.0).getOrElse(50)

  def percentile(xs: Seq[Double], p: Int): Double = {
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.length).toInt.max(1)
    s(rank - 1)
  }

  def summarize(xs: Seq[Double]): Summary = {
    val (q1, _, q3) = quartiles(xs)
    val hp = highestSupportedPercentile(xs.length)
    val med = median(xs)
    Summary(xs.length, med, q1, q3, xs.max, hp,
      if (hp > 50) percentile(xs, hp) else med)
  }
}
