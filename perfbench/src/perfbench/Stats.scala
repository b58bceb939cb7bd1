package perfbench

/** Order statistics for the benchmark's reports. */
object Stats {

  /** Median (mean of the two middle values for an even count). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least `p` of
    * the samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 1, s"percentile $p outside (0, 1]")
    val s = xs.sorted
    s(rank(s.size, p) - 1)
  }

  /** 1-based nearest rank of percentile `p` among `n` samples. */
  def rank(n: Int, p: Double): Int =
    math.max(1, math.ceil(p * n - 1e-9).toInt)

  /** Samples strictly above the nearest-rank position of `p`. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  /** Candidate tail percentiles, highest first. */
  val TailCandidates: Seq[Double] = Seq(0.999, 0.99, 0.95, 0.9, 0.75, 0.5)

  /** The highest candidate percentile that leaves at least `minBeyond`
    * samples beyond it, if any does. */
  def tailPercentile(n: Int, minBeyond: Int = 10): Option[Double] =
    TailCandidates.find(p => beyond(n, p) >= minBeyond)

  /** Label of a percentile, e.g. 0.99 -> "p99", 0.999 -> "p99.9". */
  def label(p: Double): String = {
    val s = BigDecimal(p * 100).bigDecimal.stripTrailingZeros.toPlainString
    s"p$s"
  }

  /** Rates of a measured pass that one slow moment does not move: each
    * operation counts with the median time, rows and bytes of all the
    * operations of its key, so a key that ran R times weighs R times its
    * median. */
  final case class Rates(ops: Seq[Op]) {
    private val typical: Seq[(Double, Double, Double)] = {
      val med = ops.groupBy(_.key).map { case (k, os) =>
        k -> ((median(os.map(_.ns.toDouble)), median(os.map(_.rows.toDouble)), median(os.map(_.bytes.toDouble))))
      }
      ops.map(o => med(o.key))
    }
    private val seconds = typical.map(_._1).sum / 1e9
    val opsPerS: Double = ops.size / seconds
    val rowsPerS: Double = typical.map(_._2).sum / seconds
    val bytesPerS: Double = typical.map(_._3).sum / seconds
  }
}
