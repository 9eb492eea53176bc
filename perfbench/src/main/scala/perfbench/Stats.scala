package perfbench

/** Latency statistics with the reporting rule of the benchmark: a
  * percentile is reported only when at least ten samples lie beyond it,
  * and a failed operation is a sample that misses every latency limit
  * (it sorts as `Stats.FailedMs`, never as a fast sample). */
object Stats {

  /** Latency recorded for a failed or refused operation: the per-operation
    * timeout, so it lies beyond every latency limit the benchmark states. */
  val FailedMs: Double = 60000.0

  /** Samples that must lie strictly beyond a reported percentile. */
  val MinBeyond = 10

  /** Nearest-rank percentile of `xs` (`p` in (0, 1]). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 1, s"percentile $p outside (0, 1]")
    val sorted = xs.sorted
    sorted(math.max(0, math.ceil(p * sorted.size).toInt - 1))
  }

  /** Number of samples strictly above the nearest-rank `p` percentile's rank. */
  def beyond(n: Int, p: Double): Int = n - math.max(1, math.ceil(p * n).toInt)

  /** True when `n` samples leave at least [[MinBeyond]] beyond percentile `p`. */
  def reportable(n: Int, p: Double): Boolean = n > 0 && beyond(n, p) >= MinBeyond

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
