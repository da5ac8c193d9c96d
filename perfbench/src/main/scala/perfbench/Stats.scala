package perfbench

/** Order statistics used by every workload's report. */
object Stats {

  /** Linear-interpolated percentile (`p` in [0, 100]) of `xs`; NaN if empty. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(p >= 0 && p <= 100, s"percentile out of range: $p")
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val rank = p / 100.0 * (s.size - 1)
      val lo = math.floor(rank).toInt
      val hi = math.ceil(rank).toInt
      s(lo) + (s(hi) - s(lo)) * (rank - lo)
    }
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The highest of the standard tail percentiles that still has at least
    * `minBeyond` samples strictly above its rank, so a "tail" figure is
    * never a single outlier. Returns (percentile, value, samples beyond).
    * A sample too small for any such tail reports its maximum, as
    * percentile 100 with no samples beyond.
    */
  def tail(xs: Seq[Double], minBeyond: Int = 10): (Double, Double, Int) = {
    val candidates = Seq(99.9, 99.0, 95.0, 90.0, 75.0)
    val n = xs.size
    candidates.find(p => beyond(n, p) >= minBeyond) match {
      case Some(p) => (p, percentile(xs, p), beyond(n, p))
      case None => (100.0, percentile(xs, 100), 0)
    }
  }

  /** Samples strictly above the `p`-th percentile's rank in a sample of `n`. */
  def beyond(n: Int, p: Double): Int =
    if (n == 0) 0 else n - 1 - math.floor(p / 100.0 * (n - 1)).toInt
}

/** Decides how many whole passes a run measures: at least `minPasses`, and
  * another only while it is expected to end within `seconds` of the first
  * start.
  */
final class PassClock(seconds: Double, minPasses: Int = 1) {
  private val start = System.nanoTime()
  private var passes = 0
  private var longestNs = 0L
  private var passStart = start

  def another(): Boolean = {
    val ok = passes < minPasses || System.nanoTime() - start + longestNs <= seconds * 1e9
    if (ok) passStart = System.nanoTime()
    ok
  }

  def passDone(): Unit = {
    passes += 1
    longestNs = math.max(longestNs, System.nanoTime() - passStart)
  }
}
