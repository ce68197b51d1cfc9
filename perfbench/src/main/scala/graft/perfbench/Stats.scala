package graft.perfbench

/** The benchmark's own statistics: nearest-rank percentiles, the median
  * and the tail rule (the highest standard percentile with at least ten
  * samples beyond it). A failed request is no latency sample: it counts
  * in `failed` instead. */
object Stats {

  /** Percentiles the tail is chosen from, highest first. */
  val Ladder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 60.0, 50.0)

  /** Samples strictly beyond the nearest-rank `p`th percentile of `n`. */
  def beyond(n: Int, p: Double): Int =
    n - math.ceil(p / 100.0 * n - 1e-9).toInt.max(1)

  /** The highest ladder percentile with at least `minBeyond` samples
    * beyond it, or None when `n` is too small for any. */
  def tailPercentile(n: Int, minBeyond: Int = 10): Option[Double] =
    Ladder.find(p => beyond(n, p) >= minBeyond)

  /** Smallest sample count for which `p` is a valid tail. */
  def samplesFor(p: Double, minBeyond: Int = 10): Int =
    Iterator.from(1).find(n => beyond(n, p) >= minBeyond).get

  /** Nearest-rank percentile of unsorted samples. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted.toIndexedSeq
    s((math.ceil(p / 100.0 * s.size - 1e-9).toInt.max(1) - 1).min(s.size - 1))
  }

  /** The middle sample, or the mean of the two middle ones. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted.toIndexedSeq
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
