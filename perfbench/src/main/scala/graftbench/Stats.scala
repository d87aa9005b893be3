package graftbench

/** Order statistics used by every workload. */
object Stats {

  /** Samples that must lie beyond a reported tail percentile. */
  val MinBeyond = 10

  /** The percentile the benchmark may report for `n` samples when
    * `requested` is asked for: the highest percentile not above `requested`
    * with at least `MinBeyond` samples beyond it (nearest-rank), or None
    * when `n` is too small for any. A p90 therefore needs 100 samples and a
    * p99 needs 1000.
    */
  def tailPercentile(n: Int, requested: Double): Option[Double] =
    if (n <= MinBeyond) None
    else Some(math.min(requested, 100.0 * (n - MinBeyond) / n))

  /** Samples strictly beyond the nearest-rank `p`-th percentile of `n`. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  /** 1-based nearest rank of the `p`-th percentile among `n` samples. */
  def rank(n: Int, p: Double): Int =
    math.max(1, math.min(n, math.ceil(p / 100.0 * n - 1e-9).toInt))

  /** Nearest-rank percentile of unsorted samples. */
  def percentile(samples: Array[Double], p: Double): Double = {
    require(samples.nonEmpty, "percentile of no samples")
    val s = samples.sorted
    s(rank(s.length, p) - 1)
  }

  def median(samples: Array[Double]): Double = {
    require(samples.nonEmpty, "median of no samples")
    val s = samples.sorted
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** A tail figure together with the percentile it really is and the
    * number of samples it rests on.
    */
  final case class Tail(value: Double, percentile: Double, samples: Int)

  /** The requested tail percentile under the percentile rule; None when
    * there are too few samples for any tail.
    */
  def tail(samples: Array[Double], requested: Double): Option[Tail] =
    tailPercentile(samples.length, requested).map(p =>
      Tail(percentile(samples, p), p, samples.length))

  /** The mean of the samples beyond the tail percentile `tail` would report
    * (at least `MinBeyond` of them). Unlike the percentile itself, one
    * sample crossing a gap in the distribution moves it by a fraction of
    * the gap, not by all of it.
    */
  def tailMean(samples: Array[Double], requested: Double): Option[Tail] =
    tailPercentile(samples.length, requested).map { p =>
      val beyondIt = samples.sorted.drop(rank(samples.length, p))
      Tail(beyondIt.sum / beyondIt.length, p, samples.length)
    }
}
