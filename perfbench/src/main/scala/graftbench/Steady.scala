package graftbench

/** When the latency step's warm-up ends: once its delivery latency is
  * steady. Take the median latency of the events due in each second. Over
  * the last `WindowS` seconds (less a `LagS` lag, so that their deliveries
  * have had time to arrive) those medians must be flat, their least-squares
  * slope within `MaxSlopeMsPerS`, and their median no more than `Tolerance`
  * below that of the `WindowS` seconds before: latency has stopped
  * falling. The flatness test rejects the sawtooth of a cold topic, where
  * one slow trigger delivers seconds of events at once, so that latency
  * falls by a second per second between jumps. An event not yet delivered
  * counts with the time it has waited so far, so a backlog reads as high
  * latency and never as none.
  */
object Steady {
  val WindowS = 4
  val LagS = 1
  val MaxSlopeMsPerS = 100.0
  val Tolerance = 0.05
  /** The first second at which the rule can be evaluated. */
  val MinS: Int = LagS + 2 * WindowS

  /** Whether latency is steady `elapsedS` seconds into a step whose events
    * are due at `rate` per second. `latencyMs(i)` is event `i`'s latency
    * so far, NaN for an event that is never delivered.
    */
  def reached(latencyMs: Int => Double, rate: Int, elapsedS: Int): Boolean =
    elapsedS >= MinS && {
      val from = elapsedS - LagS - 2 * WindowS
      val perSecond = (from until elapsedS - LagS).map { s =>
        val x = (s * rate until (s + 1) * rate).map(latencyMs).filter(!_.isNaN).toArray
        if (x.isEmpty) Double.NaN else Stats.median(x)
      }
      val (before, recent) = perSecond.splitAt(WindowS)
      !perSecond.exists(_.isNaN) && math.abs(slope(recent)) <= MaxSlopeMsPerS &&
        Stats.median(recent.toArray) >= (1 - Tolerance) * Stats.median(before.toArray)
    }

  /** Least-squares slope of `y` against its index. */
  def slope(y: Seq[Double]): Double = {
    val xm = (y.size - 1) / 2.0
    val ym = y.sum / y.size
    y.indices.map(i => (i - xm) * (y(i) - ym)).sum / y.indices.map(i => (i - xm) * (i - xm)).sum
  }
}
