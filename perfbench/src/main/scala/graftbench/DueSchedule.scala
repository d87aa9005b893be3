package graftbench

/** Due times of an open-loop generator: event `i` of a step at `rate`
  * events/s is due at `t0Us + floor(i * 1e6 / rate)` microseconds. Below
  * 1e6 events/s every event gets its own microsecond, so an event's id can
  * be recovered from its due stamp alone.
  */
final case class DueSchedule(t0Us: Long, rate: Int) {
  require(rate > 0 && rate < 1000000, s"rate $rate outside (0, 1e6)")

  def dueUs(i: Long): Long = t0Us + i * 1000000L / rate

  /** The id whose due time is `dueUs` (the inverse of `dueUs`). */
  def idOf(dueUs: Long): Long = {
    val d = dueUs - t0Us
    (d * rate + 999999L) / 1000000L
  }

  /** How many events are due at or before `nowUs`. */
  def dueBy(nowUs: Long): Long =
    if (nowUs < t0Us) 0L
    else ((nowUs - t0Us + 1) * rate + 999999L) / 1000000L
}

/** Wall-clock microseconds since the epoch with nanoTime resolution. */
object WallClock {
  private val epochNs0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  def nowUs: Long = (epochNs0 + (System.nanoTime() - nano0)) / 1000L

  def timestamp(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000L))
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  def micros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
}
