package graftbench

import java.util.concurrent.locks.LockSupport

import org.apache.spark.sql.SparkSession

import graft.core.{EventEnvelope, Stamp}
import graft.streaming.{CountingWindowPolicy, PubSub, TypedOps, WindowBatch}

/** One rate step of the pub/sub workload: a fresh typed topic, the two live
  * subscriptions (`deliver`: greater(Threshold) then subscribe; `window`:
  * subscribeBatch with counting windows), and an open-loop generator that
  * publishes seeded uniform readings in fixed ticks. The step first loads
  * the topic until delivery latency is steady (`Steady`), for at most
  * `warmupCapS` seconds, then publishes `measureEvents` more events, the
  * measured ones. Every delivery and every window is checked against what
  * the generator predicts.
  */
final class PubSubStep(spark: SparkSession, ps: PubSub, name: String,
    rate: Int, seed: Long, warmupCapS: Int, measureEvents: Int) {
  import PubSubStep._

  // room for the longest warm-up, plus a second for generator lateness
  private val events = (if (warmupCapS == 0) 0 else (warmupCapS + 1) * rate) + measureEvents
  private val rng = new java.util.SplittableRandom(seed)
  private val readings = Array.fill(events)(rng.nextDouble())
  // reading bits -> id, for mapping a window's contents back to events
  private val idByReading = {
    val m = new java.util.HashMap[java.lang.Long, Integer](events * 2)
    var i = 0
    while (i < events) {
      m.put(java.lang.Double.doubleToLongBits(readings(i)), i); i += 1
    }
    m
  }

  @volatile private var schedule: DueSchedule = _
  // per-id delivery latency (NaN = not delivered); per-window latency
  val deliverMs: Array[Double] = Array.fill(events)(Double.NaN)
  val windowMs: Array[Double] = Array.fill(events / WindowSize)(Double.NaN)
  @volatile private var deliveredHigh = -1L
  @volatile private var nextWindow = 0L
  private var deliverWrong = 0L
  private var windowWrong = 0L
  private val windowClaimed = new java.util.BitSet(events)
  private val problems = collection.mutable.ArrayBuffer.empty[String]

  private def problem(s: String): Unit = synchronized {
    if (problems.size < 20) problems += s
  }

  private def onDeliver(rows: Seq[EventEnvelope[Double]]): Unit = {
    val now = WallClock.nowUs
    val sch = schedule
    rows.foreach { e =>
      val due = WallClock.micros(e.stamp.start_time)
      val id = sch.idOf(due)
      if (id < 0 || id >= events || sch.dueUs(id) != due) {
        deliverWrong += 1; problem(s"deliver: unknown due stamp $due")
      } else {
        val i = id.toInt
        if (readings(i) != e.content || e.content <= Threshold) {
          deliverWrong += 1; problem(s"deliver: wrong content for id $i")
        } else if (!deliverMs(i).isNaN) {
          deliverWrong += 1; problem(s"deliver: duplicate id $i")
        } else {
          deliverMs(i) = (now - due) / 1000.0
          if (id > deliveredHigh) deliveredHigh = id
        }
      }
    }
  }

  private def onWindow(w: WindowBatch[Double]): Unit = {
    val now = WallClock.nowUs
    val sch = schedule
    val n = WindowSize
    val lo = w.windowId * n
    val hi = lo + n - 1
    def bad(msg: String): Unit = { windowWrong += 1; problem(s"window ${w.windowId}: $msg") }
    if (w.windowId != nextWindow) bad(s"expected window $nextWindow")
    else if (hi >= events) bad("window beyond the published events")
    else if (w.events.size != n) bad(s"${w.events.size} events, expected $n")
    else {
      // The window operator orders events by millisecond, so events that
      // share the boundary millisecond may fall on either side; the check
      // is exact everywhere else.
      val kLo = sch.dueUs(lo) / 1000
      val kHi = sch.dueUs(hi) / 1000
      val ids = w.events.map(r => idByReading.get(java.lang.Double.doubleToLongBits(r)))
      val startMs = WallClock.micros(w.stamp.start_time) / 1000
      val endMs = WallClock.micros(w.stamp.end_time) / 1000
      if (startMs != kLo || endMs != kHi) bad("stamp bounds differ from the prediction")
      else if (ids.exists(_ == null)) bad("a reading that was never published")
      else {
        val set = ids.map(_.intValue).toSet
        val inBand = set.forall { i => val k = sch.dueUs(i) / 1000; k >= kLo && k <= kHi }
        val innerPresent = (lo to hi).forall { i =>
          val k = sch.dueUs(i) / 1000
          k == kLo || k == kHi || set.contains(i.toInt)
        }
        val fresh = set.size == n && set.forall(i => !windowClaimed.get(i))
        if (!inBand || !innerPresent || !fresh) bad("contents differ from the prediction")
        else {
          set.foreach(i => windowClaimed.set(i))
          windowMs(w.windowId.toInt) = (now - WallClock.micros(w.stamp.end_time)) / 1000.0
        }
      }
    }
    nextWindow = w.windowId + 1
  }

  /** Event `i`'s delivery latency so far at `nowUs`: the measured one once
    * delivered, the time it has waited until then, NaN if it is filtered out.
    */
  private def latencySoFar(nowUs: Long)(i: Int): Double =
    if (readings(i) <= Threshold) Double.NaN
    else if (!deliverMs(i).isNaN) deliverMs(i)
    else (nowUs - schedule.dueUs(i)) / 1000.0

  /** Publish on schedule through the warm-up and the measured events, wait
    * for both subscriptions to deliver everything, release the topic and
    * return the step's figures.
    */
  def run(): StepResult = {
    val pub = ps.registerPublisher[Double](name)
    val topic = ps.topic[Double](name)
    val before = spark.streams.active.map(_.id).toSet
    val filtered = TypedOps.greater(Threshold).apply(topic.stream)
    val deliver = ps.subscribe(filtered)(onDeliver _)
    val deliverId = (spark.streams.active.map(_.id).toSet -- before).head
    val window = ps.subscribeBatch(topic.stream,
      CountingWindowPolicy(WindowSize, WindowSize))(onWindow _)
    val windowId = (spark.streams.active.map(_.id).toSet -- before - deliverId).head
    awaitIdle(spark, Seq(deliverId, windowId))

    val order = new java.util.SplittableRandom(seed * 31 + 7)
    val ticks = (events.toLong * 1000 / rate / TickMs + 2).toInt
    val publishMs = new Array[Double](ticks)
    val publishAtUs = new Array[Long](ticks)
    val lateMs = new Array[Double](ticks)
    val backlog = new Array[Long](ticks)
    val tickUs = TickMs * 1000L
    val ticksPerS = 1000 / TickMs
    val t0 = WallClock.nowUs + tickUs
    schedule = DueSchedule(t0, rate)
    val wall0 = System.nanoTime()
    var published = 0
    var tick = 0
    // the warm-up publishes until steady; then `limit` ends the step
    var limit = events
    var measureFrom = if (warmupCapS == 0) 0 else -1
    var measureTick = if (warmupCapS == 0) 0 else -1
    while (published < limit) {
      val at = t0 + tick * tickUs
      var wait = at - WallClock.nowUs
      while (wait > 0) { LockSupport.parkNanos(wait * 1000L); wait = at - WallClock.nowUs }
      val now = WallClock.nowUs
      val upTo = math.min(limit.toLong, schedule.dueBy(now)).toInt
      if (upTo > published) {
        val batch = tickBatch(published, upTo, order)
        val p0 = System.nanoTime()
        publishAtUs(tick) = WallClock.nowUs
        pub.publish(batch)
        publishMs(tick) = (System.nanoTime() - p0) / 1e6
      }
      lateMs(tick) = (now - at) / 1000.0
      backlog(tick) = upTo - math.min(deliveredHigh + 1, nextWindow * WindowSize)
      published = upTo
      tick += 1
      if (measureFrom < 0 && tick % ticksPerS == 0) {
        val s = tick / ticksPerS
        if (s >= warmupCapS || Steady.reached(latencySoFar(WallClock.nowUs), rate, s)) {
          measureFrom = (published + WindowSize - 1) / WindowSize * WindowSize
          limit = measureFrom + measureEvents
          measureTick = tick
        }
      }
    }
    deliver.drain()
    window.drain()
    val drainedS = (System.nanoTime() - wall0) / 1e9
    deliver.close()
    window.close()
    pub.close()
    val released = ps.topicCount == 0 && ps.subscriptionCount == 0
    if (!released) problem("topic or subscriptions still registered after close")

    val expectedDeliveries = readings.take(limit).count(_ > Threshold)
    val expectedWindows = limit / WindowSize
    val delivered = deliverMs.count(!_.isNaN)
    val windows = windowMs.count(!_.isNaN)
    val lost = (expectedDeliveries - delivered).max(0) + (expectedWindows - windows).max(0)
    if (lost > 0) problem(s"lost: ${expectedDeliveries - delivered} deliveries, " +
      s"${expectedWindows - windows} windows")
    val publishTicks = (measureTick until tick).filter(publishAtUs(_) > 0)
    StepResult(rate, limit, measureFrom, deliverMs.take(limit), windowMs.take(expectedWindows),
      publishTicks.map(publishMs).toArray, publishTicks.map(publishAtUs).toArray,
      lateMs.slice(measureTick, tick), backlog.slice(measureTick, tick),
      attempted = limit.toLong + expectedWindows,
      failed = deliverWrong + windowWrong + lost + (if (released) 0 else 1),
      problems = problems.toList, startUs = t0, measureStartUs = schedule.dueUs(measureFrom),
      drainS = drainedS, deliverQuery = deliverId, windowQuery = windowId)
  }

  /** The events of ids [from, until) in publish order: due order with a
    * seeded share of them displaced within the tick.
    */
  private def tickBatch(from: Int, until: Int,
      order: java.util.SplittableRandom): Seq[EventEnvelope[Double]] = {
    val ids = Array.range(from, until)
    var j = 0
    while (j < ids.length) {
      if (order.nextDouble() < OutOfOrderShare) {
        val k = order.nextInt(ids.length)
        val t = ids(j); ids(j) = ids(k); ids(k) = t
      }
      j += 1
    }
    ids.toSeq.map { i =>
      val ts = WallClock.timestamp(schedule.dueUs(i))
      EventEnvelope(Stamp(ts, ts, Map.empty), readings(i))
    }
  }
}

object PubSubStep {
  /** The `deliver` subscription's filter: readings above it are delivered. */
  val Threshold = 0.5
  /** Events per counting window (the window also slides by this many). */
  val WindowSize = 100
  /** Publish interval. Every publish call becomes one input partition of
    * each subscription's next micro-batch, so the tick sets the tasks per
    * trigger. At 10 ms ticks a trigger's stage ran ~25 tasks, the 4 cores
    * were ~70% busy, and two busy loops beside the JVM turned a 0.2 s
    * delivery p50 into swings of several seconds; at 100 ms a stage runs
    * ~3 tasks and the same load about doubles the p50 instead.
    */
  val TickMs = 100
  /** Share of a tick's events displaced within the tick. */
  val OutOfOrderShare = 0.1

  /** A step's figures. The per-event arrays cover the whole step (warm-up
    * included; the measured events are the ids from `measureFrom`); the
    * per-tick arrays cover the measured ticks only.
    */
  final case class StepResult(
      rate: Int,
      events: Int,
      measureFrom: Int,
      deliverMs: Array[Double],
      windowMs: Array[Double],
      publishMs: Array[Double],
      publishAtUs: Array[Long],
      lateMs: Array[Double],
      backlog: Array[Long],
      attempted: Long,
      failed: Long,
      problems: List[String],
      startUs: Long,
      measureStartUs: Long,
      drainS: Double,
      deliverQuery: java.util.UUID,
      windowQuery: java.util.UUID)

  /** Wait until the given streaming queries have started and are idle. */
  def awaitIdle(spark: SparkSession, ids: Seq[java.util.UUID]): Unit = {
    val deadline = System.nanoTime() + 30L * 1000000000L
    def idle(id: java.util.UUID) = Option(spark.streams.get(id)).exists { q =>
      !q.status.isTriggerActive && q.status.message.startsWith("Waiting for data")
    }
    while (!ids.forall(idle)) {
      if (System.nanoTime() > deadline)
        throw new IllegalStateException("subscriptions did not start within 30 s")
      Thread.sleep(5)
    }
  }
}
