package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.streaming.PubSub

/** The streaming-plane workload, three steps at the nominal rate and
  * above. The JIT warm-up: `JitWarmupS` seconds of load on a throwaway
  * topic. Warming on the measured topic instead kept it (at 10 ms ticks)
  * in the cold start's sawtooth (one slow trigger delivering seconds of events at
  * once) for 25 s to well over 40 s; a fresh topic on a warm JVM starts
  * without it. The latency step: a fresh topic loaded until its delivery
  * latency is steady (`Steady`, at most `SteadyCapS` seconds), then
  * measured. The overload step: the events/s the topic delivers when
  * offered more than it can take. Each step is a fresh topic, released
  * through the public lifecycle when it ends.
  */
final class PubSubWorkload(spark: SparkSession, seed: Long) {
  import PubSubWorkload._

  private val ps = new PubSub(spark)
  val results = mutable.ArrayBuffer.empty[(String, PubSubStep.StepResult)]

  private def step(kind: String, rate: Int, warmupCapS: Int, measureEvents: Int) = {
    val s = new PubSubStep(spark, ps, s"readings-${results.size}", rate,
      seed * 1000003L + results.size, warmupCapS, measureEvents)
    val r = s.run()
    results += kind -> r
    r
  }

  def jitWarmup(): PubSubStep.StepResult =
    step("warmup", NominalRate, 0, NominalRate * JitWarmupS)

  /** The latency step: load until steady, then `seconds` of measured events. */
  def nominal(seconds: Double): PubSubStep.StepResult = {
    val windows = math.max(1L, math.round(NominalRate * seconds / PubSubStep.WindowSize))
    step("nominal", NominalRate, SteadyCapS, (windows * PubSubStep.WindowSize).toInt)
  }

  /** Events/s the topic delivers through both subscriptions when offered
    * more than it can take: a fixed burst of `OverloadEvents` published
    * open-loop at `OverloadRate`, divided by the time until both
    * subscriptions have drained it.
    */
  def overload(): Double = {
    val r = step("overload", OverloadRate, 0, OverloadEvents)
    r.events / r.drainS
  }
}

object PubSubWorkload {
  val NominalRate = 8000
  val JitWarmupS = 12
  /** The latency step's longest warm-up, if its latency is not steady sooner. */
  val SteadyCapS = 20
  val OverloadRate = 100000
  val OverloadEvents = 200000
}
