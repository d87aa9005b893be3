package graftbench

import org.scalatest.funsuite.AnyFunSuite

class SteadySpec extends AnyFunSuite {
  private val rate = 100

  /** The first second at which the rule stops a step whose event `i`
    * has latency `ms(i)` (or None within `capS`).
    */
  private def stopsAt(ms: Int => Double, capS: Int = 60): Option[Int] =
    (1 to capS).find(s => Steady.reached(ms, rate, s))

  private def noise(i: Int) = 20.0 * math.sin(i * 0.7)

  test("a flat latency is steady as soon as the rule can be evaluated") {
    assert(stopsAt(i => 300.0 + noise(i)).contains(Steady.MinS))
  }

  test("a falling latency is not steady until it flattens") {
    // 5 s of cold start decaying with a 4 s time constant onto 300 ms
    val ms = (i: Int) => 300.0 + 5000.0 * math.exp(-i.toDouble / rate / 4.0) + noise(i)
    val s = stopsAt(ms).get
    assert(s > Steady.MinS)
    // by then what is left of the cold start is within the tolerance
    assert(5000.0 * math.exp(-s / 4.0) < Steady.Tolerance * 300.0)
  }

  test("a cold topic's sawtooth is not steady") {
    // one slow trigger every 6 s delivers everything due since the last one
    val ms = (i: Int) => { val t = i.toDouble / rate; 1200.0 + 1000.0 * (6.0 - t % 6.0) }
    assert(stopsAt(ms).isEmpty)
  }

  test("events never delivered are ignored; a window of none is not steady") {
    val filtered = (i: Int) => if (i % 2 == 0) Double.NaN else 300.0
    assert(stopsAt(filtered).contains(Steady.MinS))
    assert(stopsAt(_ => Double.NaN).isEmpty)
  }

  test("a backlog is not steady: waiting time counts, and rising latency is not flat") {
    // nothing delivered yet: each event has waited since it was due
    val now = 30.0
    val waited = (i: Int) => (now - i.toDouble / rate) * 1000.0
    assert(!Steady.reached(waited, rate, 30))
    // a queue growing by a fifth of the input rate
    assert(stopsAt(i => 300.0 + 200.0 * i / rate).isEmpty)
  }

  test("the slope is least squares against the index") {
    assert(Steady.slope(Seq(1.0, 3.0, 5.0, 7.0)) == 2.0)
    assert(Steady.slope(Seq(4.0, 4.0, 4.0)) == 0.0)
  }
}
