package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("a tail percentile keeps at least ten samples beyond it") {
    for (n <- 11 to 3000; req <- Seq(80.0, 90.0, 99.0)) {
      val p = Stats.tailPercentile(n, req).get
      assert(p <= req)
      assert(Stats.beyond(n, p) >= Stats.MinBeyond, s"n=$n req=$req p=$p")
    }
  }

  test("the requested percentile is kept when there are enough samples") {
    assert(Stats.tailPercentile(100, 90).contains(90.0))
    assert(Stats.tailPercentile(50, 80).contains(80.0))
    assert(Stats.tailPercentile(1000, 99).contains(99.0))
  }

  test("with too few samples the highest qualifying percentile is reported") {
    val p = Stats.tailPercentile(99, 90).get
    assert(p < 90 && Stats.beyond(99, p) == 10)
    assert(Stats.tailPercentile(960, 99).exists(x => x > 98.9 && x < 99))
    assert(Stats.tailPercentile(10, 50).isEmpty)
  }

  test("a tail reports its percentile and sample count") {
    val xs = (1 to 60).map(_.toDouble).toArray
    val t = Stats.tail(xs, 80).get
    assert(t == Stats.Tail(48.0, 80.0, 60))
    assert(Stats.tail(xs.take(10), 80).isEmpty)
  }

  test("a tail mean averages the samples beyond the tail percentile") {
    val xs = (1 to 34).map(_.toDouble).toArray
    val t = Stats.tailMean(xs, 90).get
    assert(t.percentile < 71 && t.samples == 34)
    assert(t.value == (25 to 34).sum / 10.0)
    assert(Stats.tailMean(xs.take(10), 90).isEmpty)
  }

  test("a tail mean moves by a fraction of a gap that the percentile jumps") {
    // 24 light samples and 10 heavy ones: the p70 is the slowest light one
    val light = Array.fill(24)(400.0)
    val heavy = Array.fill(10)(700.0)
    val jumped = light.updated(0, 720.0)
    val p0 = Stats.tail(light ++ heavy, 70).get.value
    val p1 = Stats.tail(jumped ++ heavy, 70).get.value
    val m0 = Stats.tailMean(light ++ heavy, 70).get.value
    val m1 = Stats.tailMean(jumped ++ heavy, 70).get.value
    assert(p1 - p0 == 300.0)
    assert(m1 - m0 == 2.0)
  }

  test("nearest-rank percentiles and the median") {
    val xs = Array(5.0, 1.0, 4.0, 2.0, 3.0)
    assert(Stats.percentile(xs, 50) == 3.0)
    assert(Stats.percentile(xs, 100) == 5.0)
    assert(Stats.percentile(xs, 1) == 1.0)
    assert(Stats.percentile((1 to 100).map(_.toDouble).toArray, 90) == 90.0)
    assert(Stats.median(Array(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }
}
