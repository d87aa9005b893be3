package graftbench

import org.scalatest.funsuite.AnyFunSuite

class DueScheduleSpec extends AnyFunSuite {
  private val rates = Seq(1, 7, 1000, 8000, 16007, 64000, 999999)

  test("every event gets its own microsecond and its id back from it") {
    for (rate <- rates) {
      val s = DueSchedule(1700000000123456L, rate)
      val ids = (0L until 5000L) ++ Seq(123456789L, 1L << 33)
      ids.foreach { i =>
        assert(s.idOf(s.dueUs(i)) == i, s"rate $rate id $i")
        assert(s.dueUs(i + 1) > s.dueUs(i))
      }
    }
  }

  test("event i is due i / rate seconds after the start, rounded down to the microsecond") {
    val s = DueSchedule(0L, 8000)
    assert(s.dueUs(0) == 0L && s.dueUs(1) == 125L && s.dueUs(8000) == 1000000L)
    val t = DueSchedule(10L, 3)
    assert(Seq(0L, 1L, 2L, 3L).map(t.dueUs) == Seq(10L, 333343L, 666676L, 1000010L))
  }

  test("dueBy counts exactly the events due at or before a time") {
    for (rate <- rates.filter(_ <= 64000)) {
      val s = DueSchedule(500L, rate)
      val dues = (0L until 3000L).map(s.dueUs)
      for (now <- Seq(0L, 499L, 500L, 501L, 625L, 10000L, dues(1234), dues(1234) - 1, dues(2999))) {
        assert(s.dueBy(now) == dues.count(_ <= now), s"rate $rate now $now")
      }
    }
  }

  test("wall-clock timestamps keep the microseconds") {
    val us = 1700000000123456L
    assert(WallClock.micros(WallClock.timestamp(us)) == us)
    assert(WallClock.micros(WallClock.timestamp(-1L)) == -1L)
  }
}
