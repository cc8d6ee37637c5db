package replbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  import Stats._

  test("percentile interpolates linearly between ranks (R-7)") {
    val xs = Seq(1.0, 2.0, 3.0, 4.0)
    assert(percentile(xs, 0) == 1.0)
    assert(percentile(xs, 100) == 4.0)
    assert(percentile(xs, 50) == 2.5)
    assert(math.abs(percentile(xs, 90) - 3.7) < 1e-12)
    assert(median(Seq(5.0, 1.0, 3.0)) == 3.0)
    assert(percentile(Seq(7.0), 99) == 7.0)
  }

  test("percentile agrees with Python's statistics.quantiles(method='inclusive')") {
    val xs = (1 to 10).map(i => (i * i).toDouble)
    // quantiles(xs, n=4, method='inclusive') == [10.75, 30.5, 60.25]
    assert(percentile(xs, 25) == 10.75)
    assert(percentile(xs, 50) == 30.5)
    assert(percentile(xs, 75) == 60.25)
  }

  test("percentile refuses an empty sample and an out-of-range q") {
    intercept[IllegalArgumentException](percentile(Nil, 50))
    intercept[IllegalArgumentException](percentile(Seq(1.0), 101))
  }

  test("tail rule: the highest percentile that leaves at least 10 samples beyond it") {
    assert(beyond(100, 90) == 10)
    assert(beyond(99, 90) == 9)
    assert(tailPercentile(100).contains(90))
    assert(tailPercentile(99).contains(75))
    assert(tailPercentile(200).contains(95))
    assert(tailPercentile(1000).contains(99))
    assert(tailPercentile(10000).contains(99.9))
    assert(tailPercentile(40).contains(75))
    assert(tailPercentile(20).contains(50))
    assert(tailPercentile(19).isEmpty)
  }

  test("open-loop schedule: due times are fixed by the rate, not by completions") {
    val s = Schedule(4.0)
    assert(s.dueS(0) == 0.0 && s.dueS(1) == 0.25 && s.dueS(8) == 2.0)
    assert(s.dueBy(-0.1) == 0)
    assert(s.dueBy(0.0) == 1)
    assert(s.dueBy(0.24) == 1)
    assert(s.dueBy(0.25) == 2)
    assert(s.dueBy(2.0) == 9)
    assert(s.dueBefore(0.0) == 0)
    assert(s.dueBefore(0.25) == 1)
    assert(s.dueBefore(0.26) == 2)
    assert(s.dueBefore(2.0) == 8)
    // 10 s at 1.2/s issues exactly 12 (10 * 1.2 is 12.000000000000002 in floating point)
    assert(Schedule(1.2).dueBefore(10.0) == 12)
    assert(Schedule(0.7).dueBefore(10.0) == 7)
    intercept[IllegalArgumentException](Schedule(0))
  }

  test("over capacity only when the backlog keeps growing") {
    assert(!overCapacity(Seq(0L, 3, 1, 2, 0, 1, 2, 1, 0), slack = 5))
    assert(overCapacity((0L until 30L).map(_ * 10), slack = 5))
    // a burst that drains is not a growing queue
    assert(!overCapacity(Seq(0L, 0, 0, 40, 30, 20, 0, 0, 0), slack = 5))
    assert(overCapacity(Seq(1L, 50), slack = 5))
    assert(!overCapacity(Seq(1L, 2), slack = 5))
  }

  test("covered length merges overlapping intervals and clips to the window") {
    assert(covered(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0, 100) == 25)
    assert(covered(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 8, 25) == 12)
    assert(covered(Seq((3L, 4L), (0L, 10L)), 0, 100) == 10)
    assert(covered(Nil, 0, 100) == 0)
    assert(covered(Seq((50L, 40L)), 0, 100) == 0)
  }

  test("self time is the span minus the part its children cover") {
    val root = Span(1, "apply", 0, 100, 0, 7)
    val a = Span(2, "merge", 10, 40, 1, 7)
    val b = Span(3, "write", 30, 60, 1, 7) // overlaps a: covered 10..60
    val leaf = Span(4, "job", 12, 20, 2, 7) // grandchild: counts against a, not root
    val self = selfTimes(Seq(root, a, b, leaf))
    assert(self(1) == 50)
    assert(self(2) == 22)
    assert(self(3) == 30)
    assert(self(4) == 8)
  }
}
