package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private val xs = (1 to 100).map(_.toDouble)

  test("nearest-rank percentiles") {
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.percentile(xs, 100) == 100.0)
    assert(Stats.percentile(Seq(3.0, 1.0, 2.0), 50) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.0)
    assert(Stats.percentile(Seq(7.0), 99) == 7.0)
  }

  test("tail percentile: the highest with at least ten samples beyond it") {
    assert(Stats.tailPercentile(99).isEmpty)
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.beyond(100, 90) == 10)
    assert(Stats.tailPercentile(999).contains(90.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(10000).contains(99.9))
  }
}
