package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("geometric mean") {
    assert(math.abs(Stats.geomean(Seq(1.0, 100.0)) - 10.0) < 1e-9)
    assert(math.abs(Stats.geomean(Seq(4.0, 4.0, 4.0)) - 4.0) < 1e-9)
  }

  test("nearest-rank percentile picks an actual sample") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.nearestRank(xs, 0.9) == 90.0)
    assert(Stats.nearestRank(xs, 0.5) == 50.0)
    assert(Stats.nearestRank(Seq(7.0), 0.9) == 7.0)
  }

  test("a p90 is kept only with at least ten samples beyond it") {
    val xs99 = (1 to 99).map(_.toDouble)
    val xs100 = (1 to 100).map(_.toDouble)
    assert(Stats.beyond(99, 0.9) == 9)
    assert(Stats.tailPercentile(xs99, 0.9).isEmpty)
    assert(Stats.beyond(100, 0.9) == 10)
    assert(Stats.tailPercentile(xs100, 0.9).contains(90.0))
    assert(Stats.tailPercentile(Nil, 0.9).isEmpty)
    // a p50 needs only 20 samples for ten beyond it
    assert(Stats.tailPercentile((1 to 20).map(_.toDouble), 0.5).contains(10.0))
    assert(Stats.tailPercentile((1 to 19).map(_.toDouble), 0.5).isEmpty)
  }

  test("least-squares slope") {
    val xs = Seq(1.0, 2.0, 3.0, 4.0)
    assert(math.abs(Stats.slope(xs, xs.map(x => 3 * x + 1)) - 3.0) < 1e-12)
    assert(Stats.slope(Seq(1.0, 1.0), Seq(2.0, 5.0)) == 0.0)
    assert(Stats.slope(Seq(1.0), Seq(2.0)) == 0.0)
  }
}
