package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("the tail percentile is the highest one with at least ten samples beyond it") {
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(99).contains(75.0))
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(39).contains(50.0))
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
  }

  test("too few samples give no tail percentile") {
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(0).isEmpty)
  }

  test("percentiles use the nearest rank") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 90.0) == 90.0)
    assert(Stats.percentile(xs.reverse, 50.0) == 50.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }
}
