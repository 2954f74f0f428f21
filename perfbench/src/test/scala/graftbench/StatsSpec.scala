package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tail: the highest percentile with at least 10 samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tail(xs).contains((90.0, 90.0)))
    assert(xs.count(_ > 90.0) == 10)
    // 11 samples: only the smallest has 10 beyond it.
    assert(Stats.tail((1 to 11).map(_.toDouble)).contains((1.0, 100.0 / 11)))
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    // Order of the input does not matter.
    assert(Stats.tail(xs.reverse) == Stats.tail(xs))
  }

  test("median of odd and even samples") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("driver gap: wall minus the union of overlapping job intervals") {
    // Jobs [10,30) and [20,40) overlap: union 30; [50,60) adds 10.
    assert(Stats.driverGap(0, 100, Seq((10L, 30L), (20L, 40L), (50L, 60L))) == 60)
    // A job nested in another adds nothing; touching intervals join.
    assert(Stats.driverGap(0, 100, Seq((10L, 50L), (20L, 30L), (50L, 70L))) == 40)
    // Parts of jobs outside the request are not counted.
    assert(Stats.driverGap(10, 20, Seq((0L, 15L), (18L, 30L))) == 3)
    assert(Stats.driverGap(0, 100, Nil) == 100)
  }
}
