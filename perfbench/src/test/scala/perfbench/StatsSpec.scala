package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tail is the highest ladder percentile with at least 10 samples beyond it") {
    assert(Stats.tailPct(5) == 50.0)
    assert(Stats.tailPct(19) == 50.0)
    assert(Stats.tailPct(20) == 50.0)
    assert(Stats.tailPct(39) == 50.0)
    assert(Stats.tailPct(40) == 75.0)
    assert(Stats.tailPct(99) == 75.0)
    assert(Stats.tailPct(100) == 90.0)
    assert(Stats.tailPct(200) == 95.0)
    assert(Stats.tailPct(1000) == 99.0)
    assert(Stats.tailPct(10000) == 99.9)
  }

  test("tail value reads the interpolated percentile") {
    val xs = (1 to 40).map(_.toDouble)
    val (p, v) = Stats.tail(xs.reverse)
    assert(p == 75.0)
    assert(math.abs(v - 30.25) < 1e-9)
  }

  test("median interpolates between the middle samples") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Stats.percentile(Seq(5.0), 99.0) == 5.0)
  }
}
