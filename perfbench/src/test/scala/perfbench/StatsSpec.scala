package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("the tail is the highest percentile with at least 10 samples beyond it") {
    val xs = (1 to 100).map(_.toDouble).reverse
    val t = Stats.tail(xs)
    assert(t.value == 90.0)
    assert(t.percentile == 90.0)
    assert(t.beyond == 10)
    assert(xs.count(_ > t.value) == 10)
    val u = Stats.tail((1 to 30).map(_.toDouble))
    assert(u.value == 20.0 && u.beyond == 10)
  }

  test("with too few samples for a tail beyond the median, the median is reported") {
    val t = Stats.tail((1 to 15).map(_.toDouble))
    assert(t.value == 8.0 && t.percentile == 50.0 && t.beyond == 7)
    assert(Stats.tail(Seq(3.0, 1.0)).value == 2.0)
  }

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }
}
