package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  // expected values are Python's statistics.quantiles(xs, n=4) and median(xs)
  test("quartiles match Python's exclusive method") {
    assert(Stats.quartiles((1 to 10).map(_.toDouble)) == ((2.75, 5.5, 8.25)))
    assert(Stats.quartiles(Seq(3.5, 1.25, 9.0)) == ((1.25, 3.5, 9.0)))
    assert(Stats.quartiles(Seq(2.0, 2.0)) == ((2.0, 2.0, 2.0)))
    assert(Stats.quartiles(Seq(10, 1, 7, 3, 8, 2, 9, 4, 6, 5, 11).map(_.toDouble)) == ((3.0, 6.0, 9.0)))
    assertThrows[IllegalArgumentException](Stats.quartiles(Seq(1.0)))
  }

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0)) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0)) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assertThrows[IllegalArgumentException](Stats.median(Nil))
  }
}
