package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  import Stats._

  test("percentiles interpolate between order statistics") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(median(xs) == 2.5)
    assert(median(Seq(5.0, 1.0, 3.0)) == 3.0)
    assert(percentile(xs, 0.0) == 1.0 && percentile(xs, 1.0) == 4.0)
    assert(math.abs(percentile((1 to 11).map(_.toDouble), 0.9) - 10.0) < 1e-12)
    intercept[IllegalArgumentException](percentile(Nil, 0.5))
  }

  test("fail ratio counts failed ops against attempted ops") {
    assert(failRatio(10, 0) == 0.0)
    assert(failRatio(8, 2) == 0.25)
    assert(failRatio(0, 0) == 1.0)
  }
}
