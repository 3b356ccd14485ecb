package e2ebench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("no tail below eleven ops") {
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
  }

  test("tail percentile keeps exactly ten ops beyond it") {
    // 11 ops: the lowest value, with the other ten above it
    assert(Stats.tail((1 to 11).map(_.toDouble)).contains((100.0 / 11, 1.0, 11)))
    assert(Stats.tail((1 to 20).map(_.toDouble)).contains((50.0, 10.0, 20)))
    assert(Stats.tail((1 to 100).map(_.toDouble)).contains((90.0, 90.0, 100)))
    assert(Stats.tail((1 to 1000).reverse.map(_.toDouble)).contains((99.0, 990.0, 1000)))
  }
}
