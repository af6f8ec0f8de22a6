package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("p90 is read only with at least ten samples beyond it") {
    assert(Stats.supportedPercentile(100, 90) == 90.0)
    assert(Stats.supportedPercentile(1000, 90) == 90.0)
    assert(Stats.supportedPercentile(50, 90) == 80.0)
    assert(Stats.supportedPercentile(40, 90) == 75.0)
    assert(Stats.supportedPercentile(20, 90) == 50.0)
    // below twenty samples no tail is readable: the median is the floor
    assert(Stats.supportedPercentile(19, 90) == 50.0)
    assert(Stats.supportedPercentile(0, 90) == 50.0)
  }

  test("the supported percentile always leaves ten samples above it") {
    for (n <- 20 to 400) {
      val p = Stats.supportedPercentile(n, 90)
      assert(n * (1.0 - p / 100.0) >= Stats.TailSamples - 1e-9, s"n=$n p=$p")
    }
  }

  test("percentiles interpolate linearly over sorted samples") {
    val xs = (1 to 101).map(_.toDouble).reverse
    assert(Stats.median(xs) == 51.0)
    assert(Stats.percentile(xs, 90) == 91.0)
    assert(Stats.tail(xs) == ((90.0, 91.0)))
    assert(Stats.tail(xs.take(50))._1 == 80.0)
    assert(Stats.percentile(Seq(1.0, 2.0), 50) == 1.5)
    assert(Stats.median(Nil) == 0.0)
  }

  test("the geometric mean weighs every sample") {
    assert(math.abs(Stats.geomean(Seq(1.0, 100.0)) - 10.0) < 1e-9)
    assert(math.abs(Stats.geomean(Seq(2.0, 8.0, 4.0)) - 4.0) < 1e-9)
    assert(Stats.geomean(Nil) == 0.0)
  }
}
