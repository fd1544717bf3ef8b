package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
    intercept[IllegalArgumentException](Stats.median(Nil))
  }

  test("Harrell-Davis quantile") {
    assert(Stats.quantile(Seq(4.0), 0.5) == 4.0)
    val xs = (1 to 11).map(_.toDouble)
    assert(math.abs(Stats.quantile(xs, 0.5) - 6.0) < 1e-9)
    assert(math.abs(Stats.quantile(Seq(1.0, 1.0, 1.0, 2.0, 2.0, 2.0), 0.5) - 1.5) < 1e-9)
    val ps = Seq(0.05, 0.25, 0.5, 0.75, 0.95)
    val qs = ps.map(Stats.quantile(xs, _))
    assert(qs.zip(qs.tail).forall { case (a, b) => a < b }, s"not increasing: $qs")
    assert(qs.forall(q => q > 1.0 && q < 11.0))
    intercept[IllegalArgumentException](Stats.quantile(Nil, 0.5))
    intercept[IllegalArgumentException](Stats.quantile(xs, 1.0))
  }

  test("the Harrell-Davis median moves less than the plain one when units trade places") {
    // Two units of ten samples each, 0.7 s and 0.9 s: the plain median
    // jumps by the whole gap when one sample crosses over.
    val base = Seq.fill(10)(0.7) ++ Seq.fill(10)(0.9)
    val moved = base.updated(10, 0.69)
    val plain = math.abs(Stats.median(moved) - Stats.median(base))
    val hd = math.abs(Stats.quantile(moved, 0.5) - Stats.quantile(base, 0.5))
    assert(plain > 0.09 && hd < plain / 2, s"plain $plain, hd $hd")
  }

  test("tail percentile leaves at least ten samples beyond it") {
    assert(Stats.tailPercentile(100) == 90.0)
    assert(Stats.tailPercentile(1000) == 99.0)
    assert(Stats.tailPercentile(20) == 50.0)
    assert(Stats.tailPercentile(5) == 50.0)
    for (n <- 21 to 500) {
      val xs = (1 to n).map(_.toDouble)
      val t = Stats.tail(xs)
      assert(t.n == n)
      assert(xs.count(_ > t.value) >= Stats.TailMinBeyond, s"n=$n")
      assert(n * (1 - t.percentile / 100) >= Stats.TailMinBeyond - 1e-9, s"n=$n")
      assert(t.value >= Stats.median(xs))
    }
  }

  test("the tail of a small sample is its median") {
    val xs = Seq(5.0, 1.0, 2.0, 9.0)
    assert(Stats.tail(xs).value == Stats.quantile(xs, 0.5))
  }

  test("geometric mean") {
    assert(math.abs(Stats.geomean(Seq(1.0, 100.0)) - 10.0) < 1e-12)
    assert(math.abs(Stats.geomean(Seq(2.0, 8.0, 4.0)) - 4.0) < 1e-12)
    intercept[IllegalArgumentException](Stats.geomean(Seq(1.0, 0.0)))
  }

  test("geometric mean of per-key medians weighs every key once") {
    val samples = Seq("a" -> 1.0, "a" -> 3.0, "a" -> 2.0, "b" -> 8.0, "b" -> 8.0)
    assert(math.abs(Stats.geomeanOfMedians(samples) - 4.0) < 1e-12)
  }

  test("fail ratio") {
    assert(Stats.failRatio(0, 40) == 0.0)
    assert(Stats.failRatio(1, 4) == 0.25)
    assert(Stats.failRatio(3, 3) == 1.0)
    intercept[IllegalArgumentException](Stats.failRatio(0, 0))
    intercept[IllegalArgumentException](Stats.failRatio(5, 4))
  }
}
