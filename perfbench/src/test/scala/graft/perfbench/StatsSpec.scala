package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median is the lower middle sample") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.0)
  }

  test("tail keeps ten samples beyond the reported percentile") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tail(xs) == (90, 90.0))
    assert(xs.count(_ > Stats.tail(xs)._2) == Stats.TailBeyond)
    val twenty = (1 to 20).map(_.toDouble).reverse
    assert(Stats.tail(twenty) == (50, 10.0))
    assert(Stats.tail((1 to 30).map(_.toDouble)) == (66, 20.0))
  }

  test("tail falls back to the median below twenty samples") {
    assert(Stats.tail(Seq(5.0)) == (50, 5.0))
    assert(Stats.tail((1 to 12).map(_.toDouble)) == (50, 6.0))
    assert(Stats.tail((1 to 19).map(_.toDouble)) == (50, 10.0))
  }
}
