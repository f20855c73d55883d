package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("nearest-rank percentiles") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.percentile(xs, 0.5) == 5.0)
    assert(Stats.percentile(xs, 0.9) == 9.0)
    assert(Stats.percentile(xs, 0.91) == 10.0)
    assert(Stats.percentile(xs.reverse, 0.1) == 1.0)
    assert(Stats.median(Seq(3.0)) == 3.0)
  }

  test("the tail is the highest percentile with at least 10 samples beyond it") {
    assert(Stats.tailQuantile(1000).contains(0.99)) // 10 beyond p99
    assert(Stats.tailQuantile(999).contains(0.95)) // p99 leaves 9
    assert(Stats.tailQuantile(200).contains(0.95))
    assert(Stats.tailQuantile(199).contains(0.90))
    assert(Stats.tailQuantile(100).contains(0.90))
    assert(Stats.tailQuantile(99).contains(0.75))
    assert(Stats.tailQuantile(40).contains(0.75))
    assert(Stats.tailQuantile(39).isEmpty)
    assert(Stats.tailQuantile(0).isEmpty)
  }

  test("samples beyond a percentile are counted from its nearest rank") {
    assert(Stats.beyond(1000, 0.99) == 10)
    assert(Stats.beyond(100, 0.9) == 10)
    assert(Stats.beyond(101, 0.9) == 10) // rank ceil(90.9) = 91
    assert(Stats.beyond(5, 0.5) == 2)
  }

  test("the tail figure names its percentile and sample count, or is absent") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Main.tailFigure("t_ms", xs) == Seq(Figure("t_ms", 90.0, "ms@p90", 100)))
    assert(Main.tailFigure("t_ms", xs.take(39)).isEmpty)
  }
}
