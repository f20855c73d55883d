package graft

import graft.core._
import graft.estimator._
import org.scalatest.funsuite.AnyFunSuite

/** Estimator goldens from `/root/reference/core/sum_estimator_test.go:16-65`
  * and `/root/reference/core/count_op_test.go:33-67` (FIXTURES.md §2.5-2.6).
  */
class EstimatorGoldenSuite extends AnyFunSuite {

  private def sw(ts: Long, te: Long, count: Double): SummaryWindow =
    SummaryWindow(0L, ts, te, 0, 0, count, count, SummaryWindow.EmptyMax, SummaryWindow.EmptyMin)

  // Five windows (5i, 5i+4), each count=1.
  private val fiveWindows = (0 to 4).map(i => sw(5L * i, 5L * i + 4, 1.0))

  test("sum-estimator golden: [3,21] no landmarks -> Bounds(3,5), Mean 3.8, Var 0.48") {
    val overlapping = fiveWindows.filter(w => w.te >= 3 && w.ts <= 21)
    val (bounds, mv) =
      SumEstimator.sumStatsDigest(3, 21, overlapping, Seq.empty, _.count, _.cnt.toDouble)
    assert(bounds == Bounds(3.0, 5.0))
    assert(math.abs(mv.mean - 3.8) < 1e-9)
    assert(math.abs(mv.variance - 0.48) < 1e-9)
  }

  // Windows i in {0,1,3,4} + two landmark windows; query [1,21].
  private val lmWindows = Seq(
    LandmarkWindow(0L, 2, 5, Seq(Landmark(3, 1.0))),
    LandmarkWindow(0L, 5, 9, Seq(Landmark(6, 1.0), Landmark(7, 1.0), Landmark(8, 1.0))))
  private val fourWindows = Seq(0, 1, 3, 4).map(i => sw(5L * i, 5L * i + 4, 1.0))

  test("sum-estimator landmark golden: [1,21] -> Bounds(6,8), Mean 6.9, Var 0.49") {
    val overlapping = fourWindows.filter(w => w.te >= 1 && w.ts <= 21)
    val (bounds, mv) =
      SumEstimator.sumStatsDigest(
        1, 21, overlapping, lmWindows.map(LandmarkDigest.of(_, 1, 21)), _.count, _.cnt.toDouble)
    assert(bounds == Bounds(6.0, 8.0))
    assert(math.abs(mv.mean - 6.9) < 1e-9)
    assert(math.abs(mv.variance - 0.49) < 1e-9)
  }

  test("count query with CI golden: conf 0.5, sd 1 -> value 6.9, error 0.9442857") {
    val overlapping = fourWindows.filter(w => w.te >= 1 && w.ts <= 21)
    val r = SumEstimator.queryDigest(
      "count", 1, 21, overlapping, lmWindows.map(LandmarkDigest.of(_, 1, 21)), QueryParams(0.5, 1.0))
    assert(math.abs(r.value - 6.9) / 6.9 < 1e-6)
    assert(math.abs(r.error - 0.9442857) / 0.9442857 < 1e-7)
  }

  test("invCDF sanity: symmetric, matches known quantiles") {
    assert(math.abs(NormalDist.invCDF(0.975) - 1.959963984540054) < 1e-8)
    assert(math.abs(NormalDist.invCDF(0.75) - 0.6744897501960817) < 1e-8)
    assert(NormalDist.invCDF(0.5) == 0.0 || math.abs(NormalDist.invCDF(0.5)) < 1e-12)
    assert(NormalDist.invCDF(1.0).isPosInfinity)
    for (p <- Seq(0.01, 0.1, 0.3))
      assert(math.abs(NormalDist.invCDF(p) + NormalDist.invCDF(1 - p)) < 1e-9)
  }

  test("max query semantics: upper-biased; landmark hit makes it exact") {
    val windows = Seq(
      sw(0, 4, 1.0).copy(max = 10.0),
      sw(5, 9, 1.0).copy(max = 7.0))
    val noLm = SumEstimator.queryDigest("max", 2, 8, windows, Seq.empty, QueryParams())
    assert(noLm == AggResult(10.0, 1.0))
    val withLm =
      SumEstimator.queryDigest("max", 2, 8, windows,
        Seq(LandmarkWindow(0L, 5, 9, Seq(Landmark(6, 42.0)))).map(LandmarkDigest.of(_, 2, 8)), QueryParams())
    assert(withLm == AggResult(42.0, 0.0))
    val lmOutOfRange =
      SumEstimator.queryDigest("max", 2, 8, windows,
        Seq(LandmarkWindow(0L, 5, 20, Seq(Landmark(15, 42.0)))).map(LandmarkDigest.of(_, 2, 8)), QueryParams())
    assert(lmOutOfRange == AggResult(10.0, 1.0))
  }

  test("min query is the dual of max") {
    val windows = Seq(
      sw(0, 4, 1.0).copy(min = -3.0),
      sw(5, 9, 1.0).copy(min = 2.0))
    assert(SumEstimator.queryDigest("min", 2, 8, windows, Seq.empty, QueryParams()) == AggResult(-3.0, 1.0))
  }

  test("full-overlap query is exact with zero error at any confidence") {
    val windows = fiveWindows
    val r = SumEstimator.queryDigest("count", 0, 24, windows, Seq.empty, QueryParams(0.95, 1.0))
    assert(r == AggResult(5.0, 0.0))
  }
}
