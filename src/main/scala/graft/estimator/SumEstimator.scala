package graft.estimator

import graft.core.{AggResult, LandmarkDigest, QueryParams, SummaryWindow}

/** Query-time estimation over the windows overlapping [t0, t1].
  *
  * Semantics mirror the reference's shared count/sum kernel
  * (`/root/reference/core/sum_estimator.go:34-118`): windows fully
  * inside the range contribute exactly; the two edge windows contribute
  * under a uniformity assumption (mean = sum * overlap/length,
  * variance = sum * ratio * (1 - ratio)); time spans covered by landmark
  * windows are subtracted from the edge windows' length/overlap and the
  * landmark elements in range are added exactly.
  *
  * Landmark state arrives as per-window [[LandmarkDigest]]s — the
  * declared span plus the in-range element aggregates — so the kernel
  * is O(overlapping windows) regardless of how many exact elements a
  * landmark holds; the digests are computed distributively from
  * element ROWS ([[graft.core.QueryEngine.landmarkDigests]]).
  *
  * This is pure arithmetic over the O(log N) overlapping windows of one
  * stream; at scale it runs inside `mapGroups` on executors, one group
  * per stream.
  */
object SumEstimator {

  private final class WindowInfo {
    var start = 0L
    var end = 0L
    var sum = 0.0
    var overlap = 1L
    var length = 1L

    def setValues(w: SummaryWindow, value: Double): Unit = { start = w.ts; end = w.te; sum = value }
    def setLengthAndOverlap(t0: Long, t1: Long): Unit = {
      overlap = StatsUtil.windowOverlap(start, end, t0, t1)
      length = StatsUtil.windowLength(start, end)
    }
  }

  private def updateEstimate(info: WindowInfo, b: Array[Double], s: Array[Double]): Unit = {
    b(1) += info.sum
    if (info.overlap == info.length) b(0) += info.sum
    if (info.overlap > 0) {
      val ratio = info.overlap.toDouble / info.length.toDouble
      s(0) += info.sum * ratio
      s(1) += info.sum * ratio * (1 - ratio)
    }
  }

  /** Digest-based kernel. `summaryWindows` must be exactly the windows
    * overlapping [t0, t1], in time order; `landmarks` the digests of
    * landmark windows with span overlapping [t0, t1] (in-range element
    * aggregates already folded in), in time order.
    */
  def sumStatsDigest(
      t0: Long,
      t1: Long,
      summaryWindows: Seq[SummaryWindow],
      landmarks: Seq[LandmarkDigest],
      getSummaryData: SummaryWindow => Double,
      getLandmarkTotal: LandmarkDigest => Double): (Bounds, MeanVar) = {
    val first = new WindowInfo
    val last = new WindowInfo
    val middle = new WindowInfo
    val landmark = new WindowInfo

    val n = summaryWindows.size
    var totalSum = 0.0
    var i = 0
    summaryWindows.foreach { w =>
      val value = getSummaryData(w)
      if (i == 0) first.setValues(w, value)
      if (i == n - 1) last.setValues(w, value)
      totalSum += value
      i += 1
    }
    if (n == 1) last.sum = 0 // single window: no distinct right edge
    middle.sum = totalSum - (first.sum + last.sum)

    first.setLengthAndOverlap(t0, t1)
    last.setLengthAndOverlap(t0, t1)

    landmarks.foreach { lw =>
      if (first.start < lw.te) {
        first.length -= StatsUtil.windowOverlap(lw.ts, lw.te, first.start, first.end)
        first.overlap -= StatsUtil.windowOverlap(lw.ts, lw.te, t0, first.end)
      }
      if (last.end > lw.ts) {
        last.length -= StatsUtil.windowOverlap(lw.ts, lw.te, last.start, last.end)
        last.overlap -= StatsUtil.windowOverlap(lw.ts, lw.te, last.start, t1)
      }
      landmark.sum += getLandmarkTotal(lw)
    }

    val b = Array(0.0, 0.0) // lower, upper
    val s = Array(0.0, 0.0) // mean, var
    updateEstimate(landmark, b, s)
    updateEstimate(first, b, s)
    updateEstimate(middle, b, s)
    updateEstimate(last, b, s)
    (Bounds(b(0), b(1)), MeanVar(s(0), s(1)))
  }

  private def ciQueryDigest(
      t0: Long,
      t1: Long,
      sw: Seq[SummaryWindow],
      lds: Seq[LandmarkDigest],
      params: QueryParams,
      getSummaryData: SummaryWindow => Double,
      getLandmarkTotal: LandmarkDigest => Double): AggResult = {
    val (bounds, mv) = sumStatsDigest(t0, t1, sw, lds, getSummaryData, getLandmarkTotal)
    val ci = StatsUtil.toCI(bounds, mv, params.sdMultiplier, params.confidenceLevel)
    AggResult(ci.mean, ci.width)
  }

  /** Hard deterministic bounds on a count/sum range answer: lower = the
    * fully-covered windows plus landmark elements in range, upper = all
    * overlapping windows (the b-accumulators of [[sumStatsDigest]],
    * mirroring the reference's `core/sum_estimator.go:96-101`). For
    * non-negative contributions the exact answer always lies within —
    * count contributions are 1 per element, so count bounds are
    * unconditional; sum bounds require non-negative values.
    */
  def boundsQueryDigest(
      op: String, t0: Long, t1: Long, sw: Seq[SummaryWindow], lds: Seq[LandmarkDigest]): Bounds =
    op match {
      case "count" => sumStatsDigest(t0, t1, sw, lds, _.count, _.cnt.toDouble)._1
      case "sum"   => sumStatsDigest(t0, t1, sw, lds, _.sum, _.sum)._1
      case other   => throw new IllegalArgumentException(s"no hard bounds for operator: $other")
    }

  /** Dispatch by operator name, as the reference's OpSet does
    * (`core/op_set.go:14-18`) — the executor-side entry
    * of the distributed query paths. count/sum carry the CI (reference
    * `core/count_op.go:39-67`, `core/sum_op.go:40-68`); max is the
    * upper-biased merge of overlapping windows whose error drops to 0
    * only if a landmark element in range is seen (`core/max_op.go:32-63`,
    * not statistical); min is its dual (advertised in the reference
    * README but absent from its code, SURVEY §7.3).
    */
  def queryDigest(
      op: String,
      t0: Long,
      t1: Long,
      sw: Seq[SummaryWindow],
      lds: Seq[LandmarkDigest],
      params: QueryParams): AggResult = op match {
    case "count" => ciQueryDigest(t0, t1, sw, lds, params, _.count, _.cnt.toDouble)
    case "sum"   => ciQueryDigest(t0, t1, sw, lds, params, _.sum, _.sum)
    case "max" =>
      var value = SummaryWindow.EmptyMax
      sw.foreach(w => value = math.max(value, w.max))
      var error = 1.0
      lds.foreach { d =>
        if (d.cnt > 0) { value = math.max(value, d.vmax); error = 0.0 }
      }
      AggResult(value, error)
    case "min" =>
      var value = SummaryWindow.EmptyMin
      sw.foreach(w => value = math.min(value, w.min))
      var error = 1.0
      lds.foreach { d =>
        if (d.cnt > 0) { value = math.min(value, d.vmin); error = 0.0 }
      }
      AggResult(value, error)
    case other => throw new IllegalArgumentException(s"unknown operator: $other")
  }
}
