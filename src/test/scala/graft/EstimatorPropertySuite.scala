package graft

import graft.core._
import graft.estimator.SumEstimator
import graft.windowing.ExponentialWindowing
import org.scalatest.funsuite.AnyFunSuite

/** Property: the estimator's hard bounds always contain the exact
  * answer (the CI is clamped into them; at confidence 1.0 the CI *is*
  * the bounds — `stats/utils.go:40-56` semantics). Checked over random
  * streams, random ranges, both with and without landmarks, driving the
  * same pure kernels the Spark query path uses.
  */
class EstimatorPropertySuite extends AnyFunSuite {

  private val exp2 = ExponentialWindowing(2.0)
  private val certain = QueryParams(confidenceLevel = 1.0, sdMultiplier = 1.0)

  /** Build summary windows + landmarks exactly as the Spark path would,
    * but in-memory (the golden suites pin Spark == this construction).
    */
  private def build(
      events: Seq[(Long, Double)], // (ts, value), ts ascending
      landmark: Option[(Long, Long)]): (Seq[SummaryWindow], Seq[LandmarkWindow], Seq[(Long, Double)]) = {
    val (lmEvents, regular) = landmark match {
      case Some((l0, l1)) => events.partition { case (ts, _) => ts >= l0 && ts <= l1 }
      case None           => (Seq.empty, events)
    }
    val starts = graft.windowing.DecayModel.windowStarts(exp2, regular.size.toLong)
    val sw = regular.zipWithIndex
      .groupBy { case (_, i) => graft.windowing.DecayModel.windowIdOf(starts, i.toLong) }
      .toSeq.sortBy(_._1)
      .map { case (_, elems) =>
        val ts = elems.map(_._1._1)
        val vs = elems.map(_._1._2)
        val seqs = elems.map(_._2.toLong)
        SummaryWindow(0L, ts.min, ts.max, seqs.min, seqs.max,
          elems.size.toDouble, vs.sum, vs.max, vs.min)
      }
    val lw = landmark.toSeq.filter(_ => lmEvents.nonEmpty).map { case (l0, l1) =>
      LandmarkWindow(0L, l0, l1, lmEvents.map { case (ts, v) => Landmark(ts, v) })
    }
    (sw, lw, events)
  }

  test("hard bounds contain the exact answer: random streams and ranges") {
    val rnd = new scala.util.Random(271828)
    for (trial <- 1 to 60) {
      val n = 20 + rnd.nextInt(400)
      // strictly increasing sparse timestamps
      var t = 0L
      val events = (0 until n).map { _ =>
        t += 1 + rnd.nextInt(20)
        (t, math.round(rnd.nextDouble() * 1000) / 100.0)
      }
      val maxTs = events.last._1
      val landmark =
        if (trial % 3 == 0) {
          val l0 = 1 + rnd.nextInt(maxTs.toInt / 2)
          Some((l0.toLong, (l0 + 1 + rnd.nextInt(maxTs.toInt / 3)).toLong))
        } else None
      val (sw, lw, all) = build(events, landmark)

      for (_ <- 1 to 10) {
        val a = rnd.nextLong(maxTs + 10)
        val b = rnd.nextLong(maxTs + 10)
        val (t0, t1) = (math.min(a, b), math.max(a, b))
        val inRange = all.filter { case (ts, _) => ts >= t0 && ts <= t1 }
        val swF = sw.filter(w => w.te >= t0 && w.ts <= t1)
        val ldF = lw.filter(w => w.te >= t0 && w.ts <= t1).map(LandmarkDigest.of(_, t0, t1))

        val exactCount = inRange.size.toDouble
        // At confidence 1.0 the CI degrades to the hard bounds: the
        // reported interval [value - error, value + error-ish] must be
        // the bounds themselves — check containment via the bounds.
        val c = SumEstimator.queryDigest("count", t0, t1, swF, ldF, certain)
        val (bounds, _) = SumEstimator.sumStatsDigest(t0, t1, swF, ldF, _.count, _.cnt.toDouble)
        assert(c.error <= bounds.upper - bounds.lower + 1e-9,
          s"ci wider than hard bounds: trial $trial [$t0,$t1]")
        assert(bounds.lower - 1e-9 <= exactCount && exactCount <= bounds.upper + 1e-9,
          s"count bounds violated: trial $trial range [$t0,$t1] exact=$exactCount bounds=$bounds")

        val exactSum = inRange.map(_._2).sum
        val (sb, _) = SumEstimator.sumStatsDigest(t0, t1, swF, ldF, _.sum, _.sum)
        assert(sb.lower - 1e-6 <= exactSum && exactSum <= sb.upper + 1e-6,
          s"sum bounds violated: trial $trial range [$t0,$t1] exact=$exactSum bounds=$sb")

        // boundsQueryDigest is the oracle-facing wrapper over the same
        // kernels — it must agree with sumStatsDigest exactly.
        val bq = SumEstimator.boundsQueryDigest("count", t0, t1, swF, ldF)
        assert(bq == bounds, s"boundsQueryDigest(count) != sumStatsDigest bounds: trial $trial")
        val bqs = SumEstimator.boundsQueryDigest("sum", t0, t1, swF, ldF)
        assert(bqs == sb, s"boundsQueryDigest(sum) != sumStatsDigest bounds: trial $trial")

        // Max: upper-biased — reported value must be >= exact max in range.
        if (inRange.nonEmpty) {
          val m = SumEstimator.queryDigest("max", t0, t1, swF, ldF, QueryParams())
          assert(m.value >= inRange.map(_._2).max - 1e-9,
            s"max not upper-biased: trial $trial")
        }
      }
    }
  }
}
