package graft

import graft.core._
import graft.estimator.SumEstimator
import graft.windowing.ExponentialWindowing
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Landmark elements as ROWS (SURVEY §1.5): the persisted layout is
  * spans + one row per exact element, queries fold them into bounded
  * per-window digests distributively, and a wide-open landmark holding
  * 10^6 elements ingests and answers without ever materializing one
  * giant array value. Parity: every distributed query path answers
  * exactly like the estimator over the in-memory digests of the
  * element-array view of the same data.
  */
class LandmarkRowsSpec extends SparkSpec {
  import spark.implicits._

  // Self-contained spec closure: must not capture the suite instance
  // (scalatest's Engine is not serializable), so build it from a local.
  private val specOf: Long => ExponentialWindowing = {
    val s = ExponentialWindowing(2.0)
    _ => s
  }
  private val params = QueryParams()

  test("wide-open landmark: 10^6 elements as rows, exact answers, no giant row") {
    val n = 1000000L
    val dir = Files.createTempDirectory("graft_lmrows").toString
    val db = SummaryDB.open(spark, dir)
    db.startLandmark(77L, 0L)
    val events = spark.range(n)
      .select(lit(77L).as("streamId"), $"id".as("seq"), $"id".as("ts"),
        ($"id" % 101).cast("double").as("value"))
      .as[Event]
    db.append(events)

    // Row layout: one bounded span, one row per element — the widest
    // persisted value is a single (streamId, windowId, ts, value) row.
    assert(db.landmarkSpans.count() == 1L)
    assert(db.landmarkElems.count() == n)
    val bytesPerRow = 8L * 4
    assert(db.landmarkElems.schema.fields.length == 4,
      s"constant row width expected (~$bytesPerRow bytes), got schema ${db.landmarkElems.schema}")

    // Exact answers straight off the digests (everything is landmark-
    // covered: error must be 0 and values exact).
    val c = db.query(77L, "count", 0L, n - 1L, params)
    assert(c.value == n.toDouble && c.error == 0.0)
    val s = db.query(77L, "sum", 0L, n - 1L, params)
    val exactSum = (0L until n).iterator.map(_ % 101).sum.toDouble
    assert(s.value == exactSum && s.error == 0.0)
    val mx = db.query(77L, "max", 0L, n - 1L, params)
    assert(mx.value == 100.0 && mx.error == 0.0)

    // Sub-range stays exact too (element filter happens in the digest
    // aggregation, not on a driver-side array).
    val part = db.query(77L, "count", 1000L, 1999L, params)
    assert(part.value == 1000.0 && part.error == 0.0)

    // Closing the landmark preserves everything.
    db.endLandmark(77L, n - 1L)
    assert(db.landmarkElems.count() == n)
    assert(db.query(77L, "count", 0L, n - 1L, params).value == n.toDouble)
  }

  test("digest path == legacy element-array path (count/sum/max/min, edge overlaps)") {
    val events = (0 until 500).map(i => Event(3L, i.toLong, i.toLong, (i % 13).toDouble)).toDS()
    val (sw, spans, elems) = Summarizer.summarizeWithLandmarkRowsPerStream(
      events, specOf, Seq((120L, 180L), (300L, 340L)))
    val lw = Summarizer.assembleLandmarkWindows(spans, elems).collect().toSeq
    val windows = sw.collect().sortBy(_.ts).toSeq
    // Ranges chosen to exercise: inside a landmark, straddling a
    // landmark edge, covering both landmarks, fully decayed. Values are
    // integers, so distributed sums are exact in any order.
    for {
      (t0, t1) <- Seq((125L, 175L), (100L, 200L), (0L, 499L), (350L, 480L), (130L, 320L))
      op <- Seq("count", "sum", "max", "min")
    } {
      // In-memory reference: the overlapping windows plus the element
      // arrays digested on the driver.
      val s = windows.filter(w => w.te >= t0 && w.ts <= t1)
      val l = lw.filter(w => w.te >= t0 && w.ts <= t1).sortBy(_.ts).map(LandmarkDigest.of(_, t0, t1))
      val ref = SumEstimator.queryDigest(op, t0, t1, s, l, params)
      val rows = QueryEngine.queryOne(sw, spans, elems, 3L, op, t0, t1, params)
      assert(rows == ref, s"op=$op range=[$t0,$t1]: rows=$rows reference=$ref")
      val fleet = QueryEngine.rangeQueryAll(sw, spans, elems, op, t0, t1, params)
        .as[(Long, Double, Double)].collect().toSeq
      assert(fleet == Seq((3L, ref.value, ref.error)), s"fleet op=$op range=[$t0,$t1]")
      val multi = QueryEngine.rangeQueryMultiAll(sw, spans, elems, Seq(op, "count"), t0, t1, params)
        .as[(Long, Seq[Double], Double)].collect().toSeq
      val countRef = SumEstimator.queryDigest("count", t0, t1, s, l, params)
      val countHi = SumEstimator.boundsQueryDigest("count", t0, t1, s, l).upper
      assert(multi == Seq((3L, Seq(ref.value, countRef.value), countHi)), s"multi op=$op range=[$t0,$t1]")
      if (op == "count" || op == "sum") {
        val b = SumEstimator.boundsQueryDigest(op, t0, t1, s, l)
        val bounds = QueryEngine.rangeBoundsAll(sw, spans, elems, op, t0, t1)
          .as[(Long, Double, Double)].collect().toSeq
        assert(bounds == Seq((3L, b.lower, b.upper)), s"bounds op=$op range=[$t0,$t1]")
      }
    }
  }

  test("zero-element declared interval emits no span (estimator set unchanged)") {
    val events = (0 until 100).map(i => Event(7L, i.toLong, i.toLong, 1.0)).toDS()
    val (_, spans, elems) = Summarizer.summarizeWithLandmarkRowsPerStream(
      events, specOf, Seq((1000L, 2000L)))
    assert(spans.isEmpty && elems.isEmpty)
  }
}
