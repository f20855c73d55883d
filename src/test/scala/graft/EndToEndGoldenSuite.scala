package graft

import graft.core._
import graft.windowing.ExponentialWindowing
import java.nio.file.Files

/** End-to-end goldens mirroring the reference DB tests — the same
  * observable numbers, produced by the Spark pipeline.
  */
class EndToEndGoldenSuite extends SparkSpec {
  import spark.implicits._

  private val exp2 = ExponentialWindowing(2.0)
  private val params = QueryParams(confidenceLevel = 0.95, sdMultiplier = 1.0)
  // Self-contained spec closure: must not capture the suite instance
  // (scalatest's Engine is not serializable), so build it from a local.
  private val specOf: Long => ExponentialWindowing = {
    val s = exp2
    _ => s
  }
  private def noSpans = spark.emptyDataset[LandmarkSpan]
  private def noElems = spark.emptyDataset[LandmarkElem]

  private def mkEvents(n: Int, streamId: Long = 0L): org.apache.spark.sql.Dataset[Event] =
    (0 until n).map(i => Event(streamId, i.toLong, i.toLong, i.toDouble)).toDS()

  test("TestBasicDB golden (db_test.go:11-59): 100 appends, exp-2") {
    val sw = Summarizer.summarize(mkEvents(100), exp2)

    assert(sw.count() == 9) // 9 summary windows at N=100

    val count = QueryEngine.queryOne(sw, noSpans, noElems, 0L, "count", 0, 99, params)
    assert(count.value == 100.0 && count.error == 0.0)

    val sum = QueryEngine.queryOne(sw, noSpans, noElems, 0L, "sum", 0, 99, params)
    assert(sum.value == 4950.0 && sum.error == 0.0)
  }

  test("TestDBWithLambda golden (db_test.go:61-115): landmark [90,99]") {
    val (sw, spans, elems) =
      Summarizer.summarizeWithLandmarkRowsPerStream(mkEvents(100), specOf, Seq((90L, 99L)))
    val lw = Summarizer.assembleLandmarkWindows(spans, elems)

    assert(sw.count() == 10) // 10 summary windows over the 90 decayed elems
    assert(lw.count() == 1)
    val lmElems = lw.collect().head.elems
    assert(lmElems.size == 10 && lmElems.map(_.value).sum == (90 to 99).sum.toDouble)

    val count = QueryEngine.queryOne(sw, spans, elems, 0L, "count", 0, 99, params)
    assert(count.value == 100.0 && count.error == 0.0)

    val sum = QueryEngine.queryOne(sw, spans, elems, 0L, "sum", 0, 99, params)
    assert(sum.value == 4950.0 && sum.error == 0.0)
  }

  test("max/min queries: exact over full range, landmark drops error to 0") {
    val sw = Summarizer.summarize(mkEvents(100), exp2)
    val mx = QueryEngine.queryOne(sw, noSpans, noElems, 0L, "max", 0, 99, params)
    // Upper-biased merge; error stays 1.0 without a landmark hit
    // (reference core/max_op.go:32-63).
    assert(mx.value == 99.0 && mx.error == 1.0)
    val mn = QueryEngine.queryOne(sw, noSpans, noElems, 0L, "min", 0, 99, params)
    assert(mn.value == 0.0 && mn.error == 1.0)

    val (sw2, spans2, elems2) =
      Summarizer.summarizeWithLandmarkRowsPerStream(mkEvents(100), specOf, Seq((90L, 99L)))
    val mx2 = QueryEngine.queryOne(sw2, spans2, elems2, 0L, "max", 0, 99, params)
    assert(mx2.value == 99.0 && mx2.error == 0.0)
  }

  test("durability (db_test.go:120-198): save, reopen, append, query") {
    val dir = Files.createTempDirectory("graftdb").toString
    val db = SummaryDB.open(spark, dir)
    db.newStream(StreamMeta.exponential(7L, 2.0))
    db.append(mkEvents(60, streamId = 7L))

    val before = db.query(7L, "count", 0, 59, params)
    assert(before.value == 60.0 && before.error == 0.0)

    // Reopen from disk; catalog + tables must survive.
    val db2 = SummaryDB.open(spark, dir)
    assert(db2.streams.contains(7L))
    val after = db2.query(7L, "count", 0, 59, params)
    assert(after.value == 60.0 && after.error == 0.0)

    // Append 40 more elements (ts 60..99); full-range query exact again.
    val more = (60 until 100).map(i => Event(7L, i.toLong, i.toLong, i.toDouble)).toDS()
    db2.append(more)
    val total = db2.query(7L, "count", 0, 99, params)
    assert(total.value == 100.0 && total.error == 0.0)
    val sum = db2.query(7L, "sum", 0, 99, params)
    assert(sum.value == 4950.0 && sum.error == 0.0)
    // Decay re-coarsened to the canonical N=100 partition.
    assert(db2.summaryWindows.count() == 9)
  }

  test("distributed query path agrees with driver-side path") {
    val events = (0L until 3L).flatMap(sid =>
      (0 until 80).map(i => Event(sid, i.toLong, i.toLong, i.toDouble))).toDS()
    val sw = Summarizer.summarize(events, exp2)
    val all = QueryEngine.rangeQueryAll(sw, noSpans, noElems, "sum", 10, 50, params)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    (0L until 3L).foreach { sid =>
      val one = QueryEngine.queryOne(sw, noSpans, noElems, sid, "sum", 10, 50, params)
      assert(all(sid) == ((one.value, one.error)))
    }
  }
}
