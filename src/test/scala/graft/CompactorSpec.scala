package graft

import graft.core._
import graft.windowing.{DecayModel, ExponentialWindowing, PowerWindowing}
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions.max

class CompactorSpec extends SparkSpec {
  import spark.implicits._

  private def mkEvents(from: Int, until: Int, sid: Long = 0L) =
    (from until until).map(i => Event(sid, i.toLong, i.toLong, i.toDouble)).toDS()

  private def windowSet(ds: org.apache.spark.sql.Dataset[SummaryWindow]) =
    ds.collect().map(w => (w.streamId, w.cs, w.ce, w.ts, w.te, w.count, w.sum, w.max, w.min)).toSet

  test("recoarsen(old canonical + fine) == summarize(all), exp-2") {
    val exp2 = ExponentialWindowing(2.0)
    val old = Summarizer.summarize(mkEvents(0, 60), exp2)
    val fine = Compactor.fineWindows(mkEvents(0, 40).map(e => e.copy(seq = e.seq, ts = e.ts + 60, value = e.value + 60)), Map(0L -> 60L))
    val merged = Compactor.recoarsen(old.unionByName(fine), _ => exp2)
    val direct = Summarizer.summarize(mkEvents(0, 100), exp2)
    assert(windowSet(merged) == windowSet(direct))
  }

  test("recoarsen equivalence holds for power windowing") {
    val pw = PowerWindowing(1, 1, 10, 1)
    val old = Summarizer.summarize(mkEvents(0, 70), pw)
    val fine = Compactor.fineWindows(
      mkEvents(0, 30).map(e => e.copy(ts = e.ts + 70, value = e.value + 70)), Map(0L -> 70L))
    val merged = Compactor.recoarsen(old.unionByName(fine), _ => pw)
    val direct = Summarizer.summarize(mkEvents(0, 100), pw)
    assert(windowSet(merged) == windowSet(direct))
  }

  test("repeated incremental compaction == one-shot, multi-stream") {
    val exp2 = ExponentialWindowing(2.0)
    def ev(sid: Long, from: Int, until: Int) =
      (from until until).map(i => Event(sid, (i - from).toLong, i.toLong, i.toDouble)).toDS()

    // Stream 1 grows in 3 steps; stream 2 in one.
    var sw = Summarizer.summarize(
      ev(1L, 0, 25).map(e => e.copy(seq = e.seq)), exp2)
    for ((from, until) <- Seq((25, 60), (60, 100))) {
      val base = sw.groupBy($"streamId").agg(org.apache.spark.sql.functions.max($"ce") + 1L)
        .as[(Long, Long)].collect().toMap
      val fine = Compactor.fineWindows(ev(1L, from, until), base)
      sw = Compactor.recoarsen(sw.unionByName(fine), _ => exp2)
    }
    val fine2 = Compactor.fineWindows(ev(2L, 0, 50), Map.empty[Long, Long])
    sw = Compactor.recoarsen(sw.unionByName(fine2), _ => exp2)

    val direct = Summarizer.summarize(
      ev(1L, 0, 100).unionByName(ev(2L, 0, 50)), exp2)
    assert(windowSet(sw) == windowSet(direct))
  }

  test("SummaryDB incremental append matches full-recompute semantics") {
    val dir = Files.createTempDirectory("graft_inc").toString
    val db = SummaryDB.open(spark, dir)
    db.newStream(StreamMeta.exponential(3L, 2.0))
    db.append(mkEvents(0, 30, sid = 3L))
    db.append((30 until 75).map(i => Event(3L, (i - 30).toLong, i.toLong, i.toDouble)).toDS())
    db.append((75 until 100).map(i => Event(3L, (i - 75).toLong, i.toLong, i.toDouble)).toDS())

    assert(db.summaryWindows.count() == 9) // canonical N=100
    val c = db.query(3L, "count", 0, 99)
    assert(c.value == 100.0 && c.error == 0.0)
    val s = db.query(3L, "sum", 0, 99)
    assert(s.value == 4950.0 && s.error == 0.0)
  }

  test("landmark intervals persist across plain appends (wipe regression)") {
    val dir = Files.createTempDirectory("graft_lm").toString
    val db = SummaryDB.open(spark, dir)
    db.newStream(StreamMeta.exponential(4L, 2.0))
    // Landmark over ts [40, 59]; first batch covers it.
    db.append(mkEvents(0, 80, sid = 4L), landmarkIntervals = Seq((40L, 59L)))
    val before = db.query(4L, "sum", 45, 55)
    assert(before.error == 0.0 && before.value == (45 to 55).sum.toDouble)

    // A later PLAIN append must not un-landmark the span.
    db.append((80 until 120).map(i => Event(4L, (i - 80).toLong, i.toLong, i.toDouble)).toDS())
    val after = db.query(4L, "sum", 45, 55)
    assert(after.error == 0.0 && after.value == (45 to 55).sum.toDouble,
      s"landmark exactness lost after plain append: $after")
    // And reopened DBs still know the intervals.
    assert(SummaryDB.open(spark, dir).landmarkIntervals == Seq((40L, 59L)))
  }

  test("out-of-order cross-batch append keeps reference range semantics") {
    val dir = Files.createTempDirectory("graft_ooo").toString
    val db = SummaryDB.open(spark, dir)
    db.newStream(StreamMeta.exponential(6L, 2.0))
    db.append(mkEvents(0, 100, sid = 6L))
    // Late batch (ts 50..59 below frontier 99) -> clamped to 100, 101, ...
    db.append((0 until 10).map(i => Event(6L, i.toLong, 50L + i, 1.0)).toDS())
    // The original range must NOT absorb the late elements...
    val orig = db.query(6L, "count", 0, 99)
    assert(orig.value == 100.0 && orig.error == 0.0, s"late events leaked into [0,99]: $orig")
    // ...they live right after the frontier.
    val late = db.query(6L, "count", 100, 109)
    assert(late.value == 10.0 && late.error == 0.0, s"clamped batch misplaced: $late")
  }

  test("WAL and summary agree: landmark declared AFTER an ooo append keeps history") {
    val dir = Files.createTempDirectory("graft_wal").toString
    val db = SummaryDB.open(spark, dir)
    db.newStream(StreamMeta.exponential(8L, 2.0))
    db.append(mkEvents(0, 100, sid = 8L))
    // Late batch clamps to ts 100..109 in BOTH the WAL and the summary.
    db.append((0 until 10).map(i => Event(8L, i.toLong, 50L + i, 1.0)).toDS())
    assert(db.query(8L, "count", 0, 99).value == 100.0)
    // Declaring a landmark forces a full recompute from the WAL; the
    // previously-answered ranges must not change (pre-fix: the raw WAL
    // still held ts 50..59 and the recompute flipped [0,99] to 110).
    db.append((110 until 120).map(i => Event(8L, (i - 110).toLong, i.toLong, i.toDouble)).toDS(),
      landmarkIntervals = Seq((115L, 119L)))
    // At N=120 the decay boundaries move, so [0,99] may cut mid-window
    // (CI > 0 is correct); the regression is the VALUE: pre-fix the raw
    // WAL still held ts 50..59 and the estimate flipped toward 110.
    val c = db.query(8L, "count", 0, 99)
    assert(math.abs(c.value - 100.0) < 1.0, s"recompute rewrote history: $c")
    val late = db.query(8L, "count", 100, 109)
    assert(math.abs(late.value - 10.0) <= late.error + 1e-9 && late.value < 15.0,
      s"clamped batch lost: $late")
    val lm = db.query(8L, "count", 115, 119)
    assert(lm.value == 5.0 && lm.error == 0.0, s"landmark wrong: $lm")
  }

  test("per-stream landmark (StartLandmark/EndLandmark parity)") {
    val dir = Files.createTempDirectory("graft_psl").toString
    val db = SummaryDB.open(spark, dir)
    db.newStream(StreamMeta.exponential(1L, 2.0))
    db.newStream(StreamMeta.exponential(2L, 2.0))
    db.append(
      mkEvents(0, 100, sid = 1L).unionByName(mkEvents(0, 100, sid = 2L)))
    // Landmark over an OLD span [10,39] on stream 1 ONLY — old ranks
    // live in coarse windows, so without a landmark they are estimated.
    db.newLandmark(1L, 10L, 39L)

    val c1 = db.query(1L, "count", 0, 99)
    assert(c1.value == 100.0 && c1.error == 0.0)
    // Stream 1 range inside the landmark: exact.
    val lm = db.query(1L, "sum", 15, 30)
    assert(lm.error == 0.0 && lm.value == (15 to 30).sum.toDouble, s"not exact: $lm")
    // Stream 2 untouched: same old range is approximate.
    val s2 = db.query(2L, "sum", 15, 30)
    assert(s2.error > 0.0, s"stream 2 should be approximate here: $s2")
    // Reopen: per-stream landmark persists.
    assert(SummaryDB.open(spark, dir).streamLandmarks == Map(1L -> Seq((10L, 39L))))
  }

  test("buffered summarize matches model decomposition") {
    val exp2 = ExponentialWindowing(2.0)
    val sw = Summarizer.summarize(mkEvents(0, 1000), exp2, bufferSize = 32L)
    val want = DecayModel.windowStarts(exp2, 1000L, bufferSize = 32L)
    val got = sw.collect().sortBy(_.cs)
    assert(got.map(_.cs).toSeq == want.toSeq)
    assert(got.map(_.count).sum == 1000.0)
  }

  test("hot-path plans keep their exchange counts: scalar summarize and the append re-coarsen") {
    // SummaryDB.append runs exactly these two shapes on the scalar table;
    // an extra shuffle here is an extra stage on every append.
    val exp2 = ExponentialWindowing(2.0)
    def exchanges(df: DataFrame): Int = {
      df.collect() // AQE settles the final plan only once the query runs
      new AdaptiveSparkPlanHelper {}
        .collect(df.queryExecution.executedPlan) { case e: Exchange => e }.size
    }
    val events = mkEvents(0, 200).unionByName(mkEvents(0, 120, sid = 1L))
    val summarized = exchanges(Summarizer.summarizePerStream(events, _ => exp2).toDF())
    val dir = Files.createTempDirectory("graft_plan").toString
    Summarizer.summarize(events, exp2).write.mode("overwrite").parquet(dir)
    val old = spark.read.parquet(dir).as[SummaryWindow]
    val base = old.groupBy($"streamId").agg((max($"ce") + 1L).as("n"))
    val fine = Compactor.fineWindows(mkEvents(0, 50, sid = 1L), base)
    val recoarsened = exchanges(Compactor.recoarsen(old.unionByName(fine), _ => exp2).toDF())
    assert(summarized == 3, s"summarize plan has $summarized exchanges")
    assert(recoarsened == 5, s"re-coarsen plan has $recoarsened exchanges")
  }
}
