package graft

import graft.core.{Event, QueryParams, SummaryDB, SummaryWindow}
import org.apache.spark.sql.functions._

/** The mergeEvery persistence-cadence knob (reference windowsPerMerge):
  * deferred re-coarsening keeps fine windows on disk between merges,
  * queries stay exact throughout, and the post-merge state is identical
  * to always-merging. The cadence is per bucket and survives a reopen.
  */
class MergeCadenceSpec extends SparkSpec {
  import spark.implicits._

  private def batch(lo: Long, hi: Long) = spark.range(lo, hi)
    .select(lit(5L).as("streamId"), $"id".as("seq"), ($"id" * 2).as("ts"),
      lit(1.0).as("value"))
    .as[Event]

  test("deferred merges: lagged table is finer, exact, and converges on the merge batch") {
    val d1 = java.nio.file.Files.createTempDirectory("graft_cadence1").toString
    val d3 = java.nio.file.Files.createTempDirectory("graft_cadence3").toString
    val every = SummaryDB.open(spark, d1)
    val lazy3 = SummaryDB.open(spark, d3, mergeEvery = 3)

    // Appends 1 and 2 are both below the cadence: fine windows
    // accumulate in the lazy store, no re-coarsening yet.
    for ((lo, hi) <- Seq((0L, 100L), (100L, 220L))) {
      every.append(batch(lo, hi))
      lazy3.append(batch(lo, hi))
    }
    val lagged = lazy3.summaryWindows.count()
    val canonical = every.summaryWindows.count()
    assert(lagged > canonical + 50,
      s"expected retained fine windows: lagged=$lagged canonical=$canonical")
    // Queries over the lagged (nested, finer) partition stay exact.
    val r = lazy3.query(5L, "count", 0L, 1000L, QueryParams())
    assert(r.value == 220.0 && r.error == 0.0)

    // Third incremental append triggers the merge: states converge.
    every.append(batch(220, 300))
    lazy3.append(batch(220, 300))
    val a = every.summaryWindows.collect().sortBy(w => (w.streamId, w.cs)).toSeq
    val b = lazy3.summaryWindows.collect().sortBy(w => (w.streamId, w.cs)).toSeq
    assert(a == b, "post-merge state must equal the always-merge state")
  }

  test("distinct-sketch table honors the same cadence and converges on the merge batch") {
    val d1 = java.nio.file.Files.createTempDirectory("graft_dcad1").toString
    val d3 = java.nio.file.Files.createTempDirectory("graft_dcad3").toString
    val every = SummaryDB.open(spark, d1)
    val lazy3 = SummaryDB.open(spark, d3, mergeEvery = 3)
    every.enableDistinctSummaries()
    lazy3.enableDistinctSummaries()

    for ((lo, hi) <- Seq((0L, 100L), (100L, 220L))) {
      every.append(batch(lo, hi))
      lazy3.append(batch(lo, hi))
    }
    // Below the cadence the lazy sketch table retains per-element fine
    // sketches instead of re-coarsening on every append (the write-
    // amplification the knob exists to avoid).
    val lagged = lazy3.distinctSketches.count()
    val canonical = every.distinctSketches.count()
    assert(lagged > canonical + 50,
      s"expected retained fine sketch windows: lagged=$lagged canonical=$canonical")

    // The merge append converges the partitions (cs/ce spans identical;
    // sketch bytes are merge-order-dependent, so compare the partition
    // plus each window's estimate, which is what queries consume).
    every.append(batch(220, 300))
    lazy3.append(batch(220, 300))
    def state(db: SummaryDB) = db.distinctSketches
      .select($"streamId", $"cs", $"ce", $"ts", $"te",
        hll_sketch_estimate($"sketch").cast("long").as("est"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).sortBy(t => (t._1, t._2)).toSeq
    assert(state(every) == state(lazy3),
      "post-merge sketch partition must equal the always-merge partition")
  }

  test("freq-sketch table honors the same cadence and converges on the merge batch") {
    val d1 = java.nio.file.Files.createTempDirectory("graft_fcad1").toString
    val d3 = java.nio.file.Files.createTempDirectory("graft_fcad3").toString
    val every = SummaryDB.open(spark, d1)
    val lazy3 = SummaryDB.open(spark, d3, mergeEvery = 3)
    every.enableFreqSummaries()
    lazy3.enableFreqSummaries()

    for ((lo, hi) <- Seq((0L, 100L), (100L, 220L))) {
      every.append(batch(lo, hi))
      lazy3.append(batch(lo, hi))
    }
    // The freq delta aggregates at the post-append canonical partition
    // (never per-element), so "lagged" here means more retained window
    // rows than canonical, not 1-per-element.
    assert(lazy3.freqSketches.count() > every.freqSketches.count(),
      "expected retained unmerged freq windows below the cadence")
    // Queries over the lagged table stay correct (no false negatives,
    // exact CMS count for the single repeated value).
    assert(lazy3.mightContain(5L, "1.0"))
    assert(lazy3.freqEstimate(5L, "1.0") == 220L)

    every.append(batch(220, 300))
    lazy3.append(batch(220, 300))
    def partition(db: SummaryDB) = db.freqSketches
      .select($"streamId", $"cs", $"ce", $"ts", $"te")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(t => (t._1, t._2)).toSeq
    assert(partition(every) == partition(lazy3),
      "post-merge freq partition must equal the always-merge partition")
    assert(lazy3.freqEstimate(5L, "1.0") == 300L)
  }

  test("sample table honors the same cadence and converges bit-exactly on the merge batch") {
    val d1 = java.nio.file.Files.createTempDirectory("graft_scad1").toString
    val d3 = java.nio.file.Files.createTempDirectory("graft_scad3").toString
    val every = SummaryDB.open(spark, d1)
    val lazy3 = SummaryDB.open(spark, d3, mergeEvery = 3)
    every.enableSampleSummaries(k = 8)
    lazy3.enableSampleSummaries(k = 8)

    for ((lo, hi) <- Seq((0L, 100L), (100L, 220L))) {
      every.append(batch(lo, hi))
      lazy3.append(batch(lo, hi))
    }
    assert(lazy3.sampleWindows.count() > every.sampleWindows.count(),
      "expected retained unmerged sample windows below the cadence")
    every.append(batch(220, 300))
    lazy3.append(batch(220, 300))
    // Bottom-k by the portable hash is an EXACT monoid: after the merge
    // the two stores agree window-for-window, sample-for-sample.
    def state(db: SummaryDB) = db.sampleWindows
      .selectExpr("streamId", "cs", "ce", "ts", "te",
        "transform(sample, s -> s.seq) AS seqs")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getAs[scala.collection.Seq[Long]](5).toVector))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(state(every) == state(lazy3),
      "post-merge sample state must equal the always-merge state")
    assert(every.sampleEvents(5L, k = 8) == lazy3.sampleEvents(5L, k = 8))
  }

  /** Two streams in different buckets. */
  private val (sa, sb) = {
    val a = 5L
    (a, Iterator.from(6).map(_.toLong)
      .find(s => SummaryDB.bucketOf(s, SummaryDB.Buckets) != SummaryDB.bucketOf(a, SummaryDB.Buckets)).get)
  }

  /** `n` elements of `sid` from element `from` on: integer values, 10 time
    * units apart.
    */
  private def local(sid: Long, from: Int, n: Int) =
    (from until from + n).map(i => Event(sid, i.toLong, i * 10L, (i % 9).toDouble)).toDS()

  private def rowsOf(db: SummaryDB, sid: Long): Seq[SummaryWindow] =
    db.summaryWindows.filter($"streamId" === sid).collect().sortBy(_.cs).toSeq

  /** Appends of (stream, first element, count), each with the streams
    * whose buckets have merged since their last append: a's bucket
    * reaches the cadence of 3 on append 4, b's on append 6.
    */
  private val plan = Seq(
    ((sa, 0, 40), Set.empty[Long]), ((sb, 0, 30), Set.empty[Long]), ((sa, 40, 25), Set.empty[Long]),
    ((sa, 65, 35), Set(sa)), ((sb, 30, 50), Set(sa)), ((sb, 80, 20), Set(sa, sb)))

  private def runCadence(reopenAfter: Option[Int]): Unit = {
    val dLazy = java.nio.file.Files.createTempDirectory("graft_bcad3").toString
    val dEvery = java.nio.file.Files.createTempDirectory("graft_bcad1").toString
    var lazy3 = SummaryDB.open(spark, dLazy, mergeEvery = 3)
    val every = SummaryDB.open(spark, dEvery)
    val total = collection.mutable.Map(sa -> 0, sb -> 0)
    plan.zipWithIndex.foreach { case (((sid, from, n), merged), i) =>
      lazy3.append(local(sid, from, n))
      every.append(local(sid, from, n))
      total(sid) += n
      Seq(sa, sb).filter(total(_) > 0).foreach { s =>
        // A merged bucket's streams equal the always-merge twin's rows;
        // the other bucket still holds its fine windows.
        if (merged(s)) assert(rowsOf(lazy3, s) == rowsOf(every, s), s"append ${i + 1}: stream $s")
        else assert(rowsOf(lazy3, s).size > rowsOf(every, s).size, s"append ${i + 1}: stream $s merged early")
        // Queries stay exact in between.
        val c = lazy3.query(s, "count", 0L, 10000L, QueryParams())
        val sum = lazy3.query(s, "sum", 0L, 10000L, QueryParams())
        assert(c.value == total(s).toDouble && c.error == 0.0, s"append ${i + 1}: stream $s count $c")
        assert(sum.value == (0 until total(s)).map(_ % 9).sum.toDouble && sum.error == 0.0,
          s"append ${i + 1}: stream $s sum $sum")
      }
      if (reopenAfter.contains(i + 1)) lazy3 = SummaryDB.open(spark, dLazy, mergeEvery = 3)
    }
    assert(lazy3.summaryWindows.collect().sortBy(w => (w.streamId, w.cs)).toSeq ==
      every.summaryWindows.collect().sortBy(w => (w.streamId, w.cs)).toSeq)
  }

  test("per-bucket cadence: two buckets reach their merges at different appends") {
    runCadence(reopenAfter = None)
  }

  test("per-bucket cadence is durable: a store reopened mid-cadence merges on schedule") {
    // Reopened after append 3: stream a's bucket has taken 2 appends, so
    // append 4 is its third and merges — a count restarted by the reopen
    // would not.
    runCadence(reopenAfter = Some(3))
  }
}
