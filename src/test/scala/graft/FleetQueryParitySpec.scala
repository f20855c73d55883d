package graft

import graft.core._
import graft.sources.TinyParquet
import java.nio.file.Files
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Dataset, Row}

/** The zero-job fleet query: `rangeQueryAll` and `rangeBoundsAll` over
  * a store's bare table scans are decoded and walked on the driver, and
  * return the rows and schema of the Spark `cogroup` path that
  * `TinyParquet.forcingSpark` forces — over plain and landmarked stores, with integer
  * values so that sums are exact. Other inputs keep the Spark path.
  */
class FleetQueryParitySpec extends SparkSpec {
  import spark.implicits._

  private val params = QueryParams()
  private val sids = 1L to 8L

  private def events(streams: Seq[Long], from: Int, until: Int): Dataset[Event] =
    (for (sid <- streams; i <- from until until)
      yield Event(sid, i.toLong, i.toLong * 10L, ((i * 7 + sid) % 23).toDouble)).toDS()

  private def plainStore(): (String, SummaryDB) = {
    val dir = Files.createTempDirectory("graft_fleet").toString
    val db = SummaryDB.open(spark, dir)
    db.append(events(sids, 0, 200))
    db.append(events(sids.take(3), 200, 300))
    (dir, db)
  }

  /** A global interval, a closed per-stream interval and an open one. */
  private def landmarkedStore(): SummaryDB = {
    val (_, db) = plainStore()
    db.append(events(sids, 300, 320), landmarkIntervals = Seq((3000L, 3100L)))
    db.newLandmark(4L, 1500L, 1700L)
    db.startLandmark(2L, 3150L)
    db.append(events(Seq(2L, 5L), 320, 400))
    assert(db.hasOpenLandmark(2L))
    db
  }

  private val ranges = Seq((0L, 3000L), (450L, 1210L), (1490L, 1710L), (2990L, 3120L),
    (3050L, 3990L), (3160L, 3170L), (5000L, 6000L), (Long.MinValue, Long.MaxValue))

  /** Schema and rows of `q` at the default guard and forced onto Spark,
    * with the jobs of each.
    */
  private def bothPaths(q: () => DataFrame): ((DataFrame, Seq[Row], Long), (DataFrame, Seq[Row], Long)) = {
    def run() = {
      val (out, counts) = SparkCounts.of(spark) {
        val df = q()
        (df, df.collect().toSeq)
      }
      (out._1, out._2, counts.jobs)
    }
    (run(), TinyParquet.forcingSpark(run()))
  }

  private def assertParity(db: SummaryDB): Unit = {
    val (sw, spans, elems) = (db.summaryWindows, db.landmarkSpans, db.landmarkElems)
    val queries: Seq[(String, () => DataFrame)] = ranges.flatMap { case (t0, t1) =>
      Seq("count", "sum", "max").map(op => s"rangeQueryAll $op [$t0, $t1]" ->
        (() => QueryEngine.rangeQueryAll(sw, spans, elems, op, t0, t1, params))) ++
      Seq("count", "sum").map(op => s"rangeBoundsAll $op [$t0, $t1]" ->
        (() => QueryEngine.rangeBoundsAll(sw, spans, elems, op, t0, t1)))
    }
    var answered = 0
    for ((name, q) <- queries) {
      val ((fast, fastRows, fastJobs), (slow, slowRows, slowJobs)) = bothPaths(q)
      assert(fast.schema == slow.schema, s"$name: ${fast.schema} vs ${slow.schema}")
      assert(fastRows == fastRows.sortBy(_.getLong(0)), s"$name: driver rows are not sorted by stream")
      assert(fastRows == slowRows.sortBy(_.getLong(0)), s"$name: $fastRows vs $slowRows")
      assert(fastJobs == 0L, s"$name: the driver path ran $fastJobs jobs")
      assert(slowJobs >= 1L, s"$name: the forced path ran no job")
      if (fastRows.nonEmpty) answered += 1
    }
    assert(answered > queries.size / 2)
  }

  test("plain store: driver and Spark walks return the same rows and schema") {
    val (_, db) = plainStore()
    assertParity(db)
  }

  test("landmarked store: global, closed and open per-stream intervals") {
    val db = landmarkedStore()
    assert(db.landmarkSpans.count() > 0L && db.landmarkElems.count() > 0L)
    assertParity(db)
  }

  test("an input that is not a bare scan, or is cached, takes the Spark path") {
    val db = landmarkedStore()
    val cached = db.summaryWindows.cache()
    for ((name, sw) <- Seq("filtered" -> db.summaryWindows.filter($"streamId" =!= 3L), "cached" -> cached)) {
      val ((_, rows, jobs), (_, forced, _)) = bothPaths(() =>
        QueryEngine.rangeQueryAll(sw, db.landmarkSpans, db.landmarkElems, "sum", 0L, 3990L, params))
      assert(jobs >= 1L, s"a $name input was read on the driver")
      assert(rows.nonEmpty && rows.sortBy(_.getLong(0)) == forced.sortBy(_.getLong(0)), name)
    }
    cached.unpersist()
  }

  test("rangeQueryMultiAll builds its plan without reading any file") {
    val (dir, db) = plainStore()
    val (sw, spans, elems) = (db.summaryWindows, db.landmarkSpans, db.landmarkElems)
    FileUtils.deleteDirectory(new java.io.File(dir))
    QueryEngine.rangeQueryMultiAll(sw, spans, elems, Seq("count", "sum"), 0L, 3000L)
    // the driver path of rangeQueryAll does read them
    intercept[java.io.FileNotFoundException](QueryEngine.rangeQueryAll(sw, spans, elems, "count", 0L, 3000L, params))
  }
}
