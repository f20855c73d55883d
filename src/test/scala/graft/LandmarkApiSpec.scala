package graft

import graft.core._
import java.nio.file.Files
import org.apache.hadoop.fs.Path

/** Open-ended landmark API (reference StartLandmark/EndLandmark,
  * `core/stream.go:121-137`, exercised by TestDBWithLambda,
  * `core/db_test.go:61-115`), plus the crash-orphan WAL rule and
  * declared-op-set enforcement (`core/op_set.go:14-18`).
  */
class LandmarkApiSpec extends SparkSpec {
  import spark.implicits._

  private val params = QueryParams(confidenceLevel = 0.95, sdMultiplier = 1.0)

  private def ev(sid: Long, range: Range): org.apache.spark.sql.Dataset[Event] =
    range.map(i => Event(sid, i.toLong, i.toLong, i.toDouble)).toDS()

  test("TestDBWithLambda golden via open-ended API: start at 90, end at 99") {
    val dir = Files.createTempDirectory("graftdb").toString
    val db = SummaryDB.open(spark, dir)
    db.newStream(StreamMeta.exponential(11L, 2.0, operators = Seq("count", "sum")))
    db.append(ev(11L, 0 until 90))
    db.startLandmark(11L, 90L)
    assert(db.hasOpenLandmark(11L))
    db.append(ev(11L, 90 until 100)) // appended while the landmark is open
    db.endLandmark(11L, 99L)
    assert(!db.hasOpenLandmark(11L))

    val c = db.query(11L, "count", 0, 99, params)
    assert(c.value == 100.0 && c.error == 0.0)
    val s = db.query(11L, "sum", 0, 99, params)
    assert(s.value == 4950.0 && s.error == 0.0)
    // Reference golden: 10 summary windows over the 90 decayed elements.
    assert(db.summaryWindows.count() == 10)
    val lm = db.landmarks.collect()
    assert(lm.length == 1 && lm.head.elems.size == 10)
    assert(lm.head.elems.map(_.value).sum == (90 to 99).sum.toDouble)
  }

  test("startLandmark on a fresh DB (no appends yet) records and applies") {
    val dir = Files.createTempDirectory("graftdb").toString
    val db = SummaryDB.open(spark, dir)
    db.startLandmark(12L, 0L) // must not throw PATH_NOT_FOUND (ADVICE r2)
    db.append(ev(12L, 0 until 20))
    db.endLandmark(12L, 19L)
    val c = db.query(12L, "count", 0, 19, params)
    assert(c.value == 20.0 && c.error == 0.0)
    // Everything was landmark-covered: exact storage, no decay windows.
    assert(db.landmarks.collect().head.elems.size == 20)
  }

  test("appends into an open landmark clamp from its last element, not its open end") {
    val dir = Files.createTempDirectory("graftdb").toString
    val db = SummaryDB.open(spark, dir)
    def tens(range: Range) = range.map(i => Event(2L, i.toLong, i * 10L, (i % 23).toDouble)).toDS()
    db.append(tens(0 until 315))
    db.startLandmark(2L, 3150L)
    val batches = Seq(320 until 400, 400 until 480) // ts 3200..3990, then 4000..4790
    batches.foreach(b => db.append(tens(b)))
    assert(db.rawEvents.filter($"ts" === Long.MinValue).count() == 0L, "a clamp overflowed")
    val c = db.query(2L, "count", 4000L, 4790L, params)
    assert(c.value == batches(1).size.toDouble && c.error == 0.0, s"open landmark is exact: $c")
  }

  test("landmark state errors: double start, end without start") {
    val dir = Files.createTempDirectory("graftdb").toString
    val db = SummaryDB.open(spark, dir)
    db.startLandmark(13L, 5L)
    intercept[IllegalArgumentException](db.startLandmark(13L, 7L))
    intercept[IllegalStateException](db.endLandmark(99L, 10L))
    intercept[IllegalArgumentException](db.endLandmark(13L, 4L)) // t1 < t0
    db.endLandmark(13L, 10L) // legal close
  }

  test("declared op set is enforced on query") {
    val dir = Files.createTempDirectory("graftdb").toString
    val db = SummaryDB.open(spark, dir)
    db.newStream(StreamMeta.exponential(14L, 2.0, operators = Seq("count")))
    db.append(ev(14L, 0 until 10))
    assert(db.query(14L, "count", 0, 9, params).value == 10.0)
    val e = intercept[IllegalArgumentException](db.query(14L, "sum", 0, 9, params))
    assert(e.getMessage.contains("not declared"))
  }

  test("crash orphan: an unmarked events dir is never resurrected") {
    val dir = Files.createTempDirectory("graftdb").toString
    val db = SummaryDB.open(spark, dir)
    db.newStream(StreamMeta.exponential(15L, 2.0))
    db.append(ev(15L, 0 until 50))
    assert(db.query(15L, "count", 0, 49, params).value == 50.0)

    // Simulate a crash between the events write and the summary update:
    // a batch dir exists with data but no commit marker.
    Ingest.prepare(
      ev(15L, 50 until 70).toDF().withColumn("arrival", $"seq"))
      .toDF()
      .withColumn("bstamp", org.apache.spark.sql.functions.lit(99L))
      .write.parquet(s"$dir/events/adhoc-999999999")

    // A full recompute (landmark declaration re-reads the WAL) must skip
    // the orphan: previously-answered ranges do not change.
    val db2 = SummaryDB.open(spark, dir)
    db2.newLandmark(15L, 10L, 19L)
    val c = db2.query(15L, "count", 0, 99, params)
    assert(c.value == 50.0, s"orphan batch resurrected: count=${c.value}")
  }

  test("declared intervals are read on the driver: landmarkIntervals and streamLandmarks run no job") {
    val dir = Files.createTempDirectory("graftdb_iv").toString
    val db = SummaryDB.open(spark, dir)
    db.append(ev(1L, 0 until 50), landmarkIntervals = Seq((10L, 20L), (30L, 35L)))
    db.newLandmark(2L, 5L, 8L)
    db.append(ev(2L, 0 until 40))
    db.startLandmark(1L, 60L)
    // What the table holds, read by Spark as before.
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val table = fs.listStatus(new Path(dir)).map(_.getPath)
      .filter(p => p.getName.startsWith("landmark_intervals__v") && fs.exists(new Path(p, "_SUCCESS")))
      .maxBy(_.getName.stripPrefix("landmark_intervals__v").toLong)
    val stored = spark.read.parquet(table.toString).as[(Long, Long, Long)].collect().toSeq.sorted
    val (global, g) = SparkCounts.of(spark)(db.landmarkIntervals)
    val (perStream, s) = SparkCounts.of(spark)(db.streamLandmarks)
    assert(g.jobs == 0L && s.jobs == 0L, s"landmarkIntervals ran ${g.jobs} jobs, streamLandmarks ${s.jobs}")
    assert(global == stored.filter(_._1 == -1L).map(r => (r._2, r._3)))
    assert(global == Seq((10L, 20L), (30L, 35L)))
    assert(perStream == Map(1L -> Seq((60L, Long.MaxValue)), 2L -> Seq((5L, 8L))))
    assert(perStream == stored.filter(_._1 != -1L).groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3))).toMap)
  }
}
