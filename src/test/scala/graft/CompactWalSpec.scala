package graft

import graft.core._
import org.apache.spark.sql.functions._

/** WAL compaction: many committed micro-batch dirs consolidate into
  * one segment with byte-identical semantics — same rows, same
  * derived arrival order, same query answers, same rebuild results —
  * while the dir count drops; stamps stay monotone afterwards and the
  * manifest supersedes old dirs atomically (no double-read in the
  * lazy-GC window).
  */
class CompactWalSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def batch(lo: Long, hi: Long, sid: Long = 9L) = spark.range(lo, hi)
    .select(lit(sid).as("streamId"), $"id".as("seq"), ($"id" * 3).as("ts"),
      ($"id" % 7).cast("double").as("value")).as[Event]

  private def eventDirs(dir: String): Seq[String] = {
    val d = new java.io.File(s"$dir/events")
    if (!d.exists()) Seq.empty
    else d.listFiles().filter(_.isDirectory).map(_.getName).toSeq.sorted
  }

  test("compaction preserves rows, arrival order, and query answers; dirs collapse") {
    val dir = tmp("graft_cw")
    val db = SummaryDB.open(spark, dir)
    for (b <- 0 until 6) db.appendOnce(b.toLong, batch(b * 20L, b * 20L + 20L))
    assert(eventDirs(dir).size == 6)

    val beforeRaw = db.rawEvents.orderBy("streamId", "bstamp", "seq")
      .collect().map(_.toString).toSeq
    val beforeQ = db.query(9L, "sum", 0L, 1000L, QueryParams())

    db.compactWal()
    assert(eventDirs(dir).size == 1, s"expected one segment, got ${eventDirs(dir)}")
    assert(eventDirs(dir).head.startsWith("compact-"))

    val afterRaw = db.rawEvents.orderBy("streamId", "bstamp", "seq")
      .collect().map(_.toString).toSeq
    assert(afterRaw == beforeRaw, "rows (incl. bstamp) must survive compaction byte-identically")
    assert(db.query(9L, "sum", 0L, 1000L, QueryParams()) == beforeQ)
  }

  test("appends after compaction keep stamp monotonicity and answers") {
    val dir = tmp("graft_cw2")
    val db = SummaryDB.open(spark, dir)
    for (b <- 0 until 4) db.appendOnce(b.toLong, batch(b * 10L, b * 10L + 10L))
    db.compactWal()
    db.append(batch(40L, 60L))
    // The post-compaction batch's bstamp must exceed every absorbed one.
    val stamps = db.rawEvents.select($"bstamp").distinct().as[Long].collect().sorted
    assert(stamps.takeRight(1).head > stamps.dropRight(1).max)
    val c = db.query(9L, "count", 0L, 1000L, QueryParams())
    assert(c.value == 60.0 && c.error == 0.0)
    // And a full recompute from the compacted WAL (landmark declaration
    // forces refreshSummaries) reproduces the same state.
    db.newLandmark(9L, 30L, 45L)
    val c2 = db.query(9L, "count", 30L, 45L, QueryParams())
    assert(c2.error == 0.0 && c2.value == 6.0, // ts 30,33,...,45
      s"landmark range over compacted WAL must be exact, got $c2")
  }

  test("manifest supersedes before GC: a lingering replaced dir is not double-read") {
    val dir = tmp("graft_cw3")
    val db = SummaryDB.open(spark, dir)
    for (b <- 0 until 3) db.appendOnce(b.toLong, batch(b * 10L, b * 10L + 10L))
    db.compactWal()
    // Simulate the crash window: resurrect a replaced batch dir AND its
    // commit marker (as if GC never ran). The manifest must still win.
    val seg = eventDirs(dir).find(_.startsWith("compact-")).get
    val ghostEvents = new java.io.File(s"$dir/events/batch-0")
    ghostEvents.mkdirs()
    batch(0L, 10L).toDF().withColumn("bstamp", lit(0L))
      .coalesce(1).write.mode("overwrite").parquet(ghostEvents.toString)
    val ghostMarker = new java.io.File(s"$dir/commits/batch-0")
    ghostMarker.createNewFile()

    val db2 = SummaryDB.open(spark, dir)
    val c = db2.query(9L, "count", 0L, 1000L, QueryParams())
    assert(c.value == 30.0, s"replaced tag must stay superseded, got ${c.value}")
    // The next compaction GCs the ghost.
    db2.append(batch(30L, 40L))
    db2.compactWal()
    assert(!ghostEvents.exists(), "lazy GC should remove superseded dirs")
    assert(eventDirs(dir).count(_.startsWith("compact-")) == 1)
  }

  test("a replayed batch that a compaction absorbed is not applied again") {
    val dir = tmp("graft_cw5")
    val db = SummaryDB.open(spark, dir)
    db.appendOnce(0L, batch(0L, 10L, sid = 1L))
    db.appendOnce(1L, batch(10L, 20L, sid = 1L))
    db.compactWal() // deletes batch-0's commit marker
    db.appendOnce(0L, batch(0L, 10L, sid = 1L)) // a checkpoint replay
    val c = db.query(1L, "count", 0L, 1000L, QueryParams())
    assert(c.value == 20.0 && c.error == 0.0, s"20 input rows, counted $c")
    assert(db.rawEvents.count() == 20L)
  }

  test("single-segment store: compactWal is a no-op") {
    val dir = tmp("graft_cw4")
    val db = SummaryDB.open(spark, dir)
    db.appendOnce(0L, batch(0L, 10L))
    val before = eventDirs(dir)
    db.compactWal()
    assert(eventDirs(dir) == before)
  }
}
