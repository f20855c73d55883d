package graft

import graft.core.{Event, StreamMeta, SummaryDB}
import graft.sources.TinyParquet
import graft.windowing.{ExponentialWindowing, PowerWindowing}

/** Catalog round-trip: a stream declaration (windowing spec + operator
  * set) must survive persist + reopen bit-for-bit — the Spark-side
  * analogue of the reference's capnp serialize/deserialize contract
  * (`/root/reference/core/stream_test.go:9-35`, exp and power specs,
  * multi-operator set).
  */
class StreamCatalogSpec extends SparkSpec {

  test("stream catalog survives reopen: exp and power specs, operator sets (stream_test.go:9-35)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_catalog").toString
    val db = SummaryDB.open(spark, dir)
    val exp = StreamMeta.exponential(0L, 2.0, operators = Seq("count", "max", "sum"))
    val pow = StreamMeta.power(1L, 1, 2, 3, 4, operators = Seq("count", "max", "sum"))
    db.newStream(exp)
    db.newStream(pow)

    val reopened = SummaryDB.open(spark, dir)
    assert(reopened.streams(0L) == exp)
    assert(reopened.streams(1L) == pow)
    // The reconstructed windowing specs are the live objects the
    // summarizer keys decompositions by — equality must be structural.
    assert(reopened.streams(0L).spec == ExponentialWindowing(2.0))
    assert(reopened.streams(1L).spec == PowerWindowing(1, 2, 3, 4))
    // Re-declaring updates in place (reference NewStream overwrite
    // semantics): change the op set, reopen, observe the update.
    val exp2 = exp.copy(operators = Seq("count"))
    reopened.newStream(exp2)
    assert(SummaryDB.open(spark, dir).streams(0L) == exp2)
  }

  test("open reads the catalog on the driver: 0 jobs, the rows a Spark read gives") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_catalog0").toString
    val db = SummaryDB.open(spark, dir)
    db.newStream(StreamMeta.exponential(0L, 2.0, operators = Seq("count", "max", "sum")))
    db.newStream(StreamMeta.power(1L, 1, 2, 3, 4, operators = Nil))
    db.append((0 until 40).map(i => Event(i % 2L, i.toLong, i * 10L, i.toDouble)).toDS(),
      landmarkIntervals = Seq((100L, 150L)))
    db.newLandmark(0L, 200L, 250L)
    db.startLandmark(1L, 300L)
    def catalog(store: => SummaryDB) = {
      val d = store
      (d.streams, d.landmarkIntervals, d.streamLandmarks)
    }
    val (driver, dc) = SparkCounts.of(spark)(catalog(SummaryDB.open(spark, dir)))
    val (forced, fc) = SparkCounts.of(spark)(TinyParquet.forcingSpark(catalog(SummaryDB.open(spark, dir))))
    assert(dc.jobs == 0L, dc.jobLines)
    assert(fc.jobs >= 1L, "the forced reopen read its catalog on the driver")
    assert(driver._1.size == 2 && driver._1(1L).operators.isEmpty)
    assert(driver._2 == Seq((100L, 150L)))
    assert(driver._3 == Map(0L -> Seq((200L, 250L)), 1L -> Seq((300L, Long.MaxValue))))
    assert(forced == driver)
  }
}
