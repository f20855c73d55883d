package graft

import graft.core.{StreamMeta, SummaryDB}
import org.apache.hadoop.fs.Path
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
    db.newStream(StreamMeta.power(1L, 1, 2, 3, 4, operators = Seq("count")))
    db.newStream(StreamMeta.exponential(2L, 3.0, operators = Nil))
    val (reopened, counts) = SparkCounts.of(spark)(SummaryDB.open(spark, dir))
    assert(counts.jobs == 0L, counts.jobLines)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val version = StoreLayout.versionDirs(spark, dir).filter(_._1 == "stream_meta")
      .filter(v => fs.exists(new Path(v._3, "_SUCCESS"))).maxBy(_._2)._3
    val read = spark.read.parquet(version.toString).as[StreamMeta].collect().map(m => m.streamId -> m).toMap
    assert(read.size == 3)
    assert(reopened.streams == read)
  }
}
