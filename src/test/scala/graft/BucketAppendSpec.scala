package graft

import graft.core._
import graft.sources.TinyParquet
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Appends that rewrite only their streams' buckets: the frontier and
  * base counts are read on the driver from those buckets, and the tables
  * they leave equal a full recompute from the WAL — on a plain store and
  * on one with every summary kind — whichever way the driver reads go.
  */
class BucketAppendSpec extends SparkSpec {
  import spark.implicits._

  /** The decay policy of undeclared streams, capturing no test state. */
  private def specOf: Long => graft.windowing.WindowingSpec = {
    val spec = StreamMeta.exponential(0L, 2.0).spec
    _ => spec
  }

  /** Elements [from, from + n) of each stream, 10 time units apart with
    * integer values, then `late` elements stamped before the stream's
    * frontier, which the append clamps.
    */
  private def rows(sids: Seq[Long], from: Int, n: Int, late: Int): Seq[Event] =
    for (sid <- sids; i <- from until from + n + late)
      yield Event(sid, i.toLong, if (i < from + n) i * 10L else (from - 3) * 10L, ((i * 3 + sid) % 11).toDouble)

  /** The appends: local batches and one Spark-built batch, over changing
    * sets of streams.
    */
  private val appends: Seq[() => Dataset[Event]] = Seq(
    () => rows(1L to 12L, 0, 40, 0).toDS(),
    () => rows(Seq(2L, 3L), 40, 25, 4).toDS(),
    () => spark.createDataFrame(rows(Seq(3L, 7L, 11L), 65, 30, 3)).as[Event].repartition(2),
    () => rows(Seq(1L, 13L), 95, 20, 2).toDS(),
    () => rows(5L to 9L, 115, 15, 1).toDS())

  private def enableAll(db: SummaryDB): Unit = {
    db.enableDistinctSummaries()
    db.enableFreqSummaries()
    db.enableSampleSummaries(k = 8)
    db.enableQuantileSummaries()
  }

  /** The WAL re-ranked as the store's own recompute reads it. */
  private def walEvents(db: SummaryDB): Dataset[Event] =
    Ingest.prepare(db.rawEvents.withColumn("arrival", expr("shiftleft(bstamp, 40) + seq")))

  private def wal(db: SummaryDB) =
    db.rawEvents.select("streamId", "seq", "ts", "value", "bstamp").collect().map(_.toSeq).sortBy(_.toString).toSeq

  /** Every column of every row, hashed (a map by its sorted entries). */
  private def exact(df: DataFrame): Seq[(Long, Long, Long)] =
    df.select($"streamId", $"cs", xxhash64(df.schema.fields.map { f =>
      if (f.dataType.isInstanceOf[org.apache.spark.sql.types.MapType]) array_sort(map_entries(col(f.name)))
      else col(f.name)
    }.toIndexedSeq: _*)).as[(Long, Long, Long)].collect().sorted.toSeq

  /** What a query reads of a sketch table: the partition, and per
    * window the kind's estimate (sketch bytes may depend on merge order;
    * what is read from them may not).
    */
  private def observed(df: DataFrame, state: org.apache.spark.sql.Column): Seq[(Long, Long, Long, Long, Long, String)] =
    df.select($"streamId", $"cs", $"ce", $"ts", $"te", state.cast("string"))
      .as[(Long, Long, Long, Long, Long, String)].collect().sorted.toSeq

  private val kinds: Seq[(SummaryDB => DataFrame, SummaryKind, org.apache.spark.sql.Column)] = Seq(
    (_.distinctSketches, DistinctSummary.Kind, hll_sketch_estimate($"sketch")),
    (_.freqSketches, FreqSummary.Kind, xxhash64($"bloom", $"cms")),
    (_.sampleWindows, SampleSummary.kind(8), expr("transform(sample, s -> s.seq)")),
    (_.quantileWindows, QuantileSummary.kind(), udf((b: Array[Byte]) =>
      graft.functions.QuantileSketch.quantilesAll(b, Seq(0.25, 0.5, 0.75)).mkString(","))
      .apply($"qsk")))

  for (withKinds <- Seq(false, true)) {
    val store = if (withKinds) "a store with every summary kind" else "a plain store"
    test(s"$store: tables equal a full recompute from the WAL; the Spark fallback agrees") {
      val db = SummaryDB.open(spark, Files.createTempDirectory("graft_bappend").toString)
      val forced = SummaryDB.open(spark, Files.createTempDirectory("graft_bappend0").toString)
      if (withKinds) Seq(db, forced).foreach(enableAll)
      appends.foreach { b =>
        db.append(b())
        TinyParquet.forcingSpark(forced.append(b()))
      }
      // append 2's late rows (ts 370) follow stream 2's frontier of 390
      assert(db.rawEvents.filter($"streamId" === 2L && $"ts".between(391L, 394L)).count() == 4L,
        "late rows must have been clamped")
      assert(wal(db) == wal(forced))
      assert(exact(db.summaryWindows.toDF()) == exact(forced.summaryWindows.toDF()))
      val events = walEvents(db)
      def windows(ds: Dataset[SummaryWindow]) = ds.collect().sortBy(w => (w.streamId, w.cs)).toSeq
      assert(windows(db.summaryWindows) == windows(Summarizer.summarizePerStream(events, specOf)))
      if (withKinds) kinds.foreach { case (tableOf, kind, state) =>
        // A quantile sketch's bytes depend on the order a shuffle merges
        // it in, which a batch of several partitions does not fix.
        if (kind.table == QuantileSummary.kind().table)
          assert(observed(tableOf(db), state) == observed(tableOf(forced), state), kind.table)
        else assert(exact(tableOf(db)) == exact(tableOf(forced)), kind.table)
        assert(observed(tableOf(db), state) == observed(kind.summarize(events, specOf), state), kind.table)
      }
      (1L to 13L).foreach { sid =>
        val c = db.query(sid, "count", Long.MinValue, Long.MaxValue)
        assert(c.value == events.filter($"streamId" === sid).count().toDouble && c.error == 0.0)
      }
    }
  }

  test("a local batch's append reads its frontier and counts on the driver") {
    val db = SummaryDB.open(spark, Files.createTempDirectory("graft_bjobs").toString)
    val forced = SummaryDB.open(spark, Files.createTempDirectory("graft_bjobs0").toString)
    Seq(db, forced).foreach(_.append(rows(1L to 40L, 0, 30, 0).toDS()))
    val batch = rows(Seq(4L, 9L, 17L), 30, 10, 2)
    val (_, driver) = SparkCounts.of(spark)(db.append(batch.toDS()))
    val (_, spark0) = SparkCounts.of(spark)(TinyParquet.forcingSpark(forced.append(batch.toDS())))
    assert(driver.jobs == 0L, driver.jobLines)
    // the fallback runs a Spark aggregate for the frontier and one for the counts
    assert(spark0.jobs >= driver.jobs + 2L, s"driver path ${driver.jobs} jobs, fallback ${spark0.jobs}")
    assert(exact(db.summaryWindows.toDF()) == exact(forced.summaryWindows.toDF()))
    // A batch that is not a local relation takes the Spark path, to the same tables.
    val more = rows(Seq(9L, 23L), 42, 8, 1)
    val (_, distributed) = SparkCounts.of(spark)(db.append(spark.createDataFrame(more).as[Event].repartition(2)))
    TinyParquet.forcingSpark(forced.append(more.toDS()))
    assert(distributed.jobs > 0L)
    assert(wal(db) == wal(forced))
    assert(exact(db.summaryWindows.toDF()) == exact(forced.summaryWindows.toDF()))
  }

  /** Each bucket of `table`'s current manifest: whether it holds files,
    * and its merge cadence.
    */
  private def layout(dir: String, table: String): Seq[(Boolean, Int, Set[Long])] =
    StoreLayout.current(spark, dir, table).buckets.map(b => (b.files.nonEmpty, b.sinceMerge, b.pending))

  /** A stream that is not stream 1 but hashes to its bucket. */
  private val fresh = Iterator.from(100).map(_.toLong)
    .find(s => SummaryDB.bucketOf(s, SummaryDB.Buckets) == SummaryDB.bucketOf(1L, SummaryDB.Buckets)).get

  /** Twelve elements of each stream in `sids` sharing timestamps four at a
    * time, from `from` * 10 on, their arrival order (`seq`) shuffled
    * against their values.
    */
  private def ties(sids: Seq[Long], from: Int): Seq[Event] = {
    val arrival = new scala.util.Random(7).shuffle((0 until 12).toList)
    for (sid <- sids; i <- 0 until 12)
      yield Event(sid, arrival(i).toLong, (from + i / 4) * 10L, ((i * 5 + sid) % 13).toDouble)
  }

  /** Local batches with integer values: the first into an empty store,
    * late rows, equal timestamps, a new stream in a populated bucket.
    */
  private val localAppends: Seq[Seq[Event]] = Seq(
    rows(1L to 12L, 0, 40, 0),
    rows(Seq(2L, 3L), 40, 25, 4),
    ties(Seq(5L, 6L), 200),
    rows(Seq(fresh), 0, 30, 2) ++ rows(Seq(1L), 40, 10, 0),
    rows(5L to 9L, 300, 15, 1),
    rows(Seq(2L, 3L, 7L, fresh), 320, 12, 2))

  /** Two stores that take the same appends, `db` by the driver guard and
    * `forced` on the Spark path ([[TinyParquet.forcingSpark]]);
    * `reopenAfter` appends, both are reopened.
    */
  private def twins(mergeEvery: Int, withKinds: Boolean, reopenAfter: Int): Unit = {
    val dirs = Seq("graft_twin", "graft_twin0").map(Files.createTempDirectory(_).toString)
    def open(d: String) = {
      val store = SummaryDB.open(spark, d, mergeEvery)
      if (withKinds) enableAll(store)
      store
    }
    var Seq(db, forced) = dirs.map(open)
    val tables = "summary_windows" +: (if (withKinds) kinds.map(_._2.table) else Nil)
    localAppends.zipWithIndex.foreach { case (batch, i) =>
      val (_, counts) = SparkCounts.of(spark)(db.append(batch.toDS()))
      if (!withKinds) assert(counts.jobs == 0L, s"append ${i + 1}: ${counts.jobLines}")
      TinyParquet.forcingSpark(forced.append(batch.toDS()))
      assert(wal(db) == wal(forced), s"append ${i + 1}")
      tables.foreach(t => assert(layout(dirs(0), t) == layout(dirs(1), t), s"append ${i + 1}: $t"))
      if (i + 1 == reopenAfter) { db = open(dirs(0)); forced = open(dirs(1)) }
    }
    assert(db.rawEvents.filter($"streamId" === 2L && $"ts".between(391L, 394L)).count() == 4L,
      "late rows must have been clamped")
    assert(exact(db.summaryWindows.toDF()) == exact(forced.summaryWindows.toDF()))
    if (withKinds) kinds.foreach { case (tableOf, kind, state) =>
      if (kind.table == QuantileSummary.kind().table)
        assert(observed(tableOf(db), state) == observed(tableOf(forced), state), kind.table)
      else assert(exact(tableOf(db)) == exact(tableOf(forced)), kind.table)
    }
    val events = walEvents(db)
    def windows(ds: Dataset[SummaryWindow]) = ds.collect().sortBy(w => (w.streamId, w.cs)).toSeq
    if (mergeEvery == 1)
      assert(windows(db.summaryWindows) == windows(Summarizer.summarizePerStream(events, specOf)))
    ((1L to 12L) :+ fresh).foreach { sid =>
      val c = db.query(sid, "count", Long.MinValue, Long.MaxValue)
      assert(c.value == events.filter($"streamId" === sid).count().toDouble && c.error == 0.0, s"stream $sid")
    }
  }

  test("driver and Spark appends leave identical stores: mergeEvery = 1") {
    twins(mergeEvery = 1, withKinds = false, reopenAfter = 0)
  }

  test("driver and Spark appends leave identical stores: mergeEvery = 3, reopened mid-cadence") {
    twins(mergeEvery = 3, withKinds = false, reopenAfter = 4)
  }

  test("driver and Spark appends leave identical stores: every summary kind") {
    twins(mergeEvery = 1, withKinds = true, reopenAfter = 0)
  }

  test("a WAL of driver- and Spark-written batches reads, replays and recomputes as an all-Spark one") {
    val dirs = Seq("graft_mixed", "graft_mixed0").map(Files.createTempDirectory(_).toString)
    val Seq(mixed, allSpark) = dirs.map(SummaryDB.open(spark, _))
    def nonLocal(b: Seq[Event]) = spark.createDataFrame(b).as[Event].repartition(2)
    val Seq(b1, b2, b3, b4, b5, _) = localAppends
    mixed.append(b1.toDS()); TinyParquet.forcingSpark(allSpark.append(b1.toDS()))
    TinyParquet.forcingSpark { mixed.append(b2.toDS()); allSpark.append(b2.toDS()) }
    mixed.appendOnce(7L, b3.toDS()); allSpark.appendOnce(7L, nonLocal(b3))
    mixed.append(nonLocal(b4)); allSpark.append(nonLocal(b4))
    mixed.append(b5.toDS()); TinyParquet.forcingSpark(allSpark.append(b5.toDS()))
    def sorted(df: DataFrame) = df.collect().map(_.toSeq).sortBy(_.toString).toSeq
    def same(label: String): Unit = {
      assert(mixed.rawEvents.schema == allSpark.rawEvents.schema, label)
      assert(wal(mixed) == wal(allSpark), label)
      Seq[SummaryDB => DataFrame](_.summaryWindows.toDF(), _.landmarkSpans.toDF(), _.landmarkElems.toDF())
        .foreach(table => assert(sorted(table(mixed)) == sorted(table(allSpark)), label))
    }
    same("interleaved")
    // A crash between batch 7's driver-written WAL and its commit marker:
    // the replay rewrites the tag and recomputes from the WAL.
    dirs.foreach(d => StoreLayout.fs(spark, d).delete(new org.apache.hadoop.fs.Path(s"$d/commits/batch-7"), false))
    mixed.appendOnce(7L, b3.toDS()); allSpark.appendOnce(7L, nonLocal(b3))
    same("replayed")
    Seq(mixed, allSpark).foreach { store =>
      store.compactWal()
      store.newLandmark(3L, 100L, 300L)
    }
    assert(mixed.landmarkElems.count() > 0L)
    same("recomputed")
  }
}
