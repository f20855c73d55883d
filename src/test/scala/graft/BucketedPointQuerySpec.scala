package graft

import graft.core._
import graft.sources.TinyParquet
import java.nio.file.Files
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.Dataset

/** Stream-bucketed stream tables and the zero-job point query: every
  * committed version of a stream table is a manifest over
  * `SummaryDB.Buckets` hash buckets of `streamId` (Spark's own partition
  * id), each bucket's files sorted by (streamId, ts); `SummaryDB.query`
  * answers from the stream's bucket read on the driver, bit-identical to
  * the Spark path that `TinyParquet.forcingSpark` forces. A version
  * written before manifests, and a malformed manifest, fail loudly.
  */
class BucketedPointQuerySpec extends SparkSpec {
  import spark.implicits._

  private val params = QueryParams()
  private val ops = Seq("count", "sum", "max", "min")

  private def fs(dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Integer values, so a distributed sum cannot differ by order. */
  private def events(sids: Seq[Long], from: Int, until: Int): Dataset[Event] =
    (for (sid <- sids; i <- from until until)
      yield Event(sid, i.toLong, i.toLong * 10L, ((i * 7 + sid) % 23).toDouble)).toDS()

  /** Committed version directories of every table, as (table, dir): a
    * stream table's carries its manifest, a catalog table's `_SUCCESS`.
    */
  private def committed(dir: String): Seq[(String, Path)] =
    StoreLayout.versionDirs(spark, dir)
      .filter(v => Seq(BucketManifest.Name, "_SUCCESS").exists(m => fs(dir).exists(new Path(v._3, m))))
      .map(v => v._1 -> v._3)

  private val catalogTables = Set("stream_meta", "landmark_intervals")

  /** Every committed version of every stream table has a manifest that
    * covers all buckets, and every file it references holds rows of its
    * bucket only, sorted by (streamId, ts).
    */
  private def assertBucketed(dir: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val versions = committed(dir).filterNot(v => catalogTables(v._1))
    assert(versions.nonEmpty)
    versions.foreach { case (table, v) =>
      assert(fs(dir).exists(new Path(v, BucketManifest.Name)), s"$v has no manifest")
      val m = BucketManifest.read(fs(dir), v)
      assert(m.buckets.size == SummaryDB.Buckets, s"$v covers ${m.buckets.size} buckets")
      for ((bucket, b) <- m.buckets.zipWithIndex; f <- bucket.files) {
        val file = new Path(s"$dir/${f.path}")
        assert(fs(dir).getFileStatus(file).getLen == f.bytes, s"$table: $file")
        val keys = TinyParquet.fileRows(conf, Seq(file))
          .map(g => (g.getLong("streamId", 0), g.getLong("ts", 0)))
        keys.foreach { case (sid, _) =>
          assert(SummaryDB.bucketOf(sid, SummaryDB.Buckets) == b, s"$table: stream $sid in $file")
        }
        assert(keys == keys.sorted, s"$table: $file is not sorted by (streamId, ts)")
      }
    }
  }

  /** The buckets whose files differ between two manifests. */
  private def changed(a: BucketManifest, b: BucketManifest): Set[Int] =
    a.buckets.indices.filter(i => a.buckets(i).files != b.buckets(i).files).toSet

  private def bits(r: AggResult): (Long, Long) =
    (java.lang.Double.doubleToRawLongBits(r.value), java.lang.Double.doubleToRawLongBits(r.error))

  /** The default point query answers bit-identically to the one forced
    * onto Spark and to one over the whole tables; the forced one runs at
    * least `forcedJobs` jobs, the default one reads on the driver and
    * runs none.
    */
  private def assertParity(db: SummaryDB, sid: Long, ranges: Seq[(Long, Long)], forcedJobs: Long = 1L): Unit =
    for ((t0, t1) <- ranges; op <- ops) {
      val (fast, fc) = SparkCounts.of(spark)(db.query(sid, op, t0, t1, params))
      val (slow, sc) = SparkCounts.of(spark)(TinyParquet.forcingSpark(db.query(sid, op, t0, t1, params)))
      assert(bits(fast) == bits(slow), s"stream $sid $op [$t0, $t1]: $fast vs $slow")
      val whole = QueryEngine.queryOne(db.summaryWindows, db.landmarkSpans, db.landmarkElems,
        sid, op, t0, t1, params)
      assert(bits(whole) == bits(slow), s"stream $sid $op [$t0, $t1]: whole tables $whole vs $slow")
      assert(fc.jobs == 0L, s"stream $sid $op [$t0, $t1] ran ${fc.jobs} jobs")
      assert(sc.jobs >= forcedJobs, s"stream $sid $op [$t0, $t1]: forced run took the driver path")
    }

  private val sids = (1L to 6L)
  // 1 and 2 take both appends of storeWithData, 5 only the first; 2
  // also holds the open landmark.
  private val probed = Seq(1L, 2L, 5L)
  private val ranges = Seq((0L, 3000L), (450L, 1210L), (1990L, 2990L), (5000L, 6000L))

  private def storeWithData(): (String, SummaryDB) = {
    val dir = Files.createTempDirectory("graft_bucketed").toString
    val db = SummaryDB.open(spark, dir)
    db.append(events(sids, 0, 200))
    db.append(events(sids.take(3), 200, 300))
    (dir, db)
  }

  test("stream tables read with their known schema: no inference job") {
    val (dir, db) = storeWithData()
    val (_, reads) = SparkCounts.of(spark) {
      db.summaryWindows; db.landmarkSpans; db.landmarkElems; ()
    }
    assert(reads.jobs == 0L, s"resolving the three tables ran ${reads.jobs} jobs")
    val files = StoreLayout.paths(dir, StoreLayout.current(spark, dir, "summary_windows"))
    def fleet(sw: Dataset[SummaryWindow]) = QueryEngine.rangeQueryAll(
      sw, db.landmarkSpans, db.landmarkElems, "count", 0L, 3000L, params).collect().toSet
    val (inferred, bare) = SparkCounts.of(spark)(fleet(spark.read.parquet(files: _*).as[SummaryWindow]))
    val (known, typed) = SparkCounts.of(spark)(fleet(db.summaryWindows))
    assert(known == inferred)
    assert(typed.jobs == bare.jobs - 1, s"fleet query: ${typed.jobs} jobs with the schema, ${bare.jobs} inferring it")
  }

  test("point query parity: plain store, absent streams, empty buckets") {
    val (dir, db) = storeWithData()
    probed.foreach(sid => assertParity(db, sid, ranges))
    val occupied = StoreLayout.current(spark, dir, "summary_windows").buckets.zipWithIndex
      .collect { case (b, i) if b.files.nonEmpty => i }.toSet
    val absent = Iterator.from(100).map(_.toLong)
    // Absent from the store, but its bucket holds other streams' rows.
    val sharing = absent.find(s => occupied(SummaryDB.bucketOf(s, SummaryDB.Buckets))).get
    assertParity(db, sharing, ranges)
    // A bucket with no file is an empty bucket: nothing to read either way.
    val lonely = absent.find(s => !occupied(SummaryDB.bucketOf(s, SummaryDB.Buckets))).get
    assertParity(db, lonely, ranges, forcedJobs = 0L)
    assert(bits(db.query(lonely, "count", 0L, 3000L, params)) ==
      bits(db.query(sharing, "count", 0L, 3000L, params)))
  }

  test("point query parity: global landmarks and an open per-stream landmark") {
    val (_, db) = storeWithData()
    db.append(events(sids, 300, 320), landmarkIntervals = Seq((3000L, 3100L)))
    db.startLandmark(2L, 3150L)
    db.append(events(Seq(2L, 5L), 320, 400))
    assert(db.hasOpenLandmark(2L))
    val lmRanges = ranges ++ Seq((2990L, 3120L), (3050L, 3990L), (3160L, 3170L), (0L, 4000L))
    probed.foreach(sid => assertParity(db, sid, lmRanges))
    val c = db.query(2L, "count", 3200L, 3990L, params)
    val raw = db.rawEvents.filter($"streamId" === 2L && $"ts".between(3200L, 3990L)).count()
    assert(c.value == raw.toDouble && c.error == 0.0, s"open landmark is exact: $c, $raw rows")
  }

  test("layout: every committed stream-table version is bucketed, sorted and marked") {
    val dir = Files.createTempDirectory("graft_layout").toString
    val db = SummaryDB.open(spark, dir)
    db.append(events(sids, 0, 150))
    assertBucketed(dir)
    db.appendOnce(0L, events(sids, 150, 200))
    db.appendOnce(0L, events(sids, 150, 200)) // committed: skipped
    // A crash between the events write and the commit marker: the
    // replay recomputes the summaries from the WAL.
    db.appendOnce(1L, events(sids, 200, 220))
    fs(dir).delete(new Path(s"$dir/commits/batch-1"), false)
    db.appendOnce(1L, events(sids, 200, 220))
    assertBucketed(dir)
    db.enableDistinctSummaries()
    db.enableFreqSummaries()
    db.enableSampleSummaries()
    db.enableQuantileSummaries()
    assertBucketed(dir)
    // An append to k buckets writes one file for each of those k in every
    // table it absorbs into, and the manifests change those k only.
    val k = sids.map(SummaryDB.bucketOf(_, SummaryDB.Buckets)).toSet
    assert(k.size < SummaryDB.Buckets)
    val absorbing = Seq("summary_windows", DistinctSummary.Kind.table, FreqSummary.Kind.table,
      SampleSummary.kind().table, QuantileSummary.kind().table)
    val before = absorbing.map(t => t -> StoreLayout.current(spark, dir, t)).toMap
    db.append(events(sids, 220, 260))
    absorbing.foreach { t =>
      val (v, after) = StoreLayout.manifests(spark, dir, t).head
      assert(changed(before(t), after) == k, t)
      val written = TinyParquet.dataFiles(spark.sparkContext.hadoopConfiguration, v.toString)
        .map(_.getPath.getName.stripPrefix("part-").take(5).toInt)
      assert(written.sorted == k.toSeq.sorted, s"$t: files for buckets $written, appended to $k")
    }
    assertBucketed(dir)
    db.newLandmark(3L, 2000L, 2100L)
    db.startLandmark(4L, 2500L)
    db.append(events(sids, 260, 280))
    db.endLandmark(4L, 2700L)
    assertBucketed(dir)
    val tables = committed(dir).map(_._1).toSet -- catalogTables
    assert(tables == Set("summary_windows", "landmark_spans", "landmark_elems", DistinctSummary.Kind.table,
      FreqSummary.Kind.table, SampleSummary.kind().table, QuantileSummary.kind().table))
    // The known schema each table is read with is the one it was written with.
    def types(s: org.apache.spark.sql.types.StructType) = s.fields.map(f => f.name -> f.dataType).toMap
    Seq(DistinctSummary.Kind.table -> db.distinctSketches, FreqSummary.Kind.table -> db.freqSketches,
      SampleSummary.kind().table -> db.sampleWindows, QuantileSummary.kind().table -> db.quantileWindows,
      "summary_windows" -> db.summaryWindows.toDF(), "landmark_spans" -> db.landmarkSpans.toDF(),
      "landmark_elems" -> db.landmarkElems.toDF()).foreach { case (table, read) =>
      val files = StoreLayout.paths(dir, StoreLayout.current(spark, dir, table))
      assert(types(spark.read.parquet(files: _*).schema) == types(read.schema), table)
      assert(read.count() > 0L, table)
    }
    assert(db.query(3L, "count", 0L, 2790L, params).value == 280.0)
  }

  test("a stream-table version written before manifests fails loudly; a torn one is skipped") {
    val (dir, db) = storeWithData()
    val before = db.rawEvents.count()
    def stamp() = StoreLayout.versionDirs(spark, dir).map(_._2).max + 1
    // a torn version (no marker at all) is skipped, as a crashed write
    db.summaryWindows.write.parquet(s"$dir/summary_windows__v${stamp()}")
    fs(dir).delete(new Path(StoreLayout.versionDirs(spark, dir).maxBy(_._2)._3, "_SUCCESS"), false)
    assert(db.query(1L, "count", 0L, 3000L, params).value == 300.0)
    // Spark's own write of the table: _SUCCESS, no manifest
    val legacy = new Path(s"$dir/summary_windows__v${stamp()}")
    db.summaryWindows.write.parquet(legacy.toString)
    assert(fs(dir).exists(new Path(legacy, "_SUCCESS")))
    val calls: Seq[(String, () => Any)] = Seq(
      "query" -> (() => db.query(1L, "count", 0L, 3000L, params)),
      "append" -> (() => db.append(events(Seq(1L), 300, 310))),
      "summaryWindows" -> (() => db.summaryWindows))
    for ((name, call) <- calls) {
      val e = intercept[IllegalStateException](call())
      assert(e.getMessage.contains(legacy.getName), s"$name: ${e.getMessage}")
    }
    assert(db.rawEvents.count() == before, "the failed append wrote its batch")
  }

  test("a malformed manifest fails loudly, naming the file and the line") {
    val (dir, db) = storeWithData()
    val (version, m) = StoreLayout.manifests(spark, dir, "summary_windows").head
    val manifest = new Path(version, BucketManifest.Name)
    val lines = {
      val in = fs(dir).open(manifest)
      try new String(in.readAllBytes(), "UTF-8").split('\n').toVector finally in.close()
    }
    def rewrite(ls: Seq[String]): Unit = {
      val out = fs(dir).create(manifest, true)
      try out.write(ls.mkString("", "\n", "\n").getBytes("UTF-8")) finally out.close()
    }
    // the bucket of stream 1 and one whose files differ from it, swapped
    val b = m.bucketOf(1L)
    val other = m.buckets.indices.find(i => m.buckets(i).files != m.buckets(b).files).get
    rewrite(lines.updated(b + 1, lines(other + 1)).updated(other + 1, lines(b + 1)))
    val swapped = intercept[IllegalStateException](db.query(1L, "count", 0L, 3000L, params))
    assert(swapped.getMessage.contains(manifest.toString), swapped.getMessage)
    // a line cut short of its fields
    rewrite(lines.updated(b + 1, lines(b + 1).split('\t').take(2).mkString("\t")))
    val truncated = intercept[IllegalStateException](db.query(1L, "count", 0L, 3000L, params))
    assert(truncated.getMessage.contains(manifest.toString), truncated.getMessage)
    rewrite(lines)
    assert(db.query(1L, "count", 0L, 3000L, params).value == 300.0)
  }
}
