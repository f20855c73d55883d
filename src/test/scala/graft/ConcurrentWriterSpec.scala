package graft

import graft.core.{BucketManifest, Event, StreamMeta, SummaryDB}
import java.nio.file.Files
import org.apache.hadoop.fs.Path

/** The single-writer guard on the versioned swap: a second concurrent
  * writer fails loudly instead of racing the version pointer, readers
  * never block on (or see) the lock, sequential writers need no
  * handshake, and a stale lock from a dead writer is cleared with
  * [[SummaryDB.breakLock]]. A version without its published manifest is
  * invisible, and pruning keeps exactly what the kept manifests list. (The reference is single-writer by
  * construction — one process, one store; at cluster scale two jobs can
  * open the same dir, so the contract must be enforced, not assumed.)
  */
class ConcurrentWriterSpec extends SparkSpec {
  import spark.implicits._

  private def events(n: Int, sid: Long = 1L) =
    (0 until n).map(i => Event(sid, i.toLong, i.toLong, i.toDouble)).toDS()

  private def freshDir(): String =
    Files.createTempDirectory("graft_lock").toString + "/db"

  test("second concurrent writer fails loudly; first proceeds; lock releases") {
    val dir = freshDir()
    val db1 = SummaryDB.open(spark, dir)
    val db2 = SummaryDB.open(spark, dir)
    db1.withWriteLock {
      val e = intercept[IllegalStateException] { db2.append(events(5)) }
      assert(e.getMessage.contains("locked by another writer"))
      assert(e.getMessage.contains("pid="), "lock message names the holder")
      // The holder itself keeps working (reentrant within the call).
      db1.append(events(10))
    }
    // Lock released at call exit: the second writer now succeeds.
    db2.append(events(5, sid = 2L))
    assert(db1.summaryWindows.filter($"streamId" === 1L).count() > 0)
    assert(db2.summaryWindows.filter($"streamId" === 2L).count() > 0)
  }

  test("readers never block on the lock and see only complete versions") {
    val dir = freshDir()
    val db1 = SummaryDB.open(spark, dir)
    db1.append(events(20))
    val before = db1.summaryWindows.count()
    db1.withWriteLock {
      // A pure reader opened mid-write reads the current complete
      // version without touching the lock.
      val reader = SummaryDB.open(spark, dir)
      assert(reader.summaryWindows.count() == before)
      assert(reader.query(1L, "count", Long.MinValue, Long.MaxValue).value == 20.0)
    }
  }

  test("sequential writers (reopen after restart) need no handshake") {
    val dir = freshDir()
    SummaryDB.open(spark, dir).append(events(8))
    val db2 = SummaryDB.open(spark, dir)
    db2.append(events(8, sid = 2L)) // no breakLock, no error
    assert(db2.summaryWindows.select("streamId").distinct().count() == 2)
  }

  test("breakLock clears a stale lock from a dead writer") {
    val dir = freshDir()
    val db1 = SummaryDB.open(spark, dir)
    db1.append(events(5))
    // Simulate a writer that died mid-call: its lock file remains.
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$dir/_writer.lock"), false)
    out.write("dead-writer pid=0 at=0".getBytes("UTF-8")); out.close()
    intercept[IllegalStateException] { db1.append(events(3, sid = 3L)) }
    assert(SummaryDB.breakLock(spark, dir))
    assert(!SummaryDB.breakLock(spark, dir), "second break finds nothing")
    db1.append(events(3, sid = 3L))
    assert(db1.summaryWindows.filter($"streamId" === 3L).count() > 0)
  }

  test("crashed writer mid-swap: stale lock + uncommitted version, full recovery") {
    val dir = freshDir()
    val db1 = SummaryDB.open(spark, dir)
    db1.append(events(6))
    val committed = db1.summaryWindows.count()
    // Simulate a writer that died between writing a new version and its
    // _SUCCESS marker: an uncommitted version dir AND its stale lock.
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val junk = new org.apache.hadoop.fs.Path(
      s"$dir/summary_windows__v${System.currentTimeMillis() + 1}")
    fs.mkdirs(junk)
    val part = fs.create(new org.apache.hadoop.fs.Path(junk, "part-00000.parquet"), false)
    part.write("not parquet".getBytes("UTF-8")); part.close() // no _SUCCESS
    val lock = fs.create(new org.apache.hadoop.fs.Path(s"$dir/_writer.lock"), false)
    lock.write("crashed pid=0 at=0".getBytes("UTF-8")); lock.close()
    // Readers resolve only complete versions: the torn one is invisible.
    assert(SummaryDB.open(spark, dir).summaryWindows.count() == committed)
    // Writes fail loudly until the documented recovery step...
    intercept[IllegalStateException] { db1.append(events(4, sid = 2L)) }
    assert(SummaryDB.breakLock(spark, dir))
    // ...after which the next write succeeds and supersedes the torn
    // version (its stamp is monotonic past the junk dir's).
    db1.append(events(4, sid = 2L))
    val db2 = SummaryDB.open(spark, dir)
    assert(db2.summaryWindows.select("streamId").distinct().count() == 2)
    assert(db2.summaryWindows.count() > committed)
  }

  test("mutating entry points all take the lock") {
    val dir = freshDir()
    val db1 = SummaryDB.open(spark, dir)
    val db2 = SummaryDB.open(spark, dir)
    db1.append(events(10))
    db1.withWriteLock {
      intercept[IllegalStateException] { db2.newStream(StreamMeta.exponential(9L, 2.0)) }
      intercept[IllegalStateException] { db2.newLandmark(1L, 2L, 4L) }
      intercept[IllegalStateException] { db2.startLandmark(1L, 5L) }
      intercept[IllegalStateException] { db2.appendOnce(0L, events(2)) }
      intercept[IllegalStateException] { db2.enableDistinctSummaries() }
      intercept[IllegalStateException] { db2.enableFreqSummaries() }
      intercept[IllegalStateException] { db2.enableSampleSummaries() }
    }
  }

  test("create-if-absent is atomic under contention: 16 instances, one dir") {
    // WriterLockSpec's O_EXCL test over SummaryDB values: each instance
    // has its own depth counter, so every entry is a real acquire, and
    // at most one may ever be inside; all 16 eventually get in. Five
    // rounds, because a non-atomic create loses only some races.
    (0 until 5).foreach { round =>
      val dir = freshDir()
      val dbs = (0 until 16).map(_ => SummaryDB.open(spark, dir))
      val active = new java.util.concurrent.atomic.AtomicInteger(0)
      val done = new java.util.concurrent.atomic.AtomicInteger(0)
      @volatile var violation: Option[String] = None
      val threads = dbs.map { db =>
        new Thread(() => {
          var acquired = false
          while (!acquired && violation.isEmpty) {
            try {
              db.withWriteLock {
                val now = active.incrementAndGet()
                if (now != 1) violation = Some(s"$now writers inside the lock at once")
                Thread.sleep(1)
                active.decrementAndGet()
              }
              acquired = true
              done.incrementAndGet()
            } catch {
              case _: IllegalStateException => Thread.sleep(1) // locked; retry
            }
          }
        })
      }
      // daemon: a leaked lock must fail this test, not hang the JVM
      threads.foreach { t => t.setDaemon(true); t.start() }
      threads.foreach(_.join(30000))
      assert(violation.isEmpty, s"round $round: $violation")
      assert(done.get() == 16, s"round $round: all contenders must acquire, got ${done.get()}")
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_writer.lock")))
    }
  }

  private def fs(dir: String) = StoreLayout.fs(spark, dir)

  /** Streams 1..n, `per` elements each from element `from` on. */
  private def fleet(sids: Seq[Long], from: Int, per: Int) =
    (for (sid <- sids; i <- from until from + per) yield Event(sid, i.toLong, i.toLong, (i % 5).toDouble)).toDS()

  private def rows(db: SummaryDB) =
    db.summaryWindows.collect().sortBy(w => (w.streamId, w.cs)).toSeq

  test("a torn manifest is invisible to readers and superseded by the next write") {
    for (torn <- Seq("temp manifest", "no manifest")) {
      val dir = freshDir()
      val db = SummaryDB.open(spark, dir)
      db.append(fleet(1L to 8L, 0, 30))
      val (current, m) = StoreLayout.manifests(spark, dir, "summary_windows").head
      val committed = rows(db)
      // A writer that died after its data files, before the manifest's
      // rename: a copy of one real bucket file, and a partial manifest
      // under its temp name or none at all.
      val junk = new Path(s"$dir/summary_windows__v${current.getName.split("__v").last.toLong + 1}")
      fs(dir).mkdirs(junk)
      val src = m.buckets.find(_.files.nonEmpty).get.files.head
      org.apache.hadoop.fs.FileUtil.copy(fs(dir), new Path(s"$dir/${src.path}"), fs(dir),
        new Path(junk, new Path(src.path).getName), false, spark.sparkContext.hadoopConfiguration)
      if (torn == "temp manifest") {
        val out = fs(dir).create(new Path(junk, s"${BucketManifest.Name}.tmp"), false)
        out.write(s"buckets\t${SummaryDB.Buckets}\n".getBytes("UTF-8")); out.close()
      }
      val reader = SummaryDB.open(spark, dir)
      assert(rows(reader) == committed, torn)
      assert(reader.query(3L, "count", 0L, 100L).value == 30.0, torn)
      // The next write gets a newer stamp, and its prune drops the torn one.
      db.append(fleet(Seq(2L), 30, 10))
      assert(!fs(dir).exists(junk), s"$torn: the torn version survived the next write")
      assert(reader.query(2L, "count", 0L, 100L).value == 40.0, torn)
      assert(reader.query(3L, "count", 0L, 100L).value == 30.0, torn)
    }
  }

  test("20 appends to one bucket carry the untouched buckets' original files by reference") {
    val dir = freshDir()
    val db = SummaryDB.open(spark, dir)
    val sids = 1L to 40L
    db.append(fleet(sids, 0, 20))
    val first = StoreLayout.current(spark, dir, "summary_windows")
    val hot = SummaryDB.bucketOf(1L, SummaryDB.Buckets)
    val inHot = sids.filter(SummaryDB.bucketOf(_, SummaryDB.Buckets) == hot)
    (1 to 20).foreach(i => db.append(fleet(inHot, 20 * i, 20)))
    val last = StoreLayout.current(spark, dir, "summary_windows")
    val untouched = (0 until SummaryDB.Buckets).filter(_ != hot)
    assert(untouched.exists(first.buckets(_).files.nonEmpty))
    untouched.foreach { b =>
      assert(last.buckets(b).files == first.buckets(b).files, s"bucket $b")
      first.buckets(b).files.foreach(f => assert(fs(dir).exists(new Path(s"$dir/${f.path}")), f.path))
    }
    assert(last.buckets(hot).files != first.buckets(hot).files)
    inHot.foreach(s => assert(db.query(s, "count", 0L, 1000L).value == 420.0))
    sids.filterNot(inHot.contains).foreach(s => assert(db.query(s, "count", 0L, 1000L).value == 20.0))
  }

  test("pruning leaves no file that neither the current manifest nor its predecessor references") {
    val dir = freshDir()
    val db = SummaryDB.open(spark, dir)
    db.enableDistinctSummaries()
    val sids = (1L to 24L).toVector
    db.append(fleet(sids, 0, 10))
    val rng = new scala.util.Random(7)
    (1 to 8).foreach { i =>
      db.append(fleet(rng.shuffle(sids).take(1 + rng.nextInt(5)), 10 * i, 10))
      Seq("summary_windows", "distinct_sketches").foreach { t =>
        val kept = StoreLayout.manifests(spark, dir, t).take(2)
        val referenced = kept.flatMap(_._2.files.map(f => new Path(s"$dir/${f.path}").toUri.getPath)).toSet
        val onDisk = StoreLayout.versionDirs(spark, dir).filter(_._1 == t).flatMap(v => fs(dir).listStatus(v._3))
          .map(_.getPath).filter(_.getName.endsWith(".parquet")).map(_.toUri.getPath)
        assert(onDisk.toSet == referenced, s"append $i, $t")
        // Each version directory left is a kept version or holds a kept file.
        StoreLayout.versionDirs(spark, dir).filter(_._1 == t).foreach { v =>
          assert(kept.exists(_._1.getName == v._3.getName) ||
            referenced.exists(_.startsWith(v._3.toUri.getPath + "/")), s"append $i: ${v._3}")
        }
      }
    }
  }
}
