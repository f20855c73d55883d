package graft.core

import graft.estimator.SumEstimator
import graft.windowing.{DecayModel, WindowingSpec}
import org.apache.hadoop.fs.{FileSystem, Path}
import graft.plans.SummaryRewrite
import graft.sources.{TinyParquet, WriterLock}
import org.apache.parquet.example.data.Group
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** The persistent multi-stream store: catalog + events + summary +
  * landmark tables under one directory — the Spark-native analogue of
  * the reference DB (`/root/reference/core/db.go:15-47`; stream metadata
  * per `protos/summarydb.capnp:47-54`).
  *
  * Layout (all Parquet):
  *   dir/stream_meta__vN        one row per declared stream
  *   dir/events                 raw appends (the reference's WAL role)
  *   dir/summary_windows__vN    the decayed materialized view
  *   dir/landmark_spans__vN     declared spans of matched landmark windows
  *   dir/landmark_elems__vN     exact landmark elements, ONE PER ROW
  *   dir/landmark_intervals__vN declared exact [t0,t1] spans
  *   dir/commits                batch-id markers for streaming replay
  *
  * Every stream table (summary windows, landmark spans and elements,
  * and each enabled [[SummaryKind]]'s table) is [[SummaryDB.Buckets]]
  * hash buckets of `streamId`, each bucket's rows sorted by
  * (streamId, ts), and each version of it is one [[BucketManifest]]:
  * `dir/<table>__vN/_manifest` lists every bucket's file(s), relative to
  * `dir`. A version directory holds only the files of the buckets its
  * write touched; the other buckets point at files in older versions,
  * so an append rewrites only its streams' buckets
  * ([[writeStreamTable]]). [[query]] reads one bucket.
  *
  * Small work runs on the driver, with no Spark job, whenever what it
  * reads is tiny by the one guard [[TinyParquet.onDriver]]: [[open]]'s
  * catalog read, a point query's bucket read, a fleet query
  * ([[QueryEngine.rangeQueryAll]]) over [[summaryWindows]],
  * [[landmarkSpans]] and [[landmarkElems]] (bare scans of the current
  * versions), and the append of a local batch (a local relation) to a
  * store without landmark intervals, whose WAL file and touched
  * `summary_windows` buckets are built and written there
  * ([[appendOnDriver]]). The three stream tables are read there by one
  * column-wise reader ([[TinyParquet.columns]], typed by
  * [[StreamTable]]), which decodes each file once per process: the
  * driver-side append hands it the bucket files it writes, and a publish
  * or prune drops the files it replaces or deletes. Each call resolves a
  * stream table by one listing of its versions; the manifest and Dataset
  * of a version this instance has resolved before are reused
  * ([[resolve]]). Both append paths share the bucket bookkeeping
  * ([[bucketPlan]]) and the manifest publish ([[publish]]).
  *
  * Landmark elements are rows keyed by (streamId, windowId), never one
  * array per window: a landmark left open across a billion-event
  * stretch stays at constant row width instead of building toward
  * Spark's ~2 GB single-value ceiling; queries fold them into bounded
  * per-window digests distributively ([[QueryEngine.landmarkDigests]]).
  *
  * Crash safety (the reference's atomic "brew" commits,
  * `/root/reference/storage/badger_backend.go:210-263`): every table
  * write lands in a fresh `__v<stamp>` directory, and readers resolve the
  * newest version that is complete: a stream table's once its manifest
  * is renamed into place after the data (its Spark write leaves no
  * `_SUCCESS`), a catalog table's once Spark's `_SUCCESS` marker lands.
  * A crash at any point leaves a complete older or newer table, never a
  * partial one. After a successful write, whatever neither the newest
  * version nor its predecessor references is pruned best-effort. A
  * stream-table version with `_SUCCESS` but no manifest was written
  * before manifests existed: resolving it throws, naming it.
  */
final class SummaryDB private (
    val spark: SparkSession,
    dir: String,
    mergeEvery: Int = 1) {
  import spark.implicits._
  import SummaryDB.BucketPlan
  require(mergeEvery >= 1, s"mergeEvery must be >= 1: $mergeEvery")

  private def p(name: String) = s"$dir/$name"

  private def fs: FileSystem = new Path(dir).getFileSystem(conf)

  private def conf = spark.sparkContext.hadoopConfiguration

  // ------------------------------------------------------------ write lock

  /** Advisory single-writer guard on the versioned swap. The version
    * protocol is crash-safe for ONE writer (write-new + `_SUCCESS` +
    * prune), but two jobs opening the same dir could interleave their
    * multi-table swaps — each sees the other's half-applied frontier
    * and the losers' versions get pruned mid-read. So every public
    * mutating call (append/appendOnce/newStream/landmark ops/enable*)
    * holds `dir/_writer.lock` for the CALL's duration: acquired by
    * [[WriterLock.acquire]]'s atomic create-if-absent, token-checked on
    * release, reentrant within the instance. A second concurrent writer fails loudly
    * instead of racing. Readers never take the lock — they resolve only
    * complete versions (a stream table's manifest, a catalog table's
    * `_SUCCESS`).
    *
    * Scoped (per call, not per instance) so sequential writers — the
    * normal reopen-after-restart flow, including streaming checkpoint
    * replay — need no handshake. A writer that DIES mid-call leaves a
    * stale lock; that is intentionally loud (the died writer may have
    * left an uncommitted batch worth inspecting) and is cleared with
    * [[SummaryDB.breakLock]].
    */
  private val lockPath = WriterLock.lockPath(dir)
  // Depth is per INSTANCE, not per thread (WriterLock.withLock's
  // reentrancy): two SummaryDB values on one thread must exclude each
  // other.
  private var lockDepth = 0
  private var lockToken: String = _

  private[graft] def withWriteLock[T](body: => T): T = {
    if (lockDepth == 0) lockToken = WriterLock.acquire(fs, lockPath, s"SummaryDB at $dir")
    lockDepth += 1
    try body
    finally {
      lockDepth -= 1
      if (lockDepth == 0) {
        WriterLock.release(fs, lockPath, lockToken)
        lockToken = null
      }
    }
  }

  // ------------------------------------------------------- versioned tables

  /** Every `name__v<stamp>` directory of `name`, complete or not, as
    * (stamp, path). */
  private def versions(name: String): Seq[(Long, Path)] = {
    val base = new Path(dir)
    if (!fs.exists(base)) return Seq.empty
    val prefix = name + "__v"
    fs.listStatus(base).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
      .map(s => s.getPath.getName.stripPrefix(prefix).toLong -> s.getPath)
  }

  /** Newest complete version directory of `name`, if any: one with a
    * published manifest (a stream table) or Spark's `_SUCCESS` (a
    * catalog table; on a stream table it marks a version written before
    * manifests, which [[BucketManifest.read]] refuses).
    */
  private def currentVersion(name: String): Option[Path] = complete(name).headOption

  /** The complete versions of `name`, newest first (checked lazily). */
  private def complete(name: String): LazyList[Path] =
    versions(name).sortBy(-_._1).to(LazyList).map(_._2)
      .filter(v => fs.exists(new Path(v, BucketManifest.Name)) || fs.exists(new Path(v, "_SUCCESS")))

  /** Stamps are max(wall clock, newest existing + 1) — monotonic across
    * JVM restarts, unlike nanoTime whose origin resets on reboot.
    */
  private def nextStamp(name: String): Long =
    math.max(System.currentTimeMillis(), versions(name).map(_._1).maxOption.getOrElse(0L) + 1L)

  /** Write a fresh version of the catalog table `name`, then prune older
    * versions (keeping one predecessor so a reader whose lazy plan still
    * points at the previous version is not yanked mid-query).
    */
  private def writeVersioned(name: String, write: String => Unit): Unit = {
    val stamp = nextStamp(name)
    write(p(s"${name}__v$stamp"))
    val stale = versions(name).filter(_._1 < stamp).sortBy(_._1).dropRight(1)
    stale.foreach { case (_, path) =>
      try fs.delete(path, true) catch { case _: Throwable => () }
    }
  }

  /** A complete version of a stream table as this instance resolved it:
    * its directory, its manifest and, once asked for, its Dataset. A
    * complete version never changes, so each is read once.
    */
  private final class Resolved(val version: Path, val manifest: BucketManifest) {
    /** The paths that read it: its directory when its own write holds
      * every file the manifest lists (a full rewrite: Spark lists one
      * directory several times faster than it checks 16 files), else
      * those files.
      */
    val paths: Seq[String] = {
      val files = manifest.files.map(_.path)
      if (files.nonEmpty && files.forall(_.startsWith(s"${version.getName}/"))) Seq(version.toString)
      else files.map(p)
    }

    private var read: Dataset[_] = _

    /** Its rows, as a Dataset of its table's type `T` built once. */
    def rows[T: Encoder]: Dataset[T] = synchronized {
      if (read == null) read = readFiles[T](paths)
      read.asInstanceOf[Dataset[T]]
    }
  }

  /** The version of each stream table this instance resolved last. */
  private val resolved = new java.util.concurrent.ConcurrentHashMap[String, Resolved]()

  /** The current version of the stream table `name`, if any. Every call
    * lists the versions once ([[currentVersion]]), so another writer's
    * version is seen at once; the manifest and Dataset of a version this
    * instance already resolved are reused.
    */
  private def resolve(name: String): Option[Resolved] = currentVersion(name).map { v =>
    Option(resolved.get(name)).filter(_.version == v).getOrElse {
      val r = new Resolved(v, BucketManifest.read(fs, v))
      resolved.put(name, r)
      r
    }
  }

  /** The manifest of the stream table `name`'s current version, if any. */
  private def streamTable(name: String): Option[BucketManifest] = resolve(name).map(_.manifest)

  /** The paths that read the stream table `name`'s current version. */
  private def tableFiles(name: String): Seq[String] = resolve(name).toSeq.flatMap(_.paths)

  /** The rows of the stream table `name`'s current version (empty when
    * there is none), a Dataset of its type `T`.
    */
  private def currentRows[T: Encoder](name: String): Dataset[T] =
    resolve(name).fold(spark.emptyDataset[T])(_.rows[T])

  /** Write a new version of the stream table `name`: the buckets `plan`
    * rewrites hold `df`'s rows (so `df` holds rows of those buckets only)
    * and the others keep their files by reference (a full rewrite by
    * default). `df` is written as [[SummaryDB.Buckets]] hash partitions
    * of `streamId` — Spark's `HashPartitioning`, so bucket b is written
    * by task b, as `part-<b>-*`; a repartition by number is never
    * coalesced by AQE — each sorted by (streamId, ts), without Spark's
    * `_SUCCESS`: the manifest, published after the data, is what
    * completes the version ([[publish]]).
    */
  private def writeStreamTable(name: String, df: DataFrame, plan: BucketPlan = BucketPlan.Full): Unit = {
    val version = new Path(p(s"${name}__v${nextStamp(name)}"))
    df.repartition(SummaryDB.Buckets, col("streamId"))
      .sortWithinPartitions("streamId", "ts")
      .write.mode(SaveMode.Overwrite)
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .parquet(version.toString)
    val (written, stray) = TinyParquet.dataFiles(conf, version.toString)
      .groupBy(_.getPath.getName.stripPrefix("part-").take(5).toInt).partition(f => !plan.carried.contains(f._1))
    // Spark's task 0 always writes a file: an empty one when bucket 0 is carried
    stray.values.flatten.foreach(f => fs.delete(f.getPath, false))
    publish(name, version, plan, written.map { case (b, files) =>
      b -> files.map(f => BucketManifest.File(s"${version.getName}/${f.getPath.getName}", f.getLen))
    })
  }

  /** Complete `version` of the stream table `name` — its manifest: the
    * buckets `plan` carries by reference, the others holding their
    * `written` files at the plan's merge cadence — then [[prune]]. The
    * one publish of the Spark write above and the driver-side append.
    * The decoded columns of the files the plan replaced are dropped
    * ([[TinyParquet.forget]]).
    */
  private def publish(name: String, version: Path, plan: BucketPlan,
      written: Map[Int, Seq[BucketManifest.File]]): Unit = {
    plan.manifest(written).publish(fs, version)
    TinyParquet.forget(conf, plan.oldFiles.map(f => new Path(p(f.path))))
    prune(name)
  }

  /** A new data file name of bucket `b`, in the form Spark's writer uses. */
  private def partName(b: Int): String = f"part-$b%05d-${java.util.UUID.randomUUID()}-c000.parquet"

  /** Delete what no kept version of the stream table `name` references.
    * Kept are the newest complete version and its complete predecessor,
    * so a reader whose lazy plan still points at the previous version is
    * not yanked mid-query. Every other version directory, torn ones
    * included, loses each file neither kept manifest lists (its markers
    * too, so it is never resolved again), and goes once none is left.
    * A deleted file's decoded columns are dropped ([[TinyParquet.forget]]).
    */
  private def prune(name: String): Unit = {
    val kept = complete(name).take(2).toList
    // the predecessor is most often the version this instance resolved
    val referenced = kept.flatMap { v =>
      Option(resolved.get(name)).filter(_.version == v).fold(BucketManifest.read(fs, v))(_.manifest).files.map(_.path)
    }.toSet
    versions(name).map(_._2).filterNot(kept.contains).foreach { v =>
      try {
        val (live, dead) = fs.listStatus(v).toSeq.filterNot(_.getPath.getName.startsWith("."))
          .partition(f => referenced(s"${v.getName}/${f.getPath.getName}"))
        TinyParquet.forget(conf, dead.map(_.getPath))
        if (live.isEmpty) fs.delete(v, true) else dead.foreach(f => fs.delete(f.getPath, true))
      } catch { case _: Throwable => () } // retried by the next write
    }
  }

  /** `paths` as a table of `T`, read with `T`'s own schema — no
    * schema-inference job; empty when there are no paths.
    */
  private def readFiles[T: Encoder](paths: Seq[String]): Dataset[T] =
    if (paths.isEmpty) spark.emptyDataset[T]
    else spark.read.schema(implicitly[Encoder[T]].schema).parquet(paths: _*).as[T]

  // --------------------------------------------------------------- catalog

  /** The rows of the current version of the catalog table `name`: read
    * on the driver by `of` (0 jobs) while its files are tiny
    * ([[TinyParquet.onDriver]]), else by a Spark collect.
    */
  private def catalogRows[T: Encoder](name: String)(of: Group => T): Seq[T] =
    currentVersion(name).fold(Seq.empty[T]) { v =>
      val files = TinyParquet.dataFiles(conf, v.toString)
      if (TinyParquet.onDriver(files.map(_.getLen).sum)) TinyParquet.fileRows(conf, files.map(_.getPath)).map(of)
      else readFiles[T](Seq(v.toString)).collect().toSeq
    }

  private var metas: Map[Long, StreamMeta] = catalogRows[StreamMeta]("stream_meta") { g =>
    StreamMeta(g.getLong("streamId", 0), TinyParquet.stringArray(g, "operators").toSeq,
      g.getString("windowKind", 0), g.getDouble("base", 0),
      g.getLong("p", 0), g.getLong("q", 0), g.getLong("r", 0), g.getLong("s", 0))
  }.map(m => m.streamId -> m).toMap

  def streams: Map[Long, StreamMeta] = metas

  /** Declare a stream (operators + decay policy), as the reference's
    * `DB.NewStream` (`/root/reference/core/db.go:61-80`).
    */
  def newStream(meta: StreamMeta): Unit = withWriteLock {
    metas += meta.streamId -> meta
    writeVersioned("stream_meta",
      metas.values.toSeq.toDS().write.mode(SaveMode.Overwrite).parquet(_))
  }

  /** Per-stream decay policy as a SELF-CONTAINED serializable closure:
    * the summarizer/compactor ship it inside a row-level UDF, so it must
    * capture an immutable spec map — never `this` (SparkSession isn't
    * serializable) nor the live mutable catalog.
    */
  private def specOf: Long => WindowingSpec = {
    val specs: Map[Long, WindowingSpec] = metas.map { case (k, m) => (k, m.spec) }.toMap
    val dflt: WindowingSpec = StreamMeta.exponential(0L, 2.0).spec
    sid => specs.getOrElse(sid, dflt)
  }

  // ------------------------------------------------------------- intervals

  /** All landmark intervals ever declared (they are properties of the
    * DB's timeline, persisted so later appends keep honoring them).
    * Stored rows are (streamId, t0, t1); streamId = -1 means global
    * (applies to every stream). The table holds one row per declared
    * interval, so it is read on the driver ([[catalogRows]]); every
    * mutating call reads it once and passes the rows down.
    */
  private def storedIntervals: Seq[(Long, Long, Long)] = catalogRows[(Long, Long, Long)]("landmark_intervals") {
    g => (g.getLong("_1", 0), g.getLong("_2", 0), g.getLong("_3", 0))
  }.sorted

  def landmarkIntervals: Seq[(Long, Long)] = globalIntervals(storedIntervals)

  private def globalIntervals(stored: Seq[(Long, Long, Long)]): Seq[(Long, Long)] =
    stored.filter(_._1 == -1L).map(r => (r._2, r._3))

  /** Per-stream exact intervals (the reference's per-stream
    * StartLandmark/EndLandmark surface).
    */
  def streamLandmarks: Map[Long, Seq[(Long, Long)]] = perStreamIntervals(storedIntervals)

  private def perStreamIntervals(stored: Seq[(Long, Long, Long)]): Map[Long, Seq[(Long, Long)]] =
    stored.filter(_._1 != -1L)
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3))).toMap

  /** Declare an exact interval for one stream and re-summarize —
    * `StartLandmark(t0)` + `EndLandmark(t1)` in one call
    * (`/root/reference/core/stream.go:121-137`).
    */
  def newLandmark(streamId: Long, t0: Long, t1: Long): Unit = withWriteLock {
    require(t0 <= t1, s"bad landmark interval [$t0, $t1]")
    relandmark((storedIntervals :+ ((streamId, t0, t1))).distinct)
  }

  /** The open-interval sentinel: an un-ended landmark absorbs every
    * element with ts >= t0 until [[endLandmark]] closes it.
    */
  private val OpenT1 = Long.MaxValue

  /** True iff the stream has a started-but-not-ended landmark. */
  def hasOpenLandmark(streamId: Long): Boolean = openLandmark(storedIntervals, streamId).nonEmpty

  private def openLandmark(stored: Seq[(Long, Long, Long)], streamId: Long): Option[(Long, Long, Long)] =
    stored.find(r => r._1 == streamId && r._3 == OpenT1)

  /** Open-ended landmark: from here on, the stream's elements with
    * ts >= t0 are stored exactly (diverted from decay), across any
    * number of appends, until [[endLandmark]] — the reference's
    * `StartLandmark` (`/root/reference/core/stream.go:121-128`).
    * Callable before any append (an empty DB just records the interval).
    */
  def startLandmark(streamId: Long, t0: Long): Unit = withWriteLock {
    val stored = storedIntervals
    require(openLandmark(stored, streamId).isEmpty,
      s"stream $streamId already has an open landmark")
    relandmark((stored :+ ((streamId, t0, OpenT1))).distinct)
  }

  /** Close the stream's open landmark at t1 — the reference's
    * `EndLandmark` (`/root/reference/core/stream.go:130-137`). Elements
    * appended while it was open stay exact; later ones decay normally.
    */
  def endLandmark(streamId: Long, t1: Long): Unit = withWriteLock {
    val stored = storedIntervals
    val open = openLandmark(stored, streamId)
      .getOrElse(throw new IllegalStateException(
        s"stream $streamId has no open landmark"))
    require(t1 >= open._2, s"endLandmark($t1) precedes startLandmark(${open._2})")
    relandmark(stored.filterNot(_ == open) :+ ((streamId, open._2, t1)))
  }

  /** Store `stored` as the declared intervals and re-summarize under them. */
  private def relandmark(stored: Seq[(Long, Long, Long)]): Unit = {
    saveIntervals(stored)
    refreshSummaries(stored)
    refreshRegistrations(stored)
  }

  private def saveIntervals(rows: Seq[(Long, Long, Long)]): Unit =
    writeVersioned("landmark_intervals",
      rows.toDS().write.mode(SaveMode.Overwrite).parquet(_))

  // ---------------------------------------------------------------- append

  /** Append a batch of raw elements and refresh the summaries.
    * `landmarkIntervals` declares additional exact [t0, t1] spans; all
    * previously declared spans stay in force (they are persisted), so a
    * later plain append never un-landmarks data.
    *
    * The batch is clamped against the stored time frontier (reference
    * monotonic repair, `core/pipeline.go:81-84`) BEFORE it is persisted,
    * so the events WAL and the summaries always agree — a later full
    * recompute (landmark declaration) reproduces exactly what the
    * incremental path built. Each batch lands in its own
    * `events/<tag>` directory carrying a monotone batch stamp, making
    * the WAL order deterministic for equal timestamps and the write
    * idempotent per tag.
    *
    * Without any landmark intervals the append is INCREMENTAL: the
    * batch becomes per-element fine windows and the buckets of its
    * streams re-coarsen by monoid merge ([[Compactor]]) — the WAL is
    * never re-read to maintain decay, and other buckets are not
    * rewritten ([[appendTo]]).
    *
    * A batch that is a local relation (built from a driver-side
    * collection) whose streams' `summary_windows` buckets are tiny
    * ([[TinyParquet.onDriver]]) is appended on the driver, with no Spark
    * job: its clamp, WAL file, fine windows, re-coarsening and bucket
    * files ([[appendOnDriver]]). Enabled summary kinds still absorb it
    * by Spark from the WAL. Any other batch, a store with landmark
    * intervals and a crash replay take the Spark path.
    */
  def append(
      events: Dataset[Event],
      landmarkIntervals: Seq[(Long, Long)] = Nil): Unit = withWriteLock {
    val bstamp = nextBatchStamp()
    appendTagged(f"adhoc-$bstamp%09d", bstamp, events, landmarkIntervals, forceRecompute = false)
  }

  /** Idempotent append keyed by a streaming micro-batch id. A batch id
    * with a commit marker, or absorbed into a compact WAL segment (whose
    * compaction deletes the marker), is skipped entirely (checkpoint
    * REPLAY of committed batches is a no-op). If the batch's events directory
    * exists without a marker — a crash landed between the data write
    * and the marker — the events are overwritten (same data, same tag)
    * and the summaries are recomputed from the WAL, which de-duplicates
    * the possibly-half-applied summary state.
    */
  def appendOnce(
      batchId: Long,
      events: Dataset[Event],
      landmarkIntervals: Seq[(Long, Long)] = Nil): Unit = withWriteLock {
    val tag = s"batch-$batchId"
    if (fs.exists(new Path(p("commits"), tag)) || replacedTags()(tag)) return
    val partialReplay = fs.exists(new Path(p("events"), tag))
    // appendTagged writes the commit marker itself (same path) once the
    // summaries reflect the batch.
    appendTagged(tag, nextBatchStamp(), events, landmarkIntervals,
      forceRecompute = partialReplay)
  }

  private def nextBatchStamp(): Long = {
    val eventsDir = new Path(p("events"))
    if (!fs.exists(eventsDir)) return 0L
    val dirs = fs.listStatus(eventsDir).toSeq.filter(_.isDirectory).map(_.getPath.getName)
    // max(parsed tag suffix)+1 keeps the stamp monotone even after
    // compactWal GC shrinks the dir count (a compact-N segment's N is
    // the pre-compaction watermark, strictly above every bstamp it
    // absorbed); the dir-count form is kept as a floor for any dir
    // whose name carries no number.
    val bySuffix = dirs
      .flatMap(n => n.split("-").lastOption.flatMap(_.toLongOption))
      .maxOption.map(_ + 1L).getOrElse(0L)
    math.max(bySuffix, dirs.size.toLong)
  }

  private def appendTagged(
      tag: String,
      bstamp: Long,
      batch: Dataset[Event],
      newIntervals: Seq[(Long, Long)],
      forceRecompute: Boolean): Unit = {
    val stored = {
      val old = storedIntervals
      if (newIntervals.isEmpty) old else (old ++ newIntervals.map(iv => (-1L, iv._1, iv._2))).distinct
    }
    // Under landmarks the scalar tables are recomputed from the WAL, and
    // on a crash REPLAY every table is (below); the rest absorb the batch.
    val recompute = stored.nonEmpty || forceRecompute
    val incremental = (if (recompute) Nil else Seq(Summarizer.Kind)) ++
      (if (forceRecompute) Nil else enabled.values.toSeq)
    val tables = (FrontierColumns.map(_._1) ++ incremental.map(_.table)).distinct
      .map(name => name -> streamTable(name)).toMap
    // a local relation is collected with no job
    val local = batch.queryExecution.optimizedPlan match {
      case _: LocalRelation => Some(batch.collect().toSeq)
      case _ => None
    }
    val counts = batchCounts(batch, local, needed = mergeEvery > 1 || tables.values.exists(_.nonEmpty))
    val sids = counts.fold(Set.empty[Long])(_.keySet)
    def frontier(columns: Seq[(String, String)]): Seq[(Long, Long)] = columns.flatMap { case (name, c) =>
      tables(name).toSeq.flatMap(m => streamMaxima(m.filesOf(sids), sids, c))
    }
    val onDriver = for {
      rows <- local if !recompute
      plan = bucketPlan(tables("summary_windows"), sids)
      if TinyParquet.onDriver(plan.oldFiles.map(_.bytes).sum)
    } yield (rows, plan)

    val tagDir = s"${p("events")}/$tag"
    onDriver match {
      case Some((rows, plan)) =>
        // summary_windows' frontier comes from the buckets the driver reads
        appendOnDriver(tagDir, bstamp, rows, counts.get, plan, frontier(FrontierColumns.tail))
      case None =>
        Ingest.prepare(batch.toDF().withColumn("arrival", col("seq")),
            baseTs = frontier(FrontierColumns).groupMapReduce(_._1)(_._2)(math.max))
          .toDF()
          .withColumn("bstamp", lit(bstamp))
          .write.mode(SaveMode.Overwrite).parquet(tagDir)
    }
    // The summaries absorb the batch as the WAL holds it: read back, not
    // re-ranked by a second run of prepare's shuffle per summary kind.
    lazy val prepared = readFiles[Event](Seq(tagDir))

    if (newIntervals.nonEmpty) saveIntervals(stored)
    if (recompute) refreshSummaries(stored, includeUncommittedTag = Some(tag))
    // The enabled kinds rank over ALL elements (landmark diversion never
    // removes a value from a sketch or sample), so the incremental path
    // applies even to landmarked stores. On crash REPLAY it would
    // re-apply a batch the table may already hold (tables are written
    // before the commit marker): the cs/ce element bookkeeping would
    // double-count and drift the partition off the canonical decay
    // (and KLL sketch weights would double) — rebuild from the WAL
    // instead, like the scalar refreshSummaries path.
    incremental.filterNot(kind => onDriver.nonEmpty && kind == Summarizer.Kind)
      .foreach(kind => appendTo(kind, prepared, tables(kind.table), counts))
    if (forceRecompute) enabled.values.foreach(rebuild(_, includeUncommittedTag = Some(tag)))
    // The summaries now reflect this batch: commit it. A crash before
    // this line leaves an unmarked events/<tag> dir that readEvents
    // skips, so a later recompute can never resurrect a batch the
    // incremental summaries never absorbed (ADVICE r2: the WAL and the
    // summary table must agree under every crash point).
    fs.mkdirs(new Path(p("commits")))
    fs.create(new Path(p("commits"), tag), true).close()
    refreshRegistrations(stored)
  }

  /** Append the local batch `rows` to `summary_windows` on the driver,
    * with no Spark job: `counts` are its per-stream element counts,
    * `plan` the table's [[bucketPlan]] for them, and `landmarkFrontier`
    * the streams' frontier in the landmark tables. The touched buckets
    * are read once ([[columns]]): their rows give the streams'
    * frontier (max `te`) and base counts (max `ce` + 1), and are the rows
    * rewritten. The batch is clamped
    * ([[Ingest.clamp]] over the (streamId, ts, arrival) order of
    * [[Ingest.prepare]]) and written as the one WAL file of `tagDir`;
    * each element becomes its fine window — the scalar kind's
    * `Singleton` delta — and the streams `plan` merges re-coarsen by the
    * window ids of [[DecayModel.windowIdJ]] (the kernel of
    * [[graft.functions.WindowId]]), each window folded with
    * [[SummaryWindow.merge]] in `cs` order. Each touched bucket is then
    * one file sorted by (streamId, ts), and the version is published as
    * by the Spark path ([[publish]]).
    */
  private def appendOnDriver(tagDir: String, bstamp: Long, rows: Seq[Event], counts: Map[Long, Long],
      plan: BucketPlan, landmarkFrontier: Seq[(Long, Long)]): Unit = {
    val old = StreamTable.Windows.rows(columns(plan.oldFiles, StreamTable.Windows.schema))
    val sids = counts.keySet
    val frontier = (landmarkFrontier ++ old.collect {
      case w if sids(w.streamId) && w.te != OpenT1 => w.streamId -> w.te
    }).groupMapReduce(_._1)(_._2)(math.max)
    val base = old.filter(w => sids(w.streamId) || plan.merging(w.streamId))
      .groupMapReduce(_.streamId)(_.ce + 1L)(math.max)
    val events = Ingest.clamp(
      rows.sortBy(e => (e.streamId, e.ts, e.seq)).iterator.map(e => (e.streamId, e.ts, e.value, e.seq)),
      sid => (frontier.getOrElse(sid, Long.MinValue), 0L)).toVector
    val wal = new Path(tagDir)
    fs.delete(wal, true) // a replaced tag, as Spark's overwrite
    TinyParquet.writeRows(spark, new Path(wal, partName(0)), WalSchema,
      events.iterator.map(e => Row(e.streamId, e.seq, e.ts, e.value, bstamp)))
    if (events.isEmpty) return // an empty batch changes no bucket

    val fine = events.map { e =>
      val r = e.seq + base.getOrElse(e.streamId, 0L)
      SummaryWindow(e.streamId, e.ts, e.ts, r, r, 1.0, e.value, e.value, e.value)
    }
    val n = plan.merging.map(s => s -> (base.getOrElse(s, 0L) + counts.getOrElse(s, 0L))).toMap
    val spec = specOf
    val (merging, kept) = (old ++ fine).partition(w => plan.merging(w.streamId))
    val merged = merging.sortBy(w => (w.streamId, w.cs))
      .groupBy(w => (w.streamId, DecayModel.windowIdJ(spec, 0L, w.streamId, n(w.streamId), w.cs)))
      .values.map(_.reduce(SummaryWindow.merge))
    val version = new Path(p(s"summary_windows__v${nextStamp("summary_windows")}"))
    val written = (kept ++ merged).groupBy(w => SummaryDB.bucketOf(w.streamId, SummaryDB.Buckets)).map {
      case (b, ws) =>
        val file = new Path(version, partName(b))
        val rows = ws.sortBy(w => (w.streamId, w.ts, w.cs)).map(Row.fromTuple)
        val bytes = TinyParquet.writeRows(spark, file, WindowSchema, rows.iterator)
        TinyParquet.fill(conf, file, bytes, WindowSchema, rows)
        b -> Seq(BucketManifest.File(s"${version.getName}/${file.getName}", bytes))
    }
    publish("summary_windows", version, plan, written)
  }

  /** The WAL's columns: a clamped [[Event]] and its batch stamp. */
  private val WalSchema = Encoders.product[Event].schema.add("bstamp", LongType, nullable = false)
  private val WindowSchema = Encoders.product[SummaryWindow].schema

  /** The `schema` columns of the stream-table `files`, decoded on the
    * driver ([[TinyParquet.columns]]): the one reader of the point
    * query, the driver-side append and [[streamMaxima]]. The store
    * writes every such column as INT64 or DOUBLE, so any other type is
    * a damaged file.
    */
  private def columns(files: Seq[BucketManifest.File], schema: StructType): TinyParquet.Columns =
    TinyParquet.columns(conf, files.map(f => new Path(p(f.path)) -> f.bytes), schema)
      .fold(e => throw new IllegalStateException(e), identity)

  /** Where the frontier — the newest stored timestamp per stream — is
    * read: summary windows and landmark spans by `te` (the span te IS
    * the old landmark-window te), landmark elements by `ts`. An open
    * span's te is the OpenT1 sentinel, which [[streamMaxima]] skips, so
    * the span counts by its elements' ts instead (a closed span's
    * elements lie inside its te).
    */
  private val FrontierColumns =
    Seq("summary_windows" -> "te", "landmark_spans" -> "te", "landmark_elems" -> "ts")

  /** The batch's per-stream element counts: from its `local` rows when
    * it is a local relation, else collected by one aggregate — or, when
    * not `needed` (an append into an empty store that merges at once),
    * left unknown for a non-local batch.
    */
  private def batchCounts(batch: Dataset[Event], local: Option[Seq[Event]],
      needed: Boolean): Option[Map[Long, Long]] =
    local.map(_.groupMapReduce(_.streamId)(_ => 1L)(_ + _)).orElse(
      if (needed) Some(batch.groupBy($"streamId").count().as[(Long, Long)].collect().toMap) else None)

  /** Per-stream maximum of the long `column` over the rows of `sids` in
    * `files`, skipping the open-landmark sentinel OpenT1. Read on the
    * driver (0 jobs, only the two columns decoded) while the files are
    * tiny ([[TinyParquet.onDriver]]), else by one Spark aggregate over
    * the same files.
    */
  private def streamMaxima(files: Seq[BucketManifest.File], sids: Set[Long], column: String): Map[Long, Long] =
    if (sids.isEmpty || files.isEmpty) Map.empty
    else if (TinyParquet.onDriver(files.map(_.bytes).sum)) {
      val c = columns(files, new StructType().add("streamId", LongType).add(column, LongType))
      val (sid, v) = (c.long("streamId"), c.long(column))
      (0 until c.size).filter(i => sids(sid(i)) && v(i) != OpenT1).groupMapReduce(sid)(v)(math.max)
    } else spark.read.schema(s"streamId BIGINT, $column BIGINT").parquet(files.map(f => p(f.path)): _*)
      .filter($"streamId".isin(sids.toSeq: _*) && col(column) =!= OpenT1)
      .groupBy($"streamId").agg(max(col(column)))
      .as[(Long, Long)].collect().toMap

  /** Absorb the clamped batch `prepared` into `kind`'s table, rewriting
    * only the buckets of its streams ([[bucketPlan]]); `counts` are its
    * per-stream element counts, and `stored` the table's current version.
    *
    * Each touched bucket advances its own merge cadence, kept in the
    * manifest: on its `mergeEvery`-th append since its last merge, the
    * streams of the batch and those earlier appends left unmerged there
    * re-coarsen to the canonical partition at their element counts —
    * stored counts read like the frontier, plus the batch's, joined as a
    * local relation, so no aggregation finds them. Below the cadence the
    * batch's delta windows are kept as they are: the merge is a monoid,
    * so the state after the next merge is identical to always-merging.
    * Rows of a touched bucket's other streams pass through unchanged.
    *
    * Unknown `counts` (an empty table that merges at once, as a bulk
    * load) rewrite every bucket, counts found in the rewrite itself.
    */
  private def appendTo(kind: SummaryKind, prepared: Dataset[Event], stored: Option[BucketManifest],
      counts: Option[Map[Long, Long]]): Unit = counts match {
    case None =>
      writeStreamTable(kind.table, Compactor.recoarsen(
        kind.appendDelta(prepared, Seq.empty[(Long, Long)].toDF("streamId", "n"), specOf),
        specOf, kind.mergeAggs, 0L))
    case Some(batch) if batch.nonEmpty =>
      val plan = bucketPlan(stored, batch.keySet)
      val base = streamMaxima(plan.oldFiles, batch.keySet ++ plan.merging, "ce")
        .view.mapValues(_ + 1L).toMap
      val all = readTable(kind, plan.oldFiles.map(f => p(f.path)))
        .unionByName(kind.appendDelta(prepared, base.toSeq.toDF("streamId", "n"), specOf))
      val next = if (plan.merging.isEmpty) all else Compactor.recoarsenAt(all,
        plan.merging.toSeq.map(s => (s, base.getOrElse(s, 0L) + batch.getOrElse(s, 0L))).toDF("streamId", "n"),
        specOf, kind.mergeAggs, 0L)
      writeStreamTable(kind.table, next, plan)
    case _ => () // an empty batch changes no bucket
  }

  /** What appending the streams `sids` does to the buckets of a stream
    * table whose current version is `stored` — the bookkeeping both
    * append paths share. The buckets of `sids` are rewritten, each
    * advancing its merge cadence; the rest are carried by reference.
    */
  private def bucketPlan(stored: Option[BucketManifest], sids: Set[Long]): BucketPlan = {
    def bucketOf(sid: Long) = SummaryDB.bucketOf(sid, SummaryDB.Buckets)
    stored.foreach(m => require(m.buckets.size == SummaryDB.Buckets,
      s"a stream table of ${m.buckets.size} buckets, not ${SummaryDB.Buckets}"))
    val bucket = (b: Int) => stored.fold(BucketManifest.Bucket(Nil))(_.buckets(b))
    val touched = sids.map(bucketOf)
    val due = touched.filter(bucket(_).sinceMerge + 1 >= mergeEvery)
    BucketPlan(
      merging = sids.filter(s => due(bucketOf(s))) ++ due.flatMap(bucket(_).pending),
      oldFiles = touched.toSeq.sorted.flatMap(bucket(_).files),
      carried = (0 until SummaryDB.Buckets).filterNot(touched).map(b => b -> bucket(b)).toMap,
      cadence = (touched -- due).map(b => b ->
        ((bucket(b).sinceMerge + 1, bucket(b).pending ++ sids.filter(bucketOf(_) == b)))).toMap)
  }

  /** `kind`'s table over `files` (an empty frame of its schema when there
    * are none).
    */
  private def readTable(kind: SummaryKind, files: Seq[String]): DataFrame = {
    val empty = kind.summarize(spark.emptyDataset[Event], specOf)
    if (files.isEmpty) empty else spark.read.schema(empty.schema).parquet(files: _*)
  }

  /** The current table of `kind`. */
  private def table(kind: SummaryKind): DataFrame = readTable(kind, tableFiles(kind.table))

  /** Recompute summary + landmark tables from the persisted events under
    * the declared intervals `stored`. `includeUncommittedTag`: the batch
    * currently being applied — its events dir exists but its commit
    * marker is written only after this refresh succeeds.
    */
  private def refreshSummaries(
      stored: Seq[(Long, Long, Long)],
      includeUncommittedTag: Option[String] = None): Unit = {
    val events = readEvents(includeUncommittedTag)
    val intervals = globalIntervals(stored)
    val perStream = perStreamIntervals(stored)
    val (sw, spans, elems) =
      if (intervals.isEmpty && perStream.isEmpty)
        (Summarizer.summarizePerStream(events, specOf),
          spark.emptyDataset[LandmarkSpan], spark.emptyDataset[LandmarkElem])
      else Summarizer.summarizeWithLandmarkRowsPerStream(
        events, specOf, intervals, perStream = perStream)
    writeStreamTable("summary_windows", sw.toDF())
    writeStreamTable("landmark_spans", spans.toDF())
    writeStreamTable("landmark_elems", elems.toDF())
  }

  /** Re-rank the persisted events into dense per-stream order. Arrival
    * order = (batch stamp, in-batch seq) — globally unique, so the
    * equal-timestamp tiebreak is deterministic across refreshes.
    * Timestamps were clamped at append time, so sorting by ts
    * reproduces the append order exactly.
    *
    * Only COMMITTED batch dirs are read (plus `includeTag`, the batch
    * being applied right now): an events dir without a commit marker is
    * a crash orphan whose data never reached the summaries, and reading
    * it would silently change previously-answered ranges. Returns empty
    * on a fresh DB with no events yet (ADVICE r2: StartLandmark before
    * any append must work).
    */
  private def committedEventDirs(includeTag: Option[String] = None): Seq[Path] = {
    val eventsDir = new Path(p("events"))
    if (!fs.exists(eventsDir)) return Seq.empty
    // Tags absorbed into a compact segment are superseded the moment
    // the segment's manifest-marker lands — skipped here even while
    // their own dirs/markers still exist (GC is lazy), so no reader
    // ever double-counts a batch mid-compaction.
    val replaced = replacedTags()
    fs.listStatus(eventsDir).toSeq
      .filter(_.isDirectory)
      .map(_.getPath)
      .filter(d => !replaced.contains(d.getName))
      .filter(d => includeTag.contains(d.getName) ||
        fs.exists(new Path(p("commits"), d.getName)))
  }

  /** Union of every compact manifest's replaced-tag list. */
  private def replacedTags(): Set[String] = {
    val commits = new Path(p("commits"))
    if (!fs.exists(commits)) return Set.empty
    fs.listStatus(commits).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith("compact-"))
      .flatMap { s =>
        val in = fs.open(s.getPath)
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
        finally in.close()
      }
      .filter(_.nonEmpty).toSet
  }

  /** Consolidate the committed WAL into one compact segment — the
    * streaming-cadence hygiene call: a 1-minute-batch day leaves 1440
    * tiny event dirs whose listing and footer reads tax every
    * `readEvents`/`rawEvents`; after compaction one segment holds the
    * same ROWS (per-row `bstamp` is data, so the derived arrival order
    * is byte-identical) in `spark.sparkContext.defaultParallelism`
    * files. Summaries and sketch tables are untouched — this is an IO
    * layout change, not a semantic one.
    *
    * Crash-safe in both windows: a segment written but not yet
    * manifested is an orphan no reader sees (no commit marker); once
    * the manifest-marker lands, the replaced tags are superseded
    * atomically and their dirs become garbage, collected lazily here
    * (and by any later compaction) — a crash between manifest and GC
    * only delays the deletes.
    *
    * Raw data is deliberately KEPT (consolidated, not truncated): the
    * reference discards raw elements after decay, but this engine's
    * landmark declarations over past data and crash-replay rebuilds
    * re-read the WAL, and 100 TB pipelines treat the raw corpus as the
    * system of record.
    */
  def compactWal(): Unit = withWriteLock {
    gcReplacedDirs()
    val dirs = committedEventDirs()
    if (dirs.size < 2) return
    val stamp = nextBatchStamp()
    val tag = f"compact-$stamp%09d"
    spark.read.parquet(dirs.map(_.toString): _*)
      .coalesce(math.max(1, spark.sparkContext.defaultParallelism))
      .write.mode(SaveMode.Overwrite).parquet(s"${p("events")}/$tag")
    // Manifest-marker: the compact segment's commit marker LISTS the
    // tags it supersedes — one atomic create flips readers over.
    fs.mkdirs(new Path(p("commits")))
    val out = fs.create(new Path(p("commits"), tag), true)
    try out.write(dirs.map(_.getName).mkString("\n").getBytes("UTF-8"))
    finally out.close()
    gcReplacedDirs()
    refreshRegistrations(storedIntervals)
  }

  /** Delete superseded event dirs and their markers (never a compact
    * manifest itself). Safe at any time after the manifest exists.
    */
  private def gcReplacedDirs(): Unit = {
    val replaced = replacedTags()
    replaced.foreach { t =>
      try {
        fs.delete(new Path(p("events"), t), true)
        if (!t.startsWith("compact-")) fs.delete(new Path(p("commits"), t), false)
      } catch { case _: Throwable => () } // retried by the next call
    }
  }

  private def readEvents(includeTag: Option[String] = None): Dataset[Event] = {
    val committed = committedEventDirs(includeTag)
    if (committed.isEmpty) return spark.emptyDataset[Event]
    val raw = spark.read
      .parquet(committed.map(_.toString): _*)
      .withColumn("arrival", expr("shiftleft(bstamp, 40) + seq"))
    Ingest.prepare(raw)
  }

  /** The committed raw-event rows as a plain relation — the surface a
    * user scans for ad-hoc SQL over raw data. With [[enableQueryRewrite]]
    * on, full-stream aggregates over this frame silently re-plan onto
    * the summary table (clamping happens before persist, so `value`
    * aggregates agree exactly).
    */
  def rawEvents: org.apache.spark.sql.DataFrame = {
    val committed = committedEventDirs()
    // Empty-store schema matches the persisted one (Event + bstamp) so
    // schema-dependent callers behave identically before/after the
    // first commit.
    if (committed.isEmpty) spark.emptyDataset[Event].toDF().withColumn("bstamp", lit(0L))
    else spark.read.parquet(committed.map(_.toString): _*)
  }

  // ------------------------------------------------- query rewrite hookup

  private var rewriteEnabled = false

  /** Install graft.plans.SummaryRewrite for this session and keep this
    * store's committed-events -> current-summary pairing registered
    * across appends and landmark changes. After this, full-stream
    * aggregates over [[rawEvents]] read O(log N) summary rows instead
    * of the raw table.
    */
  def enableQueryRewrite(): Unit = {
    rewriteEnabled = true
    SummaryRewrite.install(spark)
    refreshRegistrations(storedIntervals)
  }

  /** The rewrite keys this store has registered, per pairing. */
  private val registered = collection.mutable.Map.empty[SummaryRewrite.Pairing, Set[String]]

  /** Re-pair each maintained table that has a rewrite (the scalar one
    * once [[enableQueryRewrite]] is on, every enabled kind) with the
    * committed-events relation, at the table's current version;
    * `stored` are the declared landmark intervals, evaluated
    * only when the scalar table is maintained.
    */
  private def refreshRegistrations(stored: => Seq[(Long, Long, Long)]): Unit = {
    lazy val dirs = committedEventDirs().map(_.toString)
    val maintained = (if (rewriteEnabled) Seq(Summarizer.Kind) else Nil) ++ enabled.values
    for (kind <- maintained; pairing <- kind.rewrite) {
      registered.remove(pairing).foreach(SummaryRewrite.unregisterSet(_, pairing))
      // Landmark elements live in the landmark tables, NOT in
      // summary_windows — a full-stream aggregate over raw events is
      // only answerable from it when no landmarks exist. The other
      // kinds rank over every element.
      def complete = kind.ne(Summarizer.Kind) || stored.isEmpty
      val table = tableFiles(kind.table)
      if (table.nonEmpty && dirs.nonEmpty && complete)
        registered(pairing) = SummaryRewrite.registerSet(dirs, table, pairing)
    }
  }

  // ------------------------------------------------- windowed summary kinds

  /** The enabled summary kinds beside the scalar table, by table name. */
  private val enabled = collection.mutable.LinkedHashMap.empty[String, SummaryKind]

  /** Sample size of the sample table: a range union of windows holding
    * `sampleK` samples each is the exact bottom-k only up to `sampleK`.
    */
  private var sampleK = SampleSummary.K

  /** Maintain `kind`'s table alongside the scalar summaries: built from
    * the committed WAL now, then kept by every append — incrementally
    * ([[appendTo]], re-coarsened on the `mergeEvery` cadence),
    * or rebuilt from the WAL on replay — with its rewrite pairing, if
    * any, kept registered.
    */
  private def enable(kind: SummaryKind): Unit = withWriteLock {
    enabled(kind.table) = kind
    if (kind.rewrite.nonEmpty) SummaryRewrite.install(spark)
    rebuild(kind)
    refreshRegistrations(storedIntervals)
  }

  /** `kind`'s canonical table from the committed WAL (plus the batch
    * being applied, on replay) — the recovery twin of
    * [[refreshSummaries]].
    */
  private def rebuild(kind: SummaryKind, includeUncommittedTag: Option[String] = None): Unit =
    writeStreamTable(kind.table, kind.summarize(readEvents(includeUncommittedTag), specOf))

  /** Maintain a windowed HLL distinct-count table ([[DistinctSummary]])
    * and keep it paired for the distinct-count rewrite: with the
    * approximate flag on, `approx_count_distinct`/`count(DISTINCT
    * value)` over [[rawEvents]] read O(log N) sketch rows.
    */
  def enableDistinctSummaries(): Unit = enable(DistinctSummary.Kind)

  /** Maintain a windowed bloom+cms table ([[FreqSummary]]) — the
    * reference's declared-but-unimplemented bloom/cms window ops
    * (`protos/summarydb.capnp:6-13`). Range membership
    * ([[mightContain]]) and frequency ([[freqEstimate]]) then read
    * O(log N) sketch rows instead of raw events.
    */
  def enableFreqSummaries(): Unit = enable(FreqSummary.Kind)

  /** Maintain a windowed bottom-k sample table ([[SampleSummary]]):
    * "show me k events from [t0, t1]" ([[sampleEvents]]) then reads
    * O(log N) sample rows instead of raw events. Bottom-k by the
    * portable seq hash is an EXACT monoid, so the incrementally
    * maintained table is bit-identical to a fresh build at every point.
    */
  def enableSampleSummaries(k: Int = SampleSummary.K): Unit = withWriteLock {
    sampleK = k
    enable(SampleSummary.kind(k))
  }

  /** Maintain a windowed KLL-style quantile table ([[QuantileSummary]]):
    * "p50/p99 of [t0, t1]" ([[rangeQuantiles]]) then reads O(log N)
    * sketch rows instead of raw events, with the sketch's
    * self-certified rank-error bound surviving every merge order.
    */
  def enableQuantileSummaries(k: Int = QuantileSummary.K): Unit =
    enable(QuantileSummary.kind(k))

  /** The current sketch/sample tables (empty schema-stable frames
    * before any data).
    */
  def distinctSketches: DataFrame = table(DistinctSummary.Kind)
  def freqSketches: DataFrame = table(FreqSummary.Kind)
  def sampleWindows: DataFrame = table(SampleSummary.kind(sampleK))
  def quantileWindows: DataFrame = table(QuantileSummary.kind())

  private def requireEnabled(kind: SummaryKind, enable: String): Unit =
    require(enabled.contains(kind.table), s"call $enable() first")

  /** "p of [t0, t1]" per probe: (stream_id, p, est, rank_err, n) for
    * one stream — O(log N) sketch rows read, estimate is an actual
    * data value, rank_err the merged sketches' certified bound.
    */
  def rangeQuantiles(streamId: Long, probs: Seq[Double],
      t0: Long = Long.MinValue, t1: Long = Long.MaxValue): Seq[(Double, Double, Long, Long)] = {
    requireEnabled(QuantileSummary.kind(), "enableQuantileSummaries")
    requireDeclared(streamId, "quantile")
    QuantileSummary.rangeQuantiles(
        quantileWindows.filter($"streamId" === streamId), probs, t0, t1)
      .orderBy($"p")
      .select($"p", $"est", $"rank_err", $"n")
      .as[(Double, Double, Long, Long)]
      .collect().toSeq
  }

  /** "Show me up to k events from [t0, t1]" — union the overlapping
    * windows' samples and keep the bottom-k: an exact uniform sample of
    * the covered range (whole edge windows — the storage-resolution
    * semantics every range op shares). O(log N) sample rows read.
    * Returns (seq, value) ascending by the sample order.
    */
  def sampleEvents(streamId: Long, k: Int = SampleSummary.K,
      t0: Long = Long.MinValue, t1: Long = Long.MaxValue): Seq[(Long, Double)] = {
    requireEnabled(SampleSummary.kind(), "enableSampleSummaries")
    requireDeclared(streamId, "sample")
    SampleSummary.rangeSample(
        sampleWindows.filter($"streamId" === streamId), math.min(k, sampleK), t0, t1)
      .orderBy($"rank")
      .select("seq", "value").as[(Long, Double)]
      .collect().toSeq
  }

  /** "Did `key` appear in stream `streamId` during [t0, t1]?" — union
    * the overlapping windows' blooms and probe: no false negatives
    * ever, false positives at the configured fpp. O(log N) sketch rows
    * read; the documented driver-returning twin of
    * [[FreqSummary.rangeMightContain]].
    */
  def mightContain(streamId: Long, key: String, t0: Long = Long.MinValue,
      t1: Long = Long.MaxValue): Boolean = {
    requireEnabled(FreqSummary.Kind, "enableFreqSummaries")
    requireDeclared(streamId, "bloom")
    FreqSummary.rangeMightContain(
        freqSketches.filter($"streamId" === streamId), Seq(key), t0, t1)
      .select("might_contain").as[Boolean]
      .collect().headOption.getOrElse(false)
  }

  /** "How often did `key` appear in [t0, t1]?" — union the overlapping
    * windows' CMS sketches and estimate: one-sided error,
    * `exact <= est <= exact + eps·N` at the configured confidence.
    */
  def freqEstimate(streamId: Long, key: String, t0: Long = Long.MinValue,
      t1: Long = Long.MaxValue): Long = {
    requireEnabled(FreqSummary.Kind, "enableFreqSummaries")
    requireDeclared(streamId, "cms")
    FreqSummary.rangeFreqEstimate(
        freqSketches.filter($"streamId" === streamId), Seq(key), t0, t1)
      .select("est_cnt").as[Long]
      .collect().headOption.getOrElse(0L)
  }

  /** Approximate heavy hitters of a stream over [t0, t1] — the
    * reference's declared `freq` op: MG candidates (guaranteed to hold
    * every key above N/(MgCapacity+1) of the range) scored by the
    * merged CMS. Returns up to k (key, est) pairs, descending.
    */
  def heavyHitters(streamId: Long, k: Int, t0: Long = Long.MinValue,
      t1: Long = Long.MaxValue): Seq[(String, Long)] = {
    requireEnabled(FreqSummary.Kind, "enableFreqSummaries")
    requireDeclared(streamId, "freq")
    FreqSummary.rangeHeavyHitters(
        freqSketches.filter($"streamId" === streamId), k, t0, t1)
      .orderBy($"rank")
      .select("key", "est_cnt").as[(String, Long)]
      .collect().toSeq
  }

  /** OpSet enforcement for the sketch surface, mirroring [[query]]
    * (`/root/reference/core/op_set.go:14-18`): a DECLARED stream only
    * answers its declared operators; undeclared streams answer all.
    */
  private def requireDeclared(streamId: Long, op: String): Unit =
    metas.get(streamId).foreach { m =>
      if (!m.operators.contains(op))
        throw new IllegalArgumentException(
          s"operator '$op' not declared for stream $streamId " +
            s"(declared: ${m.operators.mkString(", ")})")
    }

  def summaryWindows: Dataset[SummaryWindow] = currentRows[SummaryWindow]("summary_windows")

  /** Declared spans of landmark windows that matched elements — one
    * bounded row per (stream, interval). */
  def landmarkSpans: Dataset[LandmarkSpan] = currentRows[LandmarkSpan]("landmark_spans")

  /** Exact landmark elements, one row each — the scale layout queries
    * aggregate over. */
  def landmarkElems: Dataset[LandmarkElem] = currentRows[LandmarkElem]("landmark_elems")

  /** Driver-side landmark VIEW: elements assembled into one array per
    * window. Small-landmark convenience (tests, inspection) — queries
    * never build it; a wide-open landmark makes this one giant value,
    * which is exactly what the row tables above exist to avoid.
    */
  def landmarks: Dataset[LandmarkWindow] =
    Summarizer.assembleLandmarkWindows(landmarkSpans, landmarkElems)

  /** The reference's public query API
    * (`/root/reference/core/stream.go:156-192`). Streams declared via
    * [[newStream]] only answer their declared operators — an undeclared
    * op is an error, as in the reference's OpSet lookup
    * (`/root/reference/core/op_set.go:14-18`). Undeclared streams (data
    * ingested without a catalog entry) answer all ops.
    *
    * Reads the stream's bucket files of the three tables, named by their
    * manifests: decoded and walked on the driver while they are tiny
    * ([[TinyParquet.onDriver]]), with no Spark job; else by
    * [[QueryEngine.queryOne]] over the same files. Both paths hand the
    * estimator the same windows and digests in ts order.
    */
  def query(
      streamId: Long,
      op: String,
      t0: Long,
      t1: Long,
      params: QueryParams = QueryParams()): AggResult = {
    requireDeclared(streamId, op)
    val Seq(sw, spans, elems) = Seq("summary_windows", "landmark_spans", "landmark_elems")
      .map(streamTable(_).fold(Seq.empty[BucketManifest.File])(_.filesOf(Set(streamId))))
    if (TinyParquet.onDriver((sw ++ spans ++ elems).map(_.bytes).sum)) {
      val (s, l) = QueryEngine.walk(columns(sw, StreamTable.Windows.schema),
          columns(spans, StreamTable.Spans.schema), columns(elems, StreamTable.Elems.schema),
          _ == streamId, t0, t1)
        .getOrElse(streamId, (Nil, Nil))
      SumEstimator.queryDigest(op, t0, t1, s, l, params)
    } else {
      def paths(files: Seq[BucketManifest.File]) = files.map(f => p(f.path))
      QueryEngine.queryOne(readFiles[SummaryWindow](paths(sw)), readFiles[LandmarkSpan](paths(spans)),
        readFiles[LandmarkElem](paths(elems)), streamId, op, t0, t1, params)
    }
  }
}

object SummaryDB {
  /** Hash buckets of every stream table, well under Spark's 32-path
    * parallel-listing threshold. */
  private[graft] val Buckets = 16

  /** What an append does to a stream table's buckets ([[SummaryDB]]'s
    * `bucketPlan`): `merging` are the streams that re-coarsen now
    * (the batch's in buckets on their `mergeEvery`-th append since their
    * last merge, and those earlier appends left unmerged there);
    * `oldFiles` hold the rows the new version rewrites; `carried`
    * buckets keep their files by reference; `cadence` is a rewritten
    * bucket's (appends since its last merge, unmerged streams) when it
    * does not merge now.
    */
  private[core] final case class BucketPlan(
      merging: Set[Long],
      oldFiles: Seq[BucketManifest.File],
      carried: Map[Int, BucketManifest.Bucket],
      cadence: Map[Int, (Int, Set[Long])]) {

    /** The manifest of the version whose rewritten buckets hold `written`. */
    def manifest(written: Map[Int, Seq[BucketManifest.File]]): BucketManifest =
      BucketManifest(Vector.tabulate(Buckets) { b =>
        carried.getOrElse(b, {
          val (since, pending) = cadence.getOrElse(b, (0, Set.empty[Long]))
          BucketManifest.Bucket(written.getOrElse(b, Nil), since, pending)
        })
      })
  }

  private[core] object BucketPlan {
    /** A full rewrite: every bucket rewritten, none left unmerged. */
    val Full: BucketPlan = BucketPlan(Set.empty, Nil, Map.empty, Map.empty)
  }

  /** The bucket of `streamId` among `n`: the partition id Spark's
    * `HashPartitioning` gives one long key (Murmur3, seed 42,
    * non-negative modulo).
    */
  private[graft] def bucketOf(streamId: Long, n: Int): Int =
    Math.floorMod(Murmur3_x86_32.hashLong(streamId, 42), n)

  /** Open an existing DB directory (or start an empty one).
    *
    * `mergeEvery` is the persistence-cadence knob mirroring the
    * reference's `windowsPerMerge` (`/root/reference/core/pipeline.go`
    * merge batching): decay re-coarsening of a bucket runs only on every
    * `mergeEvery`-th incremental append that touches it; in between,
    * fresh batches persist as per-element fine windows. The cadence is
    * per bucket and durable: each bucket's count of appends since its
    * last merge, and the streams they left unmerged, live in the table's
    * manifest, so it survives a reopen. Purely a
    * write-amplification/latency trade — window aggregates are monoids,
    * so the state after a bucket's next merge is identical to
    * always-merging (CompactorSpec, MergeCadenceSpec), and queries over
    * the lagged table stay correct (any nested partition of the stream
    * answers exactly; estimates only get tighter from finer windows).
    */
  def open(spark: SparkSession, dir: String, mergeEvery: Int = 1): SummaryDB =
    new SummaryDB(spark, dir, mergeEvery)

  /** Clear a stale `_writer.lock` left by a writer that died mid-call.
    * Operator intervention, deliberately explicit: verify the old
    * writer is actually dead first (the lock records its pid and
    * acquisition time). Returns true iff a lock was removed. The store
    * itself needs no repair — the versioned-swap protocol leaves only
    * complete table versions, and an uncommitted events batch is
    * skipped by readers and recovered by the next appendOnce replay.
    */
  def breakLock(spark: SparkSession, dir: String): Boolean =
    WriterLock.break(new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration),
      WriterLock.lockPath(dir))
}
