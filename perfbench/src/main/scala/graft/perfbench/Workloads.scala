package graft.perfbench

import graft.core._
import graft.estimator.SumEstimator
import graft.ops.{AnnIndex, Bm25Index}
import graft.windowing.ExponentialWindowing
import org.apache.spark.sql.{DataFrame, Dataset, Row}

import java.util.SplittableRandom
import scala.collection.mutable

/** A named figure a workload reports: value, unit, and the number of
  * samples behind it (0 for a count or ratio).
  */
final case class Figure(name: String, value: Double, unit: String, samples: Int = 0)

/** One benchmark workload. [[setup]] builds its state from scratch (a run
  * calls it [[setups]] times and keeps the last state), [[warm]] runs
  * untimed ops, [[step]] is one closed-loop step of the measured phase.
  */
trait Workload {
  def setups: Int
  def setup(): Unit
  def warm(): Unit
  def step(): Unit
  def teardown(): Unit
  /** Kinds of the ops whose latencies are the main and side metrics. */
  def mainKind: String
  def sideKinds: Seq[String]
  /** Bytes on disk per user byte, as the workload defines it. */
  def diskBytesPerUserByte: Double
  /** The workload's figures under their own names, printed by every run. */
  def figures(): Seq[Figure]
  /** Per-layer figures of a traced run; layers left idle are absent. */
  def layers(): Map[String, Double]
}

object Workloads {
  val Spec: ExponentialWindowing = ExponentialWindowing(2.0)
  /** A raw event as a user hands it over: stream id, timestamp, value. */
  val UserBytesPerRow = 24L

  def apply(name: String, h: Harness, seed: Long): Workload = name match {
    case "point_query"  => new PointQuery(h, seed)
    case "append_mixed" => new AppendMixed(h, seed)
    case "bulk_load"    => new BulkLoad(h, seed)
    case "index_probe"  => new IndexProbe(h, seed)
    case other          => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** Windows that base-2 exponential decay keeps for a stream of `n`
    * elements, written out here rather than taken from the program: the
    * decay merges windows like a binary counter, which leaves
    * popcount(n + 1) + floor(log2(n + 1)) - 1 of them (1, 2, 2, 3, 3, 4,
    * 3, 4, ... for n = 1, 2, 3, ...). On the repository's sf0.1 events
    * (1,500 streams) it gives 12,079 windows, 100,000 / 12,079 = 8.278831
    * rows per window.
    */
  def decayWindows(n: Long): Long =
    java.lang.Long.bitCount(n + 1) + (63 - java.lang.Long.numberOfLeadingZeros(n + 1)) - 1L

  def sameBits(a: Double, b: Double): Boolean =
    java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b)

  /** Mean of `f` over traces, 0 when there are none. */
  def perOp(ts: Seq[OpTrace])(f: OpTrace => Double): Double = Stats.mean(ts.map(f))

  def p50(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** The p50 figure of the untraced latencies of `kinds`, plus its tail
    * figure when the run has enough samples for one.
    */
  def latency(h: Harness, kinds: Seq[String], name: String, withTail: Boolean): Seq[Figure] = {
    val xs = kinds.flatMap(h.untraced)
    Figure(s"${name}_p50_ms", p50(xs), "ms", xs.size) +: (if (withTail) Main.tailFigure(s"${name}_tail_ms", xs) else Nil)
  }
}

import Workloads._

/** Seeded base events written once as Parquet, plus the driver-side
  * facts the checks need: per-stream sorted timestamps, and the window
  * count of one copy by [[Workloads.decayWindows]].
  */
final class BaseData(h: Harness, seed: Long) {
  import h.spark.implicits._
  val events: Gen.Events = Gen.events(seed)
  val tsByStream: Map[Long, Array[Long]] = {
    val m = mutable.Map.empty[Long, mutable.ArrayBuilder.ofLong]
    var i = 0
    while (i < events.size) {
      m.getOrElseUpdate(events.stream(i), new mutable.ArrayBuilder.ofLong) += events.ts(i)
      i += 1
    }
    m.map { case (k, b) => k -> b.result() }.toMap // events are in ts order
  }
  val tMin: Long = events.ts.head
  val tMax: Long = events.ts.last
  /** Windows of one copy, from each stream's element count alone. */
  val windowsPerCopy: Long = tsByStream.values.map(a => decayWindows(a.length.toLong)).sum

  private val path = h.freshDir("base-events")
  (0 until events.size).map(i => Event(events.stream(i), i.toLong, events.ts(i), events.value(i)))
    .toDS().write.parquet(path)

  /** `copies` stream-shifted copies, replicated by crossJoin as in `graft.Bench`. */
  def fleet(copies: Int): Dataset[Event] =
    h.spark.read.parquet(path)
      .crossJoin(h.spark.range(copies).select($"id".as("copy")))
      .select(($"streamId" + $"copy" * Gen.CopyStride).as("streamId"), $"seq", $"ts", $"value")
      .as[Event]

  def baseStream(sid: Long): Long = sid % Gen.CopyStride

  def countOf(sid: Long): Long = tsByStream.get(baseStream(sid)).map(_.length.toLong).getOrElse(0L)

  /** Exact raw-event count of stream `sid` in [t0, t1]. */
  def exactCount(sid: Long, t0: Long, t1: Long): Long = {
    val a = tsByStream.getOrElse(baseStream(sid), Array.emptyLongArray)
    def lowerBound(t: Long): Int = {
      var lo = 0
      var hi = a.length
      while (lo < hi) { val m = (lo + hi) >>> 1; if (a(m) < t) lo = m + 1 else hi = m }
      lo
    }
    if (t1 < t0) 0L else (lowerBound(if (t1 == Long.MaxValue) t1 else t1 + 1) - lowerBound(t0)).toLong
  }

  def delete(): Unit = Harness.deleteTree(path)
}

/** The fleet store of the store workloads: `copies` copies of the base
  * events loaded with one `SummaryDB.append` (a bulk load), and the
  * driver-side copy of its window table from one full read, which gives
  * every expected answer.
  */
final class Store(h: Harness, seed: Long, val copies: Int) {
  val base = new BaseData(h, seed)
  val dir: String = h.freshDir("store")
  val db: SummaryDB = SummaryDB.open(h.spark, dir)
  db.append(base.fleet(copies))
  val windows: Map[Long, Array[SummaryWindow]] =
    db.summaryWindows.collect().groupBy(_.streamId).map { case (k, ws) => k -> ws.sortBy(_.ts) }
  val rows: Long = base.events.size.toLong * copies
  val windowCount: Long = windows.valuesIterator.map(_.length.toLong).sum
  /** Bytes of the store right after the load, per user byte loaded. */
  val bytesPerUserByte: Double = Harness.treeBytes(dir).toDouble / (rows * UserBytesPerRow)
  val queries = new Gen.PointQueries(seed, copies, base.tMin, base.tMax)

  /** Mismatch of the bulk load against the expected window count, if any. */
  def loadCheck: Seq[String] = {
    if (windowCount == base.windowsPerCopy * copies) Nil
    else Seq(s"$windowCount windows, expected ${base.windowsPerCopy * copies}")
  }

  def inRange(sid: Long, t0: Long, t1: Long): Seq[SummaryWindow] =
    windows.getOrElse(sid, Array.empty[SummaryWindow]).filter(w => w.te >= t0 && w.ts <= t1).toSeq

  def expected(q: Gen.PointQuery): AggResult =
    SumEstimator.queryDigest(q.op, q.t0, q.t1, inRange(q.streamId, q.t0, q.t1), Nil, QueryParams())

  /** Mismatches of a point answer: it must be bit-identical to the
    * estimate over the full read's windows, and a count's bounds must
    * hold the exact raw count.
    */
  def check(q: Gen.PointQuery, got: AggResult): Seq[String] = {
    val want = expected(q)
    val same = sameBits(got.value, want.value) && sameBits(got.error, want.error)
    val inBounds = q.op != "count" || {
      val b = SumEstimator.boundsQueryDigest("count", q.t0, q.t1, inRange(q.streamId, q.t0, q.t1), Nil)
      val exact = base.exactCount(q.streamId, q.t0, q.t1).toDouble
      exact >= b.lower && exact <= b.upper
    }
    (if (same) Nil else Seq(s"$q answered $got, expected $want")) ++
      (if (inBounds) Nil else Seq(s"$q: exact count outside the count bounds"))
  }

  def countRelErr(q: Gen.PointQuery, got: AggResult): Double = {
    val exact = base.exactCount(q.streamId, q.t0, q.t1).toDouble
    math.abs(got.value - exact) / math.max(exact, 1.0)
  }

  def delete(): Unit = { Harness.deleteTree(dir); base.delete() }
}

/** Calls into the query layers, and what the traced runs learn from them. */
object QueryOps {
  /** One `SummaryDB.query` op, checked by `verify`. In the measured phase
    * of a traced run it is followed, outside the op, by a span over the
    * three version lookups alone (`summaryWindows`, `landmarkSpans`,
    * `landmarkElems`), which gives `summarydb.resolve_ms`.
    */
  def pointOp(h: Harness, db: SummaryDB, kind: String, q: Gen.PointQuery)(verify: AggResult => Seq[String]): Unit = {
    h.op(kind)(db.query(q.streamId, q.op, q.t0, q.t1))(verify)
    if (h.measuring) h.tracedOnly("summarydb.resolve") {
      db.summaryWindows
      db.landmarkSpans
      db.landmarkElems
    }(_ => Nil)
  }

  def fleetQuery(h: Harness, db: SummaryDB, op: String, t0: Long, t1: Long): Array[Row] = {
    val (sw, sp, el) = h.layer("summarydb.resolve")((db.summaryWindows, db.landmarkSpans, db.landmarkElems))
    h.layer("queryengine.range_query_all")(QueryEngine.rangeQueryAll(sw, sp, el, op, t0, t1, QueryParams()).collect())
  }

  /** Mismatches of a fleet answer against the full read's windows. */
  def checkFleet(store: Store, op: String, t0: Long, t1: Long, rows: Array[Row]): Seq[String] = {
    val want = store.windows.keysIterator.flatMap { sid =>
      val ws = store.inRange(sid, t0, t1)
      if (ws.isEmpty) None else Some(sid -> SumEstimator.queryDigest(op, t0, t1, ws, Nil, QueryParams()))
    }.toMap
    val got = rows.map(r => r.getLong(0) -> AggResult(r.getDouble(1), r.getDouble(2))).toMap
    if (got.size != want.size || got.size != rows.length)
      Seq(s"fleet $op [$t0, $t1]: ${rows.length} rows for ${want.size} streams")
    else got.collect {
      case (sid, a) if !want.get(sid).exists(w => sameBits(w.value, a.value) && sameBits(w.error, a.error)) =>
        s"fleet $op [$t0, $t1] stream $sid: $a, expected ${want(sid)}"
    }.take(3).toSeq
  }

  /** Checked point answers of the measured phase: count errors, and in
    * traced runs the windows each returned and the estimator's own time
    * on them.
    */
  final class PointStats {
    val returned = mutable.ArrayBuffer.empty[Double]
    val estimatorMs = mutable.ArrayBuffer.empty[Double]
    val relErr = mutable.ArrayBuffer.empty[Double]

    def record(h: Harness, store: Store, q: Gen.PointQuery, got: AggResult): Unit = if (h.measuring) {
      if (q.op == "count") relErr += store.countRelErr(q, got)
      if (h.tracer.isDefined) {
        val ws = store.inRange(q.streamId, q.t0, q.t1)
        returned += ws.size
        val t0 = System.nanoTime()
        SumEstimator.queryDigest(q.op, q.t0, q.t1, ws, Nil, QueryParams())
        estimatorMs += (System.nanoTime() - t0) / 1e6
      }
    }

    /** `point_query.query_one_ms` is the traced `SummaryDB.query` op less
      * the version lookups timed beside it: the query engine's share.
      */
    def layers(h: Harness, kind: String): Map[String, Double] = {
      val pq = h.tracesOf(kind)
      val rowsRead = perOp(pq)(_.jobs.map(_.rowsRead).sum.toDouble)
      val ret = Stats.mean(returned.toSeq)
      val resolve = perOp(h.tracesOf("summarydb.resolve"))(_.op.ms)
      Map(
        "summarydb.resolve_ms" -> resolve,
        "point_query.query_one_ms" -> (if (pq.isEmpty) 0.0 else math.max(0.0, perOp(pq)(_.op.ms) - resolve)),
        "point_query.jobs_per_op" -> perOp(pq)(_.jobs.size.toDouble),
        "point_query.tasks_per_op" -> perOp(pq)(_.jobs.map(_.tasks).sum.toDouble),
        "point_query.rows_read_per_op" -> rowsRead,
        "point_query.windows_returned_per_op" -> ret,
        "point_query.read_amplification" -> (if (ret > 0) rowsRead / ret else 0.0),
        "estimator.ms" -> Stats.mean(estimatorMs.toSeq),
        "estimator.count_rel_err_mean" -> Stats.mean(relErr.toSeq))
    }
  }
}

/** The layers of a bulk load called one by one on the same input (traced
  * runs only): ingest, the summarizer's one-shot path, and the
  * compactor's fine-window merge that an append to a fresh store takes.
  * Both must give the expected window count.
  */
final class LoadLayers(h: Harness) {
  private val counts = mutable.ArrayBuffer.empty[(Long, Long, Long)]

  def run(fleet: Dataset[Event], expectedWindows: Long): Unit = h.tracedOnly("load_layers") {
    val prepared = Ingest.prepare(fleet.toDF().withColumnRenamed("seq", "arrival")).persist()
    try {
      val rows = h.layer("ingest.prepare")(prepared.count())
      val windows = h.layer("summarize")(Summarizer.summarizePerStream(prepared, _ => Spec).count())
      val fine = Compactor.fineWindows(prepared, Map.empty[Long, Long])
      val out = h.layer("compactor.recoarsen")(Compactor.recoarsen(fine, _ => Spec).count())
      counts += ((windows, rows, out))
      (windows, out)
    } finally prepared.unpersist()
  } { case (windows, out) =>
    if (windows == expectedWindows && out == expectedWindows) Nil
    else Seq(s"summarizer gave $windows windows and compactor $out, expected $expectedWindows")
  }

  def layers(): Map[String, Double] = {
    val ls = h.tracesOf("load_layers")
    def bytes(n: String) = perOp(ls)(_.jobsOf(n).map(_.shuffleBytes).sum.toDouble)
    def mean(f: ((Long, Long, Long)) => Long) = Stats.mean(counts.toSeq.map(f(_).toDouble))
    Map(
      "ingest.prepare_ms" -> perOp(ls)(_.spanMs("ingest.prepare")),
      "ingest.shuffle_bytes" -> bytes("ingest.prepare"),
      "summarize.ms" -> perOp(ls)(_.spanMs("summarize")),
      "summarize.windows_out" -> mean(_._1),
      "summarize.shuffle_bytes" -> bytes("summarize"),
      "compactor.recoarsen_ms" -> perOp(ls)(_.spanMs("compactor.recoarsen")),
      "compactor.windows_in" -> mean(_._2),
      "compactor.windows_out" -> mean(_._3))
  }
}

/** Per-layer figures of traced `SummaryDB.append` ops. */
object AppendLayers {
  def of(h: Harness, kind: String, rowsPerOp: Double, filesWritten: Seq[Double]): Map[String, Double] = {
    val ts = h.tracesOf(kind)
    val written = perOp(ts)(_.jobs.map(_.bytesWritten).sum.toDouble)
    Map(
      "append.jobs_per_op" -> perOp(ts)(_.jobs.size.toDouble),
      "append.task_ms_per_op" -> perOp(ts)(_.jobs.map(_.taskMs).sum.toDouble),
      "append.shuffle_bytes_per_op" -> perOp(ts)(_.jobs.map(_.shuffleBytes).sum.toDouble),
      "append.bytes_written_per_op" -> written,
      "append.files_written_per_op" -> Stats.mean(filesWritten),
      "append.write_amplification" -> (if (ts.isEmpty) 0.0 else written / (rowsPerOp * UserBytesPerRow)),
      "append.driver_self_ms" -> perOp(ts)(_.selfMs))
  }
}

/** Read-only serving: point queries against a fleet store built in
  * set-up, with one op in [[FleetEvery]] a fleet-wide range query. Its
  * traced runs also build the serving indexes and probe each once.
  */
final class PointQuery(h: Harness, seed: Long) extends Workload {
  val Copies = 5
  val FleetEvery = 3
  val WarmOps = 32
  val setups = 2
  val mainKind = "point_query"
  val sideKinds = Seq("fleet_query")
  private var store: Store = _
  private val mix = new SplittableRandom(seed * 17L + 11L)
  private val stats = new QueryOps.PointStats
  private val loadLayers = new LoadLayers(h)
  private val index = new ServingIndexes(h, seed)

  def setup(): Unit = {
    teardown()
    store = new Store(h, seed, Copies)
    h.op("bulk_load_check")(store)(_.loadCheck)
  }

  private def point(): Unit = {
    val q = store.queries.next()
    QueryOps.pointOp(h, store.db, mainKind, q) { got =>
      stats.record(h, store, q, got)
      store.check(q, got)
    }
  }

  private def fleet(): Unit = {
    val q = store.queries.next()
    h.op("fleet_query")(QueryOps.fleetQuery(h, store.db, q.op, q.t0, q.t1))(QueryOps.checkFleet(store, q.op, q.t0, q.t1, _))
  }

  /** Untimed until the JIT has mostly settled: point latency falls by
    * about a third over the first few dozen queries of a fresh JVM, and
    * more warm-up would not fit the run budget. Traced runs first
    * take the bulk load and the serving indexes layer by layer: an index
    * build costs about 20 s in a fresh JVM, more than the run budget
    * leaves for every run.
    */
  def warm(): Unit = {
    loadLayers.run(store.base.fleet(Copies), store.base.windowsPerCopy * Copies)
    if (h.tracer.isDefined) {
      index.setup()
      index.traceProbes()
    }
    (1 to WarmOps).foreach(i => if (i % FleetEvery == 0) fleet() else point())
  }
  def step(): Unit = if (mix.nextInt(FleetEvery) == 0) fleet() else point()
  def teardown(): Unit = {
    if (store != null) store.delete()
    index.teardown()
  }

  def diskBytesPerUserByte: Double = store.bytesPerUserByte

  def figures(): Seq[Figure] =
    latency(h, Seq(mainKind), "point_query", withTail = true) ++ latency(h, sideKinds, "fleet_query", withTail = false) ++
      Seq(
        Figure("count_rel_err_mean", Stats.mean(stats.relErr.toSeq), "ratio", stats.relErr.size),
        Figure("stored_bytes_per_user_byte", diskBytesPerUserByte, "B/B"),
        Figure("compression_ratio", store.rows.toDouble / store.windowCount, "x"))

  def layers(): Map[String, Double] = {
    val fq = h.tracesOf("fleet_query")
    stats.layers(h, mainKind) ++ loadLayers.layers() ++ index.layers() ++ Map(
      "fleet_query.jobs_per_op" -> perOp(fq)(_.jobs.size.toDouble),
      "fleet_query.task_ms_per_op" -> perOp(fq)(_.jobs.map(_.taskMs).sum.toDouble),
      "fleet_query.shuffle_bytes_per_op" -> perOp(fq)(_.jobs.map(_.shuffleBytes).sum.toDouble))
  }
}

/** Writes beside reads on one store: each step appends a 100-row batch
  * over about 10 streams, then runs 4 point queries, 2 of them on
  * streams the batch just touched.
  */
final class AppendMixed(h: Harness, seed: Long) extends Workload {
  import h.spark.implicits._
  val Copies = 5
  val WarmSteps = 3
  val setups = 2
  val mainKind = "append"
  /** Reads after each append: full-history counts on streams it touched,
    * and point queries on streams no append has touched.
    */
  val sideKinds = Seq("read_appended", "read_untouched")
  private var store: Store = _
  private val rng = new SplittableRandom(seed * 23L + 19L)
  private val counts = mutable.Map.empty[Long, Long]
  private val frontier = mutable.Map.empty[Long, Long]
  private val touched = mutable.Set.empty[Long]
  private val written = mutable.ArrayBuffer.empty[Double]
  private val files = mutable.ArrayBuffer.empty[Double]
  private val stats = new QueryOps.PointStats
  private var batchNo = 0L

  def setup(): Unit = {
    teardown()
    store = new Store(h, seed, Copies)
    h.op("bulk_load_check")(store)(_.loadCheck)
    counts.clear(); frontier.clear(); touched.clear()
  }

  private def countOf(sid: Long): Long = counts.getOrElse(sid, store.base.countOf(sid))
  private def frontierOf(sid: Long): Long =
    frontier.getOrElse(sid, store.base.tsByStream.get(store.base.baseStream(sid)).map(_.last).getOrElse(store.base.tMin))

  def step(): Unit = {
    val b = Gen.batch(rng, () => store.queries.nextStream(), frontierOf)
    batchNo += 1
    val ds = b.stream.indices.map(i => Event(b.stream(i), batchNo * 1000L + b.seq(i), b.ts(i), b.value(i))).toDS()
    val before = Harness.treeFiles(store.dir)
    h.op(mainKind)(store.db.append(ds))(_ => Nil).foreach { _ =>
      val added = (Harness.treeFiles(store.dir) -- before).toSeq
      if (h.measuring) {
        written += added.map(f => new java.io.File(f).length()).sum.toDouble / (b.stream.length * UserBytesPerRow)
        files += added.size
      }
    }
    b.perStream.foreach { case (sid, n) => counts(sid) = countOf(sid) + n }
    b.stream.indices.foreach(i => if (b.ts(i) > frontierOf(b.stream(i))) frontier(b.stream(i)) = b.ts(i))
    touched ++= b.stream
    // Full-history counts on two streams the batch touched: exact, so a
    // stale read shows as a wrong count.
    b.stream.distinct.take(2).foreach { sid =>
      val q = Gen.PointQuery(sid, "count", Long.MinValue / 4, Long.MaxValue / 4)
      QueryOps.pointOp(h, store.db, "read_appended", q) { got =>
        val want = countOf(sid).toDouble
        if (got.value == want && got.error == 0.0) Nil else Seq(s"stream $sid counted $got after append, expected $want")
      }
    }
    // Point queries on two streams no append has touched: their windows
    // are unchanged, so set-up's full read still gives the answer.
    Iterator.continually(store.queries.next()).filterNot(q => touched(q.streamId)).take(2).foreach { q =>
      QueryOps.pointOp(h, store.db, "read_untouched", q) { got =>
        stats.record(h, store, q, got)
        store.check(q, got)
      }
    }
  }

  /** Untimed until the JIT has mostly settled: an append's latency
    * falls by about a third over the first few appends of a fresh JVM.
    */
  def warm(): Unit = (1 to WarmSteps).foreach(_ => step())
  def teardown(): Unit = if (store != null) store.delete()

  def diskBytesPerUserByte: Double = store.bytesPerUserByte

  def figures(): Seq[Figure] =
    latency(h, Seq(mainKind), "append", withTail = true) ++ latency(h, sideKinds, "read_after_write", withTail = false) ++
      Seq(Figure("append_bytes_written_per_user_byte", p50(written.toSeq), "B/B", written.size))

  def layers(): Map[String, Double] =
    AppendLayers.of(h, mainKind, Gen.BatchRows.toDouble, files.toSeq) ++ stats.layers(h, "read_untouched")
}

/** Repeated loads of a fleet into a fresh store, one append each, each
  * followed by a whole-history fleet count checked against the raw
  * counts. Runnable by hand; the store workloads' set-up is the same load.
  */
final class BulkLoad(h: Harness, seed: Long) extends Workload {
  val Copies = 10
  val setups = 3
  val mainKind = "load"
  val sideKinds = Seq("fleet_count")
  private var base: BaseData = _
  private var fleet: Dataset[Event] = _
  private val storeBytes = mutable.ArrayBuffer.empty[Double]
  private var windowsLoaded = 0L
  private val loadLayers = new LoadLayers(h)

  def setup(): Unit = {
    teardown()
    base = new BaseData(h, seed)
    fleet = base.fleet(Copies)
  }

  private def rows: Long = base.events.size.toLong * Copies
  private def expectedWindows: Long = base.windowsPerCopy * Copies

  def step(): Unit = {
    val dir = h.freshDir("load")
    try {
      h.op(mainKind) {
        val db = SummaryDB.open(h.spark, dir)
        db.append(fleet)
        db
      } { db =>
        val n = db.summaryWindows.count()
        windowsLoaded = n
        if (h.measuring) storeBytes += Harness.treeBytes(dir).toDouble / (rows * UserBytesPerRow)
        if (n == expectedWindows) Nil else Seq(s"$n windows, expected $expectedWindows")
      }.foreach { db =>
        val (t0, t1) = (base.tMin - 1L, Long.MaxValue)
        h.op("fleet_count")(QueryOps.fleetQuery(h, db, "count", t0, t1)) { rs =>
          val bad = rs.filter(r => r.getDouble(1) != base.exactCount(r.getLong(0), t0, t1).toDouble || r.getDouble(2) != 0.0)
          (if (rs.length == base.tsByStream.size * Copies) Nil else Seq(s"${rs.length} streams answered")) ++
            bad.take(3).map(r => s"stream ${r.getLong(0)} counted ${r.getDouble(1)} +- ${r.getDouble(2)}")
        }
        if (h.measuring) loadLayers.run(fleet, expectedWindows)
      }
    } finally Harness.deleteTree(dir)
  }

  def warm(): Unit = step()
  def teardown(): Unit = if (base != null) base.delete()

  def diskBytesPerUserByte: Double = p50(storeBytes.toSeq)

  def figures(): Seq[Figure] = {
    val loads = h.untraced(mainKind)
    Seq(
      Figure("load_rows_per_s", if (loads.isEmpty) 0.0 else rows / (p50(loads) / 1000.0), "1/s", loads.size),
      Figure("compression_ratio", rows.toDouble / windowsLoaded, "x"),
      Figure("stored_bytes_per_user_byte", diskBytesPerUserByte, "B/B", storeBytes.size)) ++
      latency(h, Seq(mainKind), "load", withTail = false) ++ latency(h, sideKinds, "fleet_count", withTail = false)
  }

  def layers(): Map[String, Double] = loadLayers.layers() ++ AppendLayers.of(h, mainKind, rows.toDouble, Nil)
}

/** The two serving indexes, built from seeded documents and vectors: a
  * BM25 index (nTb=64) and an IVF-PQ index (16 cells, m=16, 32 codes, 5
  * iterations), the `index_check` shapes of `graft.Bench` on a smaller
  * corpus. A probe is one 20-query `Bm25Index.topDocs` or one 50-query
  * `AnnIndex.topKPq` batch (k=10, nProbe=8), alternately, and must
  * return the rows of set-up's first probe of the same batch.
  */
final class ServingIndexes(h: Harness, seed: Long) {
  import h.spark.implicits._
  private var dirs: Seq[String] = Nil
  private var bmDir, annDir: String = _
  private var bmQuery, annQuery: DataFrame = _
  private var bmWant, annWant: Seq[Row] = Nil
  private var userBytes = 0L
  private var probes = 0
  private val buildMs = mutable.Map.empty[String, Double]

  private def timedBuild(name: String)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    buildMs(name) = (System.nanoTime() - t0) / 1e6
  }

  private def rowsOf(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)
  private def bm25(): Seq[Row] = rowsOf(Bm25Index.topDocs(h.spark, bmDir, bmQuery, k = 10))
  private def ann(): Seq[Row] = rowsOf(AnnIndex.topKPq(h.spark, annDir, annQuery, k = 10, nProbe = 8))

  def setup(): Unit = {
    teardown()
    val docs = Gen.documents(seed)
    val vecs = Gen.vectors(seed)
    userBytes = docs.map(d => 8L + d.text.length).sum + vecs.map(v => 8L + 4L * v.embedding.length).sum
    val Seq(docsDir, vecsDir) = Seq("documents", "embeddings").map(h.freshDir)
    bmDir = h.freshDir("bm25")
    annDir = h.freshDir("ann")
    dirs = Seq(docsDir, vecsDir, bmDir, annDir)
    docs.toSeq.map(d => (d.docId, d.text, d.lang, d.source, d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars").write.parquet(docsDir)
    vecs.toSeq.map(v => (v.vecId, v.embedding.toSeq, v.label)).toDF("vec_id", "embedding", "label").write.parquet(vecsDir)
    timedBuild("bm25")(Bm25Index.build(h.spark.read.parquet(docsDir), bmDir, nTb = 64))
    timedBuild("ann") {
      AnnIndex.build(h.spark.read.parquet(vecsDir), annDir, nClusters = 16, iters = 5)
      AnnIndex.buildPq(h.spark, annDir, m = 16, codes = 32, iters = 5)
    }
    val r = new SplittableRandom(seed * 29L + 13L)
    bmQuery = Gen.bm25Queries(r, docs).toSeq.toDF("query_id", "text").localCheckpoint()
    annQuery = Gen.annQueryIds(r).toSeq.map(id => (id, vecs(id.toInt).embedding.toSeq))
      .toDF("vec_id", "embedding").localCheckpoint()
    bmWant = bm25()
    annWant = ann()
  }

  private def same(kind: String, want: Seq[Row])(got: Seq[Row]): Seq[String] =
    if (got == want) Nil else Seq(s"$kind rows differ from set-up's first probe (${got.size} vs ${want.size} rows)")

  /** One probe op, BM25 and ANN in turn. */
  def probe(): Unit = {
    if (probes % 2 == 0) h.op("bm25_probe")(bm25())(same("bm25_probe", bmWant))
    else h.op("ann_probe")(ann())(same("ann_probe", annWant))
    probes += 1
  }

  /** One traced probe of each index (traced runs only), checked like
    * the others.
    */
  def traceProbes(): Unit = {
    h.tracedOnly("bm25_probe")(bm25())(same("bm25_probe", bmWant))
    h.tracedOnly("ann_probe")(ann())(same("ann_probe", annWant))
  }

  def teardown(): Unit = dirs.foreach(Harness.deleteTree)

  def bytesPerUserByte: Double = (Harness.treeBytes(bmDir) + Harness.treeBytes(annDir)).toDouble / userBytes

  def figures(): Seq[Figure] =
    latency(h, Seq("bm25_probe"), "bm25_probe", withTail = false) ++ latency(h, Seq("ann_probe"), "ann_probe", withTail = false) ++
      Seq(Figure("index_bytes_per_user_byte", bytesPerUserByte, "B/B"))

  def layers(): Map[String, Double] = {
    def probe(kind: String, prefix: String) = {
      val ts = h.tracesOf(kind)
      Map(
        s"$prefix.probe_jobs_per_op" -> perOp(ts)(_.jobs.size.toDouble),
        s"$prefix.probe_task_ms_per_op" -> perOp(ts)(_.jobs.map(_.taskMs).sum.toDouble),
        s"$prefix.probe_shuffle_bytes_per_op" -> perOp(ts)(_.jobs.map(_.shuffleBytes).sum.toDouble))
    }
    probe("bm25_probe", "bm25") ++ probe("ann_probe", "ann") ++
      Map("bm25.build_ms" -> buildMs.getOrElse("bm25", 0.0), "ann.build_ms" -> buildMs.getOrElse("ann", 0.0))
  }
}

/** Serving-index probes alone: alternating BM25 and IVF-PQ batches
  * against the indexes built in set-up. Runnable by hand; traced
  * `point_query` runs build the same indexes and probe each once.
  */
final class IndexProbe(h: Harness, seed: Long) extends Workload {
  val setups = 1
  val mainKind = "bm25_probe"
  val sideKinds = Seq("ann_probe")
  private val index = new ServingIndexes(h, seed)

  def setup(): Unit = index.setup()
  def warm(): Unit = { index.traceProbes(); index.probe(); index.probe() }
  def step(): Unit = index.probe()
  def teardown(): Unit = index.teardown()
  def diskBytesPerUserByte: Double = index.bytesPerUserByte
  def figures(): Seq[Figure] = index.figures()
  def layers(): Map[String, Double] = index.layers()
}
