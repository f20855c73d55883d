package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** A traced interval: an op (parent 0) or a layer call inside one. */
final case class Span(id: Int, parent: Int, op: Int, name: String, startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** One finished Spark job, attributed to the span whose job group was
  * set when it started, with its tasks' summed metrics.
  */
final case class JobRec(
    jobId: Int,
    spanId: Int,
    startMs: Double,
    endMs: Double,
    tasks: Long,
    taskMs: Long,
    shuffleBytes: Long,
    bytesWritten: Long,
    rowsRead: Long)

/** What one traced op cost: its spans and the jobs they ran. */
final case class OpTrace(op: Span, spans: Seq[Span], jobs: Seq[JobRec]) {
  def jobsOf(name: String): Seq[JobRec] = {
    val ids = spans.filter(_.name == name).map(_.id).toSet
    jobs.filter(j => ids(j.spanId))
  }
  def spanMs(name: String): Double = spans.filter(_.name == name).map(_.ms).sum
  /** Driver time of the op outside any of its Spark jobs. */
  def selfMs: Double = Trace.selfMs(op.startMs, op.endMs, jobs.map(j => (j.startMs, j.endMs)))
}

object Trace {
  /** Spark's local property holding the job group of the calling thread. */
  val JobGroupKey = "spark.jobGroup.id"
  val GroupPrefix = "perfbench-span-"

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def coveredMs(lo: Double, hi: Double, intervals: Seq[(Double, Double)]): Double = {
    val clipped = intervals
      .map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    clipped.foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) covered += curE - curS
    covered
  }

  /** A span's self time: its duration minus the part of it that child
    * intervals (overlapping ones counted once) cover.
    */
  def selfMs(start: Double, end: Double, children: Seq[(Double, Double)]): Double =
    (end - start) - coveredMs(start, end, children)
}

/** Spark listener that attributes every job to a benchmark span through
  * the job group the [[Tracer]] sets around each span. Sub-jobs that
  * Spark starts for adaptive execution and broadcasts inherit the
  * caller's local properties, so they are attributed too; call-site
  * strings are not used (they are empty or name a thread-pool frame for
  * those sub-jobs).
  */
final class JobLedger extends SparkListener {
  private final class Acc(val jobId: Int, val spanId: Int, val startMs: Long) {
    var endMs: Long = -1L
    var tasks, taskMs, shuffleBytes, bytesWritten, rowsRead = 0L
  }
  private val jobs = mutable.Map.empty[Int, Acc]
  private val stageJob = mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.JobGroupKey)))
    group.filter(_.startsWith(Trace.GroupPrefix)).foreach { g =>
      val spanId = g.stripPrefix(Trace.GroupPrefix).toInt
      jobs(e.jobId) = new Acc(e.jobId, spanId, e.time)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jobId <- stageJob.get(e.stageId); a <- jobs.get(jobId); m <- Option(e.taskMetrics)) {
      a.tasks += 1
      a.taskMs += m.executorRunTime
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.bytesWritten += m.outputMetrics.bytesWritten
      a.rowsRead += m.inputMetrics.recordsRead
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  /** True when every job attributed to `spanIds` has ended. */
  def settled(spanIds: Set[Int]): Boolean = synchronized {
    jobs.values.forall(a => !spanIds(a.spanId) || a.endMs >= 0)
  }

  /** Remove and return the finished jobs of `spanIds`. */
  def take(spanIds: Set[Int]): Seq[JobRec] = synchronized {
    val mine = jobs.values.filter(a => spanIds(a.spanId) && a.endMs >= 0).toSeq.sortBy(_.jobId)
    mine.foreach { a => jobs.remove(a.jobId) }
    stageJob.filterInPlace((_, j) => jobs.contains(j))
    mine.map(a => JobRec(a.jobId, a.spanId, a.startMs.toDouble, a.endMs.toDouble,
      a.tasks, a.taskMs, a.shuffleBytes, a.bytesWritten, a.rowsRead))
  }
}

/** Records spans around calls into the program's layers and, through
  * [[JobLedger]], the Spark jobs each span ran. Spans stay in memory
  * until [[spans]] is read at the end of the run.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val ledger = new JobLedger
  sc.addSparkListener(ledger)

  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  /** Wall clock in epoch milliseconds, with nanoTime resolution. */
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  private var nextId = 0
  private var stack: List[Span] = Nil
  private val done = mutable.ArrayBuffer.empty[Span]
  private val pendingOp = mutable.ArrayBuffer.empty[Span]

  /** All spans recorded so far. */
  def spans: Seq[Span] = done.toSeq

  /** Run `body` as a span: a new op when no span is open, else a child
    * of the innermost open one. Jobs started meanwhile carry this span's
    * job group; the caller's group is restored afterwards.
    */
  def span[T](name: String)(body: => T): T = {
    nextId += 1
    val id = nextId
    val parent = stack.headOption
    val prevGroup = sc.getLocalProperty(Trace.JobGroupKey)
    sc.setJobGroup(Trace.GroupPrefix + id, name)
    val open = Span(id, parent.map(_.id).getOrElse(0), parent.map(_.op).getOrElse(id), name, nowMs, 0.0)
    stack = open :: stack
    try body
    finally {
      val closed = open.copy(endMs = nowMs)
      stack = stack.tail
      if (prevGroup == null) sc.clearJobGroup()
      else sc.setJobGroup(prevGroup, parent.map(_.name).getOrElse(""))
      pendingOp += closed
      done += closed
    }
  }

  /** Close the accounting of the op whose spans were recorded since the
    * last call: wait until the listener has seen all of their jobs end,
    * then return them. Called outside the timed region.
    */
  def collectOp(): OpTrace = {
    val spans = pendingOp.toSeq
    pendingOp.clear()
    val ids = spans.map(_.id).toSet
    val deadline = System.nanoTime() + 10000000000L
    org.apache.spark.PerfbenchBus.drain(sc)
    while (!ledger.settled(ids) && System.nanoTime() < deadline) {
      Thread.sleep(1)
      org.apache.spark.PerfbenchBus.drain(sc)
    }
    val op = spans.find(_.parent == 0).getOrElse(
      throw new IllegalStateException("collectOp without a finished op span"))
    OpTrace(op, spans, ledger.take(ids))
  }

  def close(): Unit = sc.removeSparkListener(ledger)
}
