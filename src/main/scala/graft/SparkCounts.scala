package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** What Spark did while a body ran: its wall time, the jobs, stages and
  * tasks it ran, their summed task time, the shuffle bytes written, and
  * one line per finished job.
  */
final case class SparkCounts(
    wallSec: Double,
    jobs: Long,
    stages: Long,
    tasks: Long,
    taskMs: Long,
    shuffleBytes: Long,
    jobLines: Seq[SparkCounts.Job])

object SparkCounts {

  /** One job: its id, start-to-end seconds and short call site. */
  final case class Job(id: Int, sec: Double, callSite: String)

  /** Run `body`, counting with a listener that is read only after the
    * listener bus has drained, so every event of the body has arrived.
    */
  def of[T](spark: SparkSession)(body: => T): (T, SparkCounts) = {
    val sc = spark.sparkContext
    ListenerDrain(sc)
    val jobs, stages, tasks, taskMs, shuffle = new AtomicLong(0L)
    val started = new ConcurrentHashMap[Int, (Long, String)]()
    val queries = new ConcurrentHashMap[Long, String]()
    val finished = new ConcurrentLinkedQueue[Job]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case q: SparkListenerSQLExecutionStart => queries.put(q.executionId, q.description); ()
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        // A query's jobs may start on adaptive-execution threads, so its
        // call site is the one its start event recorded; a plain RDD job
        // names its result stage after its own.
        val query = Option(e.properties).flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
          .flatMap(id => Option(queries.get(id.toLong)))
        val callSite = query.orElse(e.stageInfos.maxByOption(_.stageId).map(_.name)).getOrElse("")
        started.put(e.jobId, (e.time, callSite))
        ()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(started.remove(e.jobId)).foreach { case (t0, callSite) =>
          finished.add(Job(e.jobId, (e.time - t0) / 1e3, callSite))
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet(); ()
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        Option(e.taskInfo).foreach(i => taskMs.addAndGet(i.duration))
        Option(e.taskMetrics).foreach(m => shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten))
      }
    }
    sc.addSparkListener(listener)
    try {
      val t0 = System.nanoTime()
      val out = body
      val wallSec = (System.nanoTime() - t0) / 1e9
      ListenerDrain(sc)
      (out, SparkCounts(wallSec, jobs.get(), stages.get(), tasks.get(), taskMs.get(), shuffle.get(),
        finished.asScala.toSeq.sortBy(_.id)))
    } finally sc.removeSparkListener(listener)
  }
}
