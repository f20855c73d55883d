package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Spark jobs started and shuffle bytes written while a body ran. */
final case class SparkCounts(jobs: Long, shuffleBytes: Long)

object SparkCounts {
  /** Run `body`, counting with a listener drained before it is read. */
  def of[T](spark: SparkSession)(body: => T): (T, SparkCounts) = {
    val sc = spark.sparkContext
    ListenerDrain(sc)
    val jobs = new AtomicLong(0L)
    val shuffle = new AtomicLong(0L)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten))
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      ListenerDrain(sc)
      (out, SparkCounts(jobs.get(), shuffle.get()))
    } finally sc.removeSparkListener(listener)
  }
}
