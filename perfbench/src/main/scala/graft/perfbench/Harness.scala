package graft.perfbench

import org.apache.spark.sql.SparkSession

import java.io.File
import scala.collection.mutable
import scala.util.control.NonFatal

/** The closed-loop client: runs ops one at a time, times each, checks
  * each answer and, in a traced run, traces every other op of each kind
  * so that the untraced ones in between give the tracing overhead.
  */
final class Harness(val spark: SparkSession, val work: File, traced: Boolean) {
  val tracer: Option[Tracer] = if (traced) Some(new Tracer(spark)) else None

  /** Latencies (ms) of ops run without tracing, by kind, measured phase only. */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Latencies (ms) of traced ops, by kind, measured phase only. */
  val tracedSamples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Span and job records of traced ops, by kind, measured phase only. */
  val traces = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[OpTrace]]

  var attempted = 0
  var failed = 0
  val problems = mutable.ArrayBuffer.empty[String]
  /** Whether ops are in the measured phase (else: set-up or warm-up). */
  var measuring = false

  private val parity = mutable.Map.empty[String, Int]
  private var inTracedOp = false

  private def note(msg: String): Unit = {
    if (problems.size < 20) problems += msg
    System.err.println(s"[perfbench] FAIL $msg")
  }

  /** Run one op: time `body`, then (untimed) check its result with
    * `verify`, which returns mismatch messages. An exception or any
    * mismatch counts the op as failed.
    */
  def op[T](kind: String)(body: => T)(verify: T => Seq[String]): Option[T] = {
    attempted += 1
    val n = parity.getOrElse(kind, 0)
    parity(kind) = n + 1
    val trace = tracer.filter(_ => n % 2 == 0)
    val result =
      try {
        val t0 = System.nanoTime()
        val r = trace match {
          case Some(t) =>
            inTracedOp = true
            try t.span(kind)(body) finally inTracedOp = false
          case None => body
        }
        val ms = (System.nanoTime() - t0) / 1e6
        val opTrace = trace.map(_.collectOp())
        if (measuring) {
          val into = if (trace.isDefined) tracedSamples else samples
          into.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
          opTrace.foreach(traces.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += _)
        }
        Some(r)
      } catch {
        case NonFatal(e) =>
          note(s"$kind threw ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
          None
      }
    val bad = result match {
      case Some(r) =>
        try verify(r) catch { case NonFatal(e) => Seq(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
      case None => Seq("no result")
    }
    if (bad.nonEmpty) {
      failed += 1
      if (result.isDefined) note(s"$kind: ${bad.take(3).mkString("; ")}")
    }
    result
  }

  /** A layer call inside an op: a child span when the op is traced. */
  def layer[T](name: String)(body: => T): T = tracer match {
    case Some(t) if inTracedOp => t.span(name)(body)
    case _                     => body
  }

  /** An op of traced runs only, outside the timed workload ops, such as
    * a decomposition of a layer stack into single calls. Its trace is
    * kept under `kind`, and it is checked and counted like any op.
    */
  def tracedOnly[T](kind: String)(body: => T)(verify: T => Seq[String]): Unit = tracer.foreach { t =>
    attempted += 1
    val bad =
      try {
        inTracedOp = true
        val r = try t.span(kind)(body) finally inTracedOp = false
        traces.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += t.collectOp()
        verify(r)
      } catch {
        case NonFatal(e) => Seq(s"threw ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
      }
    if (bad.nonEmpty) {
      failed += 1
      note(s"$kind: ${bad.take(3).mkString("; ")}")
    }
  }

  def untraced(kind: String): Seq[Double] = samples.get(kind).map(_.toSeq).getOrElse(Nil)
  def tracedMs(kind: String): Seq[Double] = tracedSamples.get(kind).map(_.toSeq).getOrElse(Nil)
  def tracesOf(kind: String): Seq[OpTrace] = traces.get(kind).map(_.toSeq).getOrElse(Nil)

  /** Fresh directory under the run's work dir. */
  private var dirs = 0
  def freshDir(name: String): String = {
    dirs += 1
    new File(work, s"$name-$dirs").getAbsolutePath
  }
}

object Harness {
  def deleteTree(path: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new File(path))
  }

  /** Bytes of all regular files under `path`. */
  def treeBytes(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else f.length()
    walk(new File(path))
  }

  /** Paths of the regular files under `path`. */
  def treeFiles(path: String): Set[String] = {
    def walk(f: File): Seq[String] =
      if (f.isDirectory) Option(f.listFiles()).map(_.toSeq.flatMap(walk)).getOrElse(Nil)
      else Seq(f.getAbsolutePath)
    walk(new File(path)).toSet
  }
}
