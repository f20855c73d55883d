package graft.perfbench

import org.apache.spark.sql.SparkSession

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Benchmark entry point. One JVM, Spark `local[cpus]`, one closed-loop
  * client. Prints one line per figure, then, as the last line of
  * standard output, one JSON object with the end-to-end metrics
  * (untraced run) or the per-layer metrics (traced run).
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *      [--spans-out <file>]
  * }}}
  */
object Main {
  val WorkloadNames: Seq[String] = Seq("point_query", "append_mixed", "bulk_load", "index_probe")

  /** End-to-end metrics every untraced run reports, with their units. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "main_op_p50_rel" -> "x",
    "side_op_p50_rel" -> "x",
    "disk_bytes_per_user_byte" -> "B/B",
    "heap_used_mb" -> "MB")

  /** Per-layer metrics every traced run reports, with their units; a
    * layer the workload leaves idle reports 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "ingest.prepare_ms" -> "ms",
    "ingest.shuffle_bytes" -> "B",
    "summarize.ms" -> "ms",
    "summarize.windows_out" -> "count",
    "summarize.shuffle_bytes" -> "B",
    "compactor.recoarsen_ms" -> "ms",
    "compactor.windows_in" -> "count",
    "compactor.windows_out" -> "count",
    "append.jobs_per_op" -> "count",
    "append.task_ms_per_op" -> "ms",
    "append.shuffle_bytes_per_op" -> "B",
    "append.bytes_written_per_op" -> "B",
    "append.files_written_per_op" -> "count",
    "append.write_amplification" -> "B/B",
    "append.driver_self_ms" -> "ms",
    "summarydb.resolve_ms" -> "ms",
    "point_query.query_one_ms" -> "ms",
    "point_query.jobs_per_op" -> "count",
    "point_query.tasks_per_op" -> "count",
    "point_query.rows_read_per_op" -> "count",
    "point_query.windows_returned_per_op" -> "count",
    "point_query.read_amplification" -> "ratio",
    "fleet_query.jobs_per_op" -> "count",
    "fleet_query.task_ms_per_op" -> "ms",
    "fleet_query.shuffle_bytes_per_op" -> "B",
    "estimator.ms" -> "ms",
    "estimator.count_rel_err_mean" -> "ratio",
    "bm25.probe_jobs_per_op" -> "count",
    "bm25.probe_task_ms_per_op" -> "ms",
    "bm25.probe_shuffle_bytes_per_op" -> "B",
    "ann.probe_jobs_per_op" -> "count",
    "ann.probe_task_ms_per_op" -> "ms",
    "ann.probe_shuffle_bytes_per_op" -> "B",
    "bm25.build_ms" -> "ms",
    "ann.build_ms" -> "ms",
    "spark.jobs" -> "count",
    "spark.task_s" -> "s",
    "spark.shuffle_bytes" -> "B",
    "jvm.gc_ms" -> "ms",
    "trace.main_op_p50_ms" -> "ms",
    "trace.overhead_ms" -> "ms")

  final case class Args(
      workload: String,
      seed: Long,
      seconds: Double,
      trace: Boolean,
      work: File,
      spansOut: Option[File])

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
      case bad => throw new IllegalArgumentException(s"bad arguments: ${bad.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      trace = need("trace") match {
        case "0" => false
        case "1" => true
        case t   => throw new IllegalArgumentException(s"--trace must be 0 or 1: $t")
      },
      work = new File(need("work")),
      spansOut = kv.get("spans-out").map(new File(_)))
    require(WorkloadNames.contains(a.workload), s"unknown workload ${a.workload}; one of ${WorkloadNames.mkString(", ")}")
    require(a.seconds > 0, "seconds must be positive")
    a
  }

  /** Spark runs `local[cpus]` on every core of the host. */
  val Cpus: Int = Runtime.getRuntime.availableProcessors()

  /** The same session settings as `graft.Bench`, with every directory
    * Spark writes kept under the run's work dir.
    */
  def session(work: File): SparkSession =
    SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "2048")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .getOrCreate()

  /** The tail figure: the highest percentile of [[Stats.TailLadder]]
    * with at least 10 samples beyond it; absent when there is none.
    */
  def tailFigure(name: String, xs: Seq[Double]): Seq[Figure] =
    Stats.tailQuantile(xs.size).toSeq.map { q =>
      Figure(name, Stats.percentile(xs, q), s"ms@p${(q * 100).round}", xs.size)
    }

  /** The reference query: a fixed small Spark job (plan, codegen lookup,
    * one shuffle, a few tasks) whose latency moves with the host's speed
    * but not with the program under test. The op latencies are reported
    * as multiples of its p50 in the same run, which cancels most of the
    * 1.3-2.5x drift in speed seen between runs on a shared 4-vCPU VM.
    */
  def refQuery(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0, 200000, 1, Cpus).selectExpr("id % 101 AS k").groupBy("k").count().collect()
    (System.nanoTime() - t0) / 1e6
  }
  val RefWarm = 10
  /** Share of the measured phase spent on reference queries, between
    * steps, so that long steps still get a dozen reference samples.
    */
  val RefShare = 0.2

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Driver heap in use after a full collection, in MiB. It is taken
    * after the warm-up, a fixed amount of work: Spark keeps a record of
    * every SQL execution, so at the end of a timed phase the figure would
    * grow with the number of ops a run managed.
    */
  private def heapAfterGc(): Double = {
    // Spark frees broadcast and shuffle blocks from a cleaner thread once
    // a collection has found them unreachable: collect until the figure
    // stops falling.
    def used(): Double = {
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = used()
    var cur = used()
    var rounds = 2
    while (cur < prev * 0.99 && rounds < 10) { prev = cur; cur = used(); rounds += 1 }
    cur
  }

  def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def main(argv: Array[String]): Unit = {
    val a = try parse(argv) catch {
      case NonFatal(e) => System.err.println(s"[perfbench] ${e.getMessage}"); sys.exit(2)
    }
    a.work.mkdirs()
    val spark = session(a.work)
    spark.sparkContext.setLogLevel("WARN")
    val h = new Harness(spark, a.work, a.trace)
    val w = Workloads(a.workload, h, a.seed)
    var crashed: Option[String] = None
    val setupS = collection.mutable.ArrayBuffer.empty[Double]
    var measuredS = 0.0
    var gcDelta = 0L
    var opsMeasured = 0
    var heapMb = 0.0
    val refMs = collection.mutable.ArrayBuffer.empty[Double]
    try {
      (1 to w.setups).foreach { _ =>
        val t0 = System.nanoTime()
        w.setup()
        setupS += (System.nanoTime() - t0) / 1e9
      }
      w.warm()
      (1 to RefWarm).foreach(_ => refQuery(spark))
      heapMb = heapAfterGc()
      val gc0 = gcMs
      val att0 = h.attempted
      h.measuring = true
      val t0 = System.nanoTime()
      val end = t0 + (a.seconds * 1e9).toLong
      var refNs = 0L
      while (System.nanoTime() < end) {
        w.step()
        while (refNs < RefShare * (System.nanoTime() - t0)) {
          val r0 = System.nanoTime()
          refMs += refQuery(spark)
          refNs += System.nanoTime() - r0
        }
      }
      measuredS = (System.nanoTime() - t0) / 1e9
      h.measuring = false
      gcDelta = gcMs - gc0
      opsMeasured = h.attempted - att0
    } catch {
      case NonFatal(e) =>
        crashed = Some(s"${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
    }

    val figures = try w.figures() catch { case NonFatal(_) => Nil }
    val mainMs = h.untraced(w.mainKind)
    val sideMs = w.sideKinds.flatMap(h.untraced)
    val (values, listed) =
      if (!a.trace) {
        (Map(
          "setup_s" -> Workloads.p50(setupS.toSeq),
          "main_op_p50_rel" -> Workloads.p50(mainMs) / Workloads.p50(refMs.toSeq),
          "side_op_p50_rel" -> Workloads.p50(sideMs) / Workloads.p50(refMs.toSeq),
          "disk_bytes_per_user_byte" -> (try w.diskBytesPerUserByte catch { case NonFatal(_) => 0.0 }),
          "heap_used_mb" -> heapMb), EndToEnd)
      } else {
        val all = h.traces.valuesIterator.flatten.toSeq
        val traced = h.tracedMs(w.mainKind)
        val overall = Map(
          "spark.jobs" -> Workloads.perOp(all)(_.jobs.size.toDouble),
          "spark.task_s" -> Workloads.perOp(all)(_.jobs.map(_.taskMs).sum / 1000.0),
          "spark.shuffle_bytes" -> Workloads.perOp(all)(_.jobs.map(_.shuffleBytes).sum.toDouble),
          "jvm.gc_ms" -> (if (opsMeasured == 0) 0.0 else gcDelta.toDouble / opsMeasured),
          "trace.main_op_p50_ms" -> Workloads.p50(traced),
          "trace.overhead_ms" ->
            (if (traced.isEmpty || mainMs.isEmpty) 0.0 else Stats.median(traced) - Stats.median(mainMs)))
        (try w.layers() ++ overall catch { case NonFatal(_) => overall }, PerLayer)
      }

    System.out.println(f"[perfbench] workload=${a.workload} seed=${a.seed} trace=${if (a.trace) 1 else 0} " +
      f"measured_s=$measuredS%.2f ops=$opsMeasured setups=${setupS.map(s => f"$s%.2f").mkString(",")}")
    (figures :+ Figure("ref_query_p50_ms", Workloads.p50(refMs.toSeq), "ms", refMs.size)).foreach { f =>
      System.out.println(s"[perfbench] ${f.name} = ${num(f.value)} ${f.unit}" + (if (f.samples > 0) s" (n=${f.samples})" else ""))
    }
    System.out.println(s"[perfbench] failed_op_share = ${num(if (h.attempted == 0) 0.0 else h.failed.toDouble / h.attempted)} " +
      s"(${h.failed}/${h.attempted})")
    h.problems.foreach(p => System.out.println(s"[perfbench] failure: $p"))
    crashed.foreach(c => System.out.println(s"[perfbench] crashed: $c"))

    a.spansOut.foreach { f =>
      val pw = new PrintWriter(f)
      try h.tracer.foreach(_.spans.foreach { s =>
        pw.println(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
          s""""start_ms":${num(s.startMs)},"end_ms":${num(s.endMs)}}""")
      }) finally pw.close()
    }

    try w.teardown() catch { case NonFatal(_) => () }
    h.tracer.foreach(_.close())
    spark.stop()

    val failed = h.failed + crashed.size
    val attempted = math.max(1, h.attempted + crashed.size)
    val correct = failed == 0 && (mainMs.nonEmpty || h.tracedMs(w.mainKind).nonEmpty)
    val body = listed.map { case (n, u) => s""""$n": {"value": ${num(values.getOrElse(n, 0.0))}, "unit": "$u"}""" }
    System.out.println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${body.mkString(", ")}}}""")
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }
}
