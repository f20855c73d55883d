package graft.perfbench

import graft.core.{Event, QueryParams, SummaryDB}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

class TraceSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val work = Files.createTempDirectory("perfbench-trace").toFile
  private lazy val spark = Main.session(work)

  override def afterAll(): Unit = {
    spark.stop()
    Harness.deleteTree(work.getAbsolutePath)
  }

  test("self time subtracts the union of overlapping children, clipped to the span") {
    // children cover [10,40] (overlapping pair), [50,60], and [90,100] of [90,120]
    val jobs = Seq((10.0, 30.0), (20.0, 40.0), (50.0, 60.0), (90.0, 120.0), (-10.0, -5.0))
    assert(Trace.coveredMs(0, 100, jobs) == 50.0)
    assert(Trace.selfMs(0, 100, jobs) == 50.0)
    assert(Trace.selfMs(0, 100, Seq((20.0, 40.0), (10.0, 30.0))) == 70.0) // order-free
    assert(Trace.selfMs(0, 100, Seq((30.0, 40.0), (10.0, 80.0))) == 30.0) // nested
    assert(Trace.selfMs(0, 100, Nil) == 100.0)
    assert(Trace.selfMs(0, 100, Seq((-5.0, 200.0))) == 0.0)
  }

  test("jobs are attributed per op by job group, sub-jobs included, nested spans to the innermost") {
    import spark.implicits._
    val started = new AtomicInteger()
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(counter)
    val t = new Tracer(spark)
    try {
      val dir = new java.io.File(work, "store").getAbsolutePath
      val db = SummaryDB.open(spark, dir)
      val events = (0 until 200).map(i => Event(i % 4L, i.toLong, 1000L * i, i.toDouble)).toDS()
      spark.range(3).count() // a job outside any span: attributed to nothing
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val before = started.get()

      t.span("append")(db.append(events))
      val append = t.collectOp()
      val appendJobs = started.get() - before
      assert(append.op.name == "append" && append.op.parent == 0)
      assert(append.jobs.nonEmpty && append.jobs.size == appendJobs)
      assert(append.jobs.forall(_.spanId == append.op.id))
      assert(append.jobs.forall(j => j.startMs >= append.op.startMs - 1 && j.endMs <= append.op.endMs + 1))
      assert(append.selfMs >= 0 && append.selfMs <= append.op.ms)

      val mid = started.get()
      val got = t.span("point_query") {
        val sw = t.span("summarydb.resolve")(db.summaryWindows)
        val r = t.span("queryengine.query_one")(
          graft.core.QueryEngine.queryOne(sw, db.landmarkSpans, db.landmarkElems, 1L, "count", 0L, Long.MaxValue / 4, QueryParams()))
        spark.range(5).count() // a job of the op itself
        r
      }
      val q = t.collectOp()
      assert(got.value == 50.0)
      assert(q.jobs.size == started.get() - mid)
      val child = q.spans.find(_.name == "queryengine.query_one").get
      assert(child.parent == q.op.id && child.op == q.op.id)
      assert(q.jobsOf("queryengine.query_one").nonEmpty)
      assert(q.jobs.exists(_.spanId == q.op.id)) // the op's own count, outside its children
      assert(q.jobs.map(_.rowsRead).sum > 0)
      // the caller's job group is restored after each span
      assert(spark.sparkContext.getLocalProperty(Trace.JobGroupKey) == null)
    } finally {
      t.close()
      spark.sparkContext.removeSparkListener(counter)
    }
  }

  test("an op counts as failed when it throws or its check reports a mismatch") {
    val h = new Harness(spark, work, traced = false)
    h.measuring = true
    assert(h.op("ok")(1)(_ => Nil).contains(1))
    assert(h.op("bad")(2)(x => Seq(s"got $x")).contains(2))
    assert(h.op[Int]("boom")(throw new IllegalStateException("x"))(_ => Nil).isEmpty)
    assert(h.attempted == 3 && h.failed == 2)
    assert(h.untraced("ok").size == 1 && h.untraced("boom").isEmpty)
  }

  test("a traced harness traces every other op of a kind and keeps both latencies") {
    val h = new Harness(spark, work, traced = true)
    try {
      h.measuring = true
      (1 to 4).foreach(_ => h.op("count")(h.layer("inner")(spark.range(10).count()))(_ => Nil))
      assert(h.tracedMs("count").size == 2 && h.untraced("count").size == 2)
      val ts = h.tracesOf("count")
      assert(ts.size == 2 && ts.forall(t => t.jobs.nonEmpty && t.spans.exists(_.name == "inner")))
    } finally h.tracer.foreach(_.close())
  }
}
