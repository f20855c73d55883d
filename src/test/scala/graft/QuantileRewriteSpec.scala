package graft

import graft.core.{Event, QuantileSummary}
import graft.plans.SummaryRewrite
import graft.windowing.ExponentialWindowing
import org.apache.spark.sql.functions._

/** The percentile rewrite: `percentile_approx(value, p)` over a
  * registered events table re-plans onto the windowed KLL sketch table
  * under the approximate flag. Streams are sized under the sketch
  * capacity (200 < K=512) so every sketch is EXACT (err 0) and the
  * probed answers must EQUAL the raw aggregates — equality, not
  * tolerance.
  */
class QuantileRewriteSpec extends SparkSpec {
  import spark.implicits._

  private val base = java.nio.file.Files.createTempDirectory("graft_qrw").toString
  private val eventsPath = s"$base/events"
  private val qskPath = s"$base/qsk"

  override def beforeAll(): Unit = {
    super.beforeAll()
    val events = spark.range(1400L)
      .select(
        ($"id" % 7L).as("streamId"),
        expr("id div 7").as("seq"),
        expr("id div 7").as("ts"),
        // a per-stream permutation of 0..199 — distinct ranks, exact math
        (($"id" * 37L) % 200L + ($"id" % 7L)).cast("double").as("value"))
      .as[Event]
    events.toDF().write.mode("overwrite").parquet(eventsPath)
    QuantileSummary.summarize(events, ExponentialWindowing(2.0))
      .write.mode("overwrite").parquet(qskPath)
    SummaryRewrite.registerQuantileSet(Seq(eventsPath), qskPath)
    SummaryRewrite.install(spark)
    spark.conf.set("spark.graft.rewrite.approximate", "true")
  }

  override def afterAll(): Unit = {
    spark.conf.unset("spark.graft.rewrite.approximate")
    SummaryRewrite.unregisterQuantileSet(
      Set(new org.apache.hadoop.fs.Path(eventsPath).toUri.getPath))
    super.afterAll()
  }

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def raw = spark.read.parquet(eventsPath)

  private def withFlagOff[A](f: => A): A = {
    spark.conf.set("spark.graft.rewrite.approximate", "false")
    try f finally spark.conf.set("spark.graft.rewrite.approximate", "true")
  }

  test("grouped p50/p90 read the sketch table and equal the raw answers") {
    def q = raw.groupBy($"streamId").agg(
      percentile_approx($"value", lit(0.5), lit(10000)).as("p50"),
      percentile_approx($"value", lit(0.9), lit(10000)).as("p90"))
    val expected = withFlagOff {
      q.orderBy($"streamId").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    }
    val p = plan(q)
    assert(p.contains("/qsk") && !p.contains("/events"), s"sketches not scanned:\n$p")
    assert(q.orderBy($"streamId").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq == expected)
  }

  test("global percentile under a streamId filter subsets before the union") {
    def q = raw.filter($"streamId" === 3L)
      .agg(percentile_approx($"value", lit(0.5), lit(10000)).as("p50"))
    val expected = withFlagOff { q.head().getDouble(0) }
    val p = plan(q)
    assert(p.contains("/qsk") && !p.contains("/events"), s"sketches not scanned:\n$p")
    assert(q.head().getDouble(0) == expected)
  }

  test("approximate flag off -> raw scan") {
    withFlagOff {
      val q = raw.groupBy($"streamId")
        .agg(percentile_approx($"value", lit(0.5), lit(10000)).as("p50"))
      assert(plan(q).contains("/events"))
    }
  }

  test("a ts-range conjunct disqualifies the rewrite") {
    val q = raw.filter($"streamId" === 3L && $"ts" > 100L)
      .agg(percentile_approx($"value", lit(0.5), lit(10000)).as("p50"))
    assert(plan(q).contains("/events"))
  }

  test("array-of-percentages form bails to the raw plan") {
    val q = raw.groupBy($"streamId")
      .agg(percentile_approx($"value", array(lit(0.5), lit(0.9)), lit(10000)).as("ps"))
    assert(plan(q).contains("/events"))
  }

  test("clear() drops the quantile pairing with the others") {
    def q = raw.groupBy($"streamId")
      .agg(percentile_approx($"value", lit(0.5), lit(10000)).as("p50"))
    assert(plan(q).contains("/qsk"))
    SummaryRewrite.clear()
    try {
      val p = plan(q)
      assert(p.contains("/events") && !p.contains("/qsk"), s"pairing survived clear():\n$p")
    } finally SummaryRewrite.registerQuantileSet(Seq(eventsPath), qskPath)
  }
}
