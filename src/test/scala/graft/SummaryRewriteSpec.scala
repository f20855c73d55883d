package graft

import graft.core.{Event, Summarizer}
import graft.plans.SummaryRewrite
import graft.windowing.ExponentialWindowing
import org.apache.spark.sql.functions._

/** The materialized-summary rewrite rule: full-stream aggregates over a
  * registered raw-events relation must silently re-plan onto the
  * summary table (exact by the monoid-merge invariant), while anything
  * range-filtered or otherwise ineligible keeps scanning raw events.
  */
class SummaryRewriteSpec extends SparkSpec {
  import spark.implicits._

  private val base = java.nio.file.Files.createTempDirectory("graft_rewrite").toString
  private val eventsPath = s"$base/events"
  private val summaryPath = s"$base/summary"

  override def beforeAll(): Unit = {
    super.beforeAll()
    val events = spark.range(5000)
      .select(
        ($"id" % 7L).as("streamId"),
        expr("id div 7").as("seq"),
        expr("(id div 7) * 10").as("ts"),
        (($"id" % 101L).cast("double") / 2.0).as("value"))
      .as[Event]
    events.toDF().write.mode("overwrite").parquet(eventsPath)
    Summarizer.summarize(events, ExponentialWindowing(2.0))
      .toDF().write.mode("overwrite").parquet(summaryPath)
    SummaryRewrite.register(eventsPath, summaryPath)
    SummaryRewrite.install(spark)
  }

  override def afterAll(): Unit = {
    SummaryRewrite.unregister(eventsPath)
    super.afterAll()
  }

  private def scannedPaths(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("full-stream aggregate is rewritten to the summary table and stays exact") {
    val raw = spark.read.parquet(eventsPath)
    val q = raw.groupBy($"streamId")
      .agg(count(lit(1)).as("n"), sum($"value").as("s"),
        max($"value").as("mx"), min($"value").as("mn"), avg($"value").as("av"))

    val plan = scannedPaths(q)
    assert(plan.contains("summary"), s"summary table not scanned:\n$plan")
    assert(!plan.contains("/events"), s"raw events still scanned:\n$plan")

    // Exactness: compare against the raw computation with the rule off.
    val rows = q.orderBy($"streamId").collect()
    val want = spark.read.parquet(eventsPath)
      .groupBy($"streamId")
      .agg(count(lit(1)).as("n"), sum($"value").as("s"),
        max($"value").as("mx"), min($"value").as("mn"), avg($"value").as("av"))
      .orderBy($"streamId")
    SummaryRewrite.unregister(eventsPath)
    val wantRows = try want.collect() finally SummaryRewrite.register(eventsPath, summaryPath)
    rows.zip(wantRows).foreach { case (a, b) =>
      assert(a.getLong(0) == b.getLong(0) && a.getLong(1) == b.getLong(1))
      assert(math.abs(a.getDouble(2) - b.getDouble(2)) < 1e-9)
      assert(a.getDouble(3) == b.getDouble(3) && a.getDouble(4) == b.getDouble(4))
      assert(math.abs(a.getDouble(5) - b.getDouble(5)) < 1e-12)
    }
  }

  test("streamId-only filters transplant; the rewrite survives them") {
    val q = spark.read.parquet(eventsPath)
      .filter($"streamId" < 3L)
      .groupBy($"streamId").agg(count(lit(1)).as("n"))
    assert(scannedPaths(q).contains("summary"))
    // 5000 ids round-robin over 7 streams: 0 and 1 get the 2 leftovers.
    assert(q.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
      Seq((0L, 715L), (1L, 715L), (2L, 714L)))
  }

  test("time-range filters are NOT rewritten (approximate on summaries)") {
    val q = spark.read.parquet(eventsPath)
      .filter($"ts" > 100L)
      .groupBy($"streamId").agg(count(lit(1)).as("n"))
    val plan = scannedPaths(q)
    assert(plan.contains("/events"), s"range query must scan raw events:\n$plan")
  }

  test("other grouping keys / aggregates are NOT rewritten") {
    val bySeq = spark.read.parquet(eventsPath)
      .groupBy($"seq").agg(count(lit(1)).as("n"))
    assert(scannedPaths(bySeq).contains("/events"))

    val distinctAgg = spark.read.parquet(eventsPath)
      .groupBy($"streamId").agg(countDistinct($"value").as("d"))
    assert(scannedPaths(distinctAgg).contains("/events"))
  }

  test("summary plan is memoized: one parquet load per registered path, invalidated on re-register") {
    // Warm once (the suite may or may not have loaded already).
    spark.read.parquet(eventsPath).groupBy($"streamId").agg(count(lit(1)).as("n"))
      .queryExecution.executedPlan
    val before = SummaryRewrite.parquetLoads
    for (_ <- 1 to 5)
      spark.read.parquet(eventsPath).groupBy($"streamId")
        .agg(count(lit(1)).as("n"), sum($"value").as("s"))
        .queryExecution.executedPlan // forces optimization (and the rewrite)
    assert(SummaryRewrite.parquetLoads == before,
      s"summary parquet re-loaded under memoization: $before -> ${SummaryRewrite.parquetLoads}")
    // Re-registration (what stores do after an append) invalidates.
    SummaryRewrite.register(eventsPath, summaryPath)
    spark.read.parquet(eventsPath).groupBy($"streamId").agg(count(lit(1)).as("n"))
      .queryExecution.executedPlan
    assert(SummaryRewrite.parquetLoads == before + 1,
      "re-registration must invalidate the cached summary plan")
  }

  test("install() never stacks a second rule instance") {
    SummaryRewrite.install(spark)
    SummaryRewrite.install(spark)
    val copies = spark.experimental.extraOptimizations
      .count(_.isInstanceOf[graft.plans.SummaryRewriteRule])
    assert(copies <= 1, s"rule installed $copies times via extraOptimizations")
  }

  test("unregistered relations are untouched") {
    val other = s"$base/other"
    spark.read.parquet(eventsPath).write.mode("overwrite").parquet(other)
    val q = spark.read.parquet(other).groupBy($"streamId").agg(count(lit(1)).as("n"))
    assert(scannedPaths(q).contains("/other"))
  }

  test("approximate mode: opted-in ts-range aggregates come from the estimator, with valid estimates") {
    spark.conf.set("spark.graft.rewrite.approximate", "true")
    try {
      val raw = spark.read.parquet(eventsPath)
      val q = raw.filter($"ts" >= 1000L && $"ts" <= 6000L)
        .groupBy($"streamId")
        .agg(count(lit(1)).as("n"), sum($"value").as("s"), avg($"value").as("a"))
      val plan = scannedPaths(q)
      assert(!plan.contains("/events"), s"approx mode still scanned raw events:\n$plan")
      assert(plan.contains("summary"), plan)
      // avg comes from the same pass: finite, self-consistent with the
      // estimator's sum/count (a only ~ s/n up to count rounding, so
      // recompute from the raw estimates' ratio bound instead).
      q.collect().foreach { r =>
        val a = r.getDouble(3)
        assert(!a.isNaN && !a.isInfinite, s"avg estimate not finite: $r")
        assert(a >= 0.0 && a <= 101.0 / 2.0 + 1.0, s"avg estimate outside value range: $r")
      }

      // Estimates must respect the estimator's hard-bounds contract.
      val sumDs = spark.read.parquet(summaryPath).as[graft.core.SummaryWindow]
      val spans = spark.emptyDataset[graft.core.LandmarkSpan]
      val elems = spark.emptyDataset[graft.core.LandmarkElem]
      val bounds = graft.core.QueryEngine
        .rangeBoundsAll(sumDs, spans, elems, "count", 1000L, 6000L)
        .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
      val rows = q.collect()
      assert(rows.length == 7)
      rows.foreach { r =>
        val (lo, hi) = bounds(r.getLong(0))
        val n = r.getLong(1).toDouble
        assert(lo - 0.5 <= n && n <= hi + 0.5,
          s"estimate $n outside bounds [$lo,$hi] for stream ${r.getLong(0)}")
      }

      // max/min re-plan too, with the documented boundary bias: the
      // estimate brackets the exact range answer from the biased side.
      val mq = raw.filter($"ts" >= 1000L && $"ts" <= 6000L)
        .groupBy($"streamId").agg(max($"value").as("mx"), min($"value").as("mn"))
      assert(!scannedPaths(mq).contains("/events"), scannedPaths(mq))
      val exact = {
        SummaryRewrite.unregister(eventsPath)
        try spark.read.parquet(eventsPath)
          .filter($"ts" >= 1000L && $"ts" <= 6000L)
          .groupBy($"streamId").agg(max($"value").as("mx"), min($"value").as("mn"))
          .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
        finally SummaryRewrite.register(eventsPath, summaryPath)
      }
      mq.collect().foreach { r =>
        val (emx, emn) = exact(r.getLong(0))
        assert(r.getDouble(1) >= emx, s"range max not upper-biased: $r vs exact $emx")
        assert(r.getDouble(2) <= emn, s"range min not lower-biased: $r vs exact $emn")
      }

      // A streamId-only conjunct alongside the ts range transplants onto
      // the estimator output instead of blocking the rewrite.
      val sq = raw.filter($"ts" >= 1000L && $"ts" <= 6000L && $"streamId" < 3L)
        .groupBy($"streamId").agg(count(lit(1)).as("n"))
      assert(!scannedPaths(sq).contains("/events"), scannedPaths(sq))
      val sids = sq.collect().map(_.getLong(0)).sorted.toSeq
      assert(sids == Seq(0L, 1L, 2L), s"transplanted streamId filter wrong: $sids")

      // Value (non-ts) predicates must NOT be rewritten even when opted in.
      val vq = raw.filter($"value" > 10.0)
        .groupBy($"streamId").agg(count(lit(1)).as("n"))
      assert(scannedPaths(vq).contains("/events"))
    } finally spark.conf.unset("spark.graft.rewrite.approximate")
  }

  test("global (un-grouped) aggregate is rewritten and stays exact") {
    val raw = spark.read.parquet(eventsPath)
    val q = raw.agg(count(lit(1)).as("n"), sum($"value").as("s"),
      max($"value").as("mx"), min($"value").as("mn"), avg($"value").as("av"))
    val plan = scannedPaths(q)
    assert(plan.contains("summary"), s"summary table not scanned:\n$plan")
    assert(!plan.contains("/events"), s"raw events still scanned:\n$plan")

    val got = q.head()
    SummaryRewrite.unregister(eventsPath)
    val want = try spark.read.parquet(eventsPath)
      .agg(count(lit(1)).as("n"), sum($"value").as("s"),
        max($"value").as("mx"), min($"value").as("mn"), avg($"value").as("av"))
      .head()
    finally SummaryRewrite.register(eventsPath, summaryPath)
    assert(got.getLong(0) == want.getLong(0))
    assert(math.abs(got.getDouble(1) - want.getDouble(1)) < 1e-9)
    assert(got.getDouble(2) == want.getDouble(2) && got.getDouble(3) == want.getDouble(3))
    assert(math.abs(got.getDouble(4) - want.getDouble(4)) < 1e-12)

    // streamId-only filter under a global aggregate transplants too, and
    // a filter matching nothing yields count 0, not null.
    val fq = spark.read.parquet(eventsPath)
      .filter($"streamId" < 3L).agg(count(lit(1)).as("n"))
    assert(scannedPaths(fq).contains("summary"))
    assert(fq.head().getLong(0) == 715L + 715L + 714L)
    val zq = spark.read.parquet(eventsPath)
      .filter($"streamId" === 99L).agg(count(lit(1)).as("n"))
    assert(scannedPaths(zq).contains("summary"))
    assert(!zq.head().isNullAt(0) && zq.head().getLong(0) == 0L)
  }

  test("approximate mode: global ts-range aggregate merges per-stream estimates") {
    spark.conf.set("spark.graft.rewrite.approximate", "true")
    try {
      val raw = spark.read.parquet(eventsPath)
      val q = raw.filter($"ts" >= 1000L && $"ts" <= 6000L)
        .agg(count(lit(1)).as("n"), sum($"value").as("s"), avg($"value").as("a"),
          max($"value").as("mx"), min($"value").as("mn"))
      val plan = scannedPaths(q)
      assert(!plan.contains("/events"), s"approx mode still scanned raw events:\n$plan")
      assert(plan.contains("summary"), plan)
      val r = q.head()

      // Global count bound = sum of per-stream hard bounds.
      val sumDs = spark.read.parquet(summaryPath).as[graft.core.SummaryWindow]
      val spans = spark.emptyDataset[graft.core.LandmarkSpan]
      val elems = spark.emptyDataset[graft.core.LandmarkElem]
      val bounds = graft.core.QueryEngine
        .rangeBoundsAll(sumDs, spans, elems, "count", 1000L, 6000L)
        .collect().map(b => (b.getDouble(1), b.getDouble(2)))
      val (lo, hi) = (bounds.map(_._1).sum, bounds.map(_._2).sum)
      val n = r.getLong(0).toDouble
      assert(lo - 0.5 <= n && n <= hi + 0.5, s"global count $n outside [$lo,$hi]")

      // max upper-biased / min lower-biased vs the exact range answer.
      val (emx, emn, eavg) = {
        SummaryRewrite.unregister(eventsPath)
        try {
          val e = spark.read.parquet(eventsPath)
            .filter($"ts" >= 1000L && $"ts" <= 6000L)
            .agg(max($"value"), min($"value"), avg($"value")).head()
          (e.getDouble(0), e.getDouble(1), e.getDouble(2))
        } finally SummaryRewrite.register(eventsPath, summaryPath)
      }
      assert(r.getDouble(3) >= emx && r.getDouble(4) <= emn, s"bias violated: $r")
      val a = r.getDouble(2)
      assert(!a.isNaN && !a.isInfinite && math.abs(a - eavg) < 26.0,
        s"global avg estimate implausible: $a vs exact $eavg")

      // Empty ts range in approx mode: pruned to zero rows -> count 0.
      val eq = raw.filter($"ts" >= 10L && $"ts" <= 5L).agg(count(lit(1)).as("n"))
      // (t0 > t1 bails the rewrite entirely — raw scan returns 0 rows too)
      assert(eq.head().getLong(0) == 0L)
    } finally spark.conf.unset("spark.graft.rewrite.approximate")
  }

  test("SummaryDB integration: registration tracks appends, subsets and landmarks stay raw") {
    val dbDir = java.nio.file.Files.createTempDirectory("graft_rewrite_db").toString
    val db = graft.core.SummaryDB.open(spark, dbDir)
    def batch(lo: Long, hi: Long) = spark.range(lo, hi)
      .select(($"id" % 3L).as("streamId"), expr("id div 3").as("seq"),
        (expr("id div 3") * 5).as("ts"), ($"id" % 13L).cast("double").as("value"))
      .as[graft.core.Event]
    db.append(batch(0, 600))
    db.enableQueryRewrite()

    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy($"streamId").agg(count(lit(1)).as("n"), sum($"value").as("s"))

    // Full-stream aggregate over the store's raw relation -> summary scan.
    val q1 = agg(db.rawEvents)
    assert(scannedPaths(q1).contains("summary_windows__v"), scannedPaths(q1))
    val got1 = q1.orderBy($"streamId").collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got1.map(_._2).sum == 600L)

    // Second append: key moves to the new dir set + summary version.
    db.append(batch(600, 900))
    val q2 = agg(db.rawEvents)
    assert(scannedPaths(q2).contains("summary_windows__v"))
    assert(q2.agg(sum($"n")).head().getLong(0) == 900L)

    // A SUBSET of batch dirs is not a full-stream aggregate: stays raw.
    val oneBatch = new java.io.File(s"$dbDir/events").listFiles().filter(_.isDirectory).head
    val qSub = agg(spark.read.parquet(oneBatch.toString).drop("bstamp"))
    assert(scannedPaths(qSub).contains("/events/"), scannedPaths(qSub))

    // Landmarks divert elements out of the summary table: must unregister.
    db.newLandmark(0L, 100L, 200L)
    val q3 = agg(db.rawEvents)
    assert(scannedPaths(q3).contains("/events/"), "landmarked store must not rewrite")
    assert(q3.agg(sum($"n")).head().getLong(0) == 900L)
  }

  test("SummaryDB distinct integration: sketches track appends incrementally") {
    val dbDir = java.nio.file.Files.createTempDirectory("graft_rewrite_dsk").toString
    val db = graft.core.SummaryDB.open(spark, dbDir)
    def batch(lo: Long, hi: Long) = spark.range(lo, hi)
      .select(($"id" % 3L).as("streamId"), expr("id div 3").as("seq"),
        (expr("id div 3") * 5).as("ts"), ($"id" % 13L).cast("double").as("value"))
      .as[graft.core.Event]
    db.append(batch(0, 600))
    db.enableDistinctSummaries()
    spark.conf.set("spark.graft.rewrite.approximate", "true")
    try {
      def q = db.rawEvents.groupBy($"streamId").agg(approx_count_distinct($"value").as("d"))
      def exact = db.rawEvents.groupBy($"streamId").agg(countDistinct($"value").as("d"))
        .orderBy($"streamId").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(scannedPaths(q).contains("distinct_sketches"), scannedPaths(q))
      assert(q.orderBy($"streamId").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        == exact)
      // Incremental append: the sketch table follows without a recompute
      // and answers the grown distinct set exactly (sparse mode).
      db.append(batch(600, 1200))
      assert(scannedPaths(q).contains("distinct_sketches"), "registration lost after append")
      assert(q.orderBy($"streamId").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        == exact)
      // Landmarks unregister the scalar rewrite but NOT the distinct one
      // (diverted elements stay in the distinct set).
      db.newLandmark(0L, 100L, 200L)
      db.append(batch(1200, 1500))
      assert(scannedPaths(q).contains("distinct_sketches"),
        "landmarked store must still answer distinct from sketches")
      assert(q.orderBy($"streamId").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        == exact)
    } finally spark.conf.unset("spark.graft.rewrite.approximate")
  }

  test("distinct rewrite: distinct counts come from the sketch table under the flag") {
    val sketchPath = s"$base/sketches"
    val events = spark.read.parquet(eventsPath).as[Event]
    graft.core.DistinctSummary.summarize(events, ExponentialWindowing(2.0))
      .write.mode("overwrite").parquet(sketchPath)
    SummaryRewrite.registerDistinct(eventsPath, sketchPath)
    val raw = spark.read.parquet(eventsPath)
    // Exact per-stream / global distinct with no rule interference
    // (cardinality 101 is deep in HLL sparse mode, so the sketch
    // estimates are exactly equal — equality, not tolerance, below).
    SummaryRewrite.unregisterDistinct(eventsPath)
    val exactPer = raw.groupBy($"streamId").agg(countDistinct($"value").as("d"))
      .orderBy($"streamId").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val exactGlobal = raw.agg(countDistinct($"value")).head().getLong(0)
    SummaryRewrite.registerDistinct(eventsPath, sketchPath)
    try {
      // Flag off: no rewrite.
      val qOff = raw.groupBy($"streamId").agg(approx_count_distinct($"value").as("d"))
      assert(scannedPaths(qOff).contains("/events"), "must not rewrite without the flag")
      spark.conf.set("spark.graft.rewrite.approximate", "true")
      // Grouped approx_count_distinct.
      val q = raw.groupBy($"streamId").agg(approx_count_distinct($"value").as("d"))
      val plan = scannedPaths(q)
      assert(plan.contains("sketches") && !plan.contains("/events"),
        s"sketch table not scanned:\n$plan")
      assert(q.orderBy($"streamId").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        == exactPer)
      // Global count(DISTINCT).
      val g = raw.agg(countDistinct($"value").as("d"))
      if (scannedPaths(g).contains("sketches")) // matched before distinct expansion
        assert(g.head().getLong(0) == exactGlobal)
      // Global approx_count_distinct always matches (never expanded).
      val ga = raw.agg(approx_count_distinct($"value").as("d"))
      assert(scannedPaths(ga).contains("sketches"), scannedPaths(ga))
      assert(ga.head().getLong(0) == exactGlobal)
      // streamId-only filter transplants.
      val f = raw.filter($"streamId" === 3L)
        .groupBy($"streamId").agg(approx_count_distinct($"value").as("d"))
      assert(scannedPaths(f).contains("sketches"), scannedPaths(f))
      assert(f.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        == exactPer.filter(_._1 == 3L))
      // GLOBAL aggregate under a streamId filter: the filter must land
      // below the cross-stream union (regression: this shape used to
      // crash on the missing __sid).
      val gf = raw.filter($"streamId" === 3L).agg(approx_count_distinct($"value").as("d"))
      assert(scannedPaths(gf).contains("sketches"), scannedPaths(gf))
      assert(gf.head().getLong(0) == exactPer.find(_._1 == 3L).get._2)
      // ts-range predicates bail to the raw scan.
      val t = raw.filter($"ts" < 1000L)
        .groupBy($"streamId").agg(approx_count_distinct($"value").as("d"))
      assert(scannedPaths(t).contains("/events"), "ts filter must not rewrite")
      // rsd tighter than the lgK=12 sketch's ~1.6% standard error bails
      // (the rewrite may not silently degrade requested precision); the
      // default rsd (0.05) and anything looser still rewrite.
      val tight = raw.groupBy($"streamId")
        .agg(approx_count_distinct($"value", rsd = 0.005).as("d"))
      assert(scannedPaths(tight).contains("/events"),
        "tighter-than-sketch rsd must not rewrite")
      val loose = raw.groupBy($"streamId")
        .agg(approx_count_distinct($"value", rsd = 0.05).as("d"))
      assert(scannedPaths(loose).contains("sketches"), scannedPaths(loose))
    } finally {
      spark.conf.unset("spark.graft.rewrite.approximate")
      SummaryRewrite.unregisterDistinct(eventsPath)
    }
  }
}
