package graft

import graft.core._
import graft.windowing.{DecayModel, ExponentialWindowing}
import org.apache.spark.sql.functions.{expr, lit}

/** Scale demonstration: a single 1M-element stream decays to ~40
  * windows (the N -> O(log N) compression that is the engine's reason
  * to exist), the decomposition is the canonical closed form, full
  * range queries stay exact, and partial ranges stay O(windows) work.
  */
class ScaleDemoSpec extends SparkSpec {
  import spark.implicits._

  test("1M-element stream: O(log N) windows, exact full-range query") {
    val n = 1000000
    val exp2 = ExponentialWindowing(2.0)
    val events = spark.range(n.toLong)
      .select($"id".as("seq"), $"id".as("ts"), ($"id" % 97).cast("double").as("value"))
      .withColumn("streamId", org.apache.spark.sql.functions.lit(11L))
      .as[Event]

    val t0 = System.nanoTime()
    val sw = Summarizer.summarize(events, exp2).cache()
    val nWindows = sw.count()
    val buildSec = (System.nanoTime() - t0) / 1e9

    // Canonical decomposition size (closed form, O(log N)).
    assert(nWindows == DecayModel.windowStarts(exp2, n.toLong).length)
    assert(nWindows < 64, s"compression failed: $nWindows windows for $n elements")
    info(f"1M rows -> $nWindows windows in $buildSec%.1fs (${n / buildSec}%.0f rows/s)")

    val spans = spark.emptyDataset[LandmarkSpan]
    val elems = spark.emptyDataset[LandmarkElem]
    val c = QueryEngine.queryOne(sw, spans, elems, 11L, "count", 0, n - 1L, QueryParams())
    assert(c.value == n.toDouble && c.error == 0.0)

    // Partial range: answered from O(log N) windows with a bounded CI.
    val tq = System.nanoTime()
    val part = QueryEngine.queryOne(sw, spans, elems, 11L, "count", n / 4L, n / 2L, QueryParams())
    val qMs = (System.nanoTime() - tq) / 1e6
    val exact = (n / 2L - n / 4L + 1).toDouble
    assert(math.abs(part.value - exact) <= part.error + 1e-6 || part.error == 0.0)
    info(f"partial-range query in $qMs%.0f ms -> ${part.value}%.0f +- ${part.error}%.1f (exact $exact%.0f)")
  }

  test("interval join: 1M facts x 10k intervals through the bucket grid") {
    // Brute force would be 10^10 candidate pairs; the bucketized join
    // touches facts_per_bucket x intervals_per_bucket only. Intervals
    // tile the key space so every fact matches exactly one — the count
    // is the exactness check at scale.
    val facts = spark.range(1000000L)
      .select(($"id" % 100L).as("k"), ($"id" * 13L % 10000000L).as("ts"))
    val ivals = spark.range(10000L)
      .select(($"id" % 100L).as("k"),
        (expr("id div 100") * 100000L).as("lo"),
        (expr("id div 100") * 100000L + 99999L).as("hi"))
    val t0 = System.nanoTime()
    val n = graft.ops.IntervalJoin
      .join(facts, ivals, "ts", "lo", "hi", keys = Seq("k"), bucketWidth = 100000L)
      .count()
    val sec = (System.nanoTime() - t0) / 1e9
    assert(n == 1000000L, s"every fact lies in exactly one tile: $n")
    info(f"1M x 10k interval join in $sec%.1fs (${1000000 / sec}%.0f rows/s)")
  }

  test("star contraction: 100k-node chain resolves in O(log^2 n) rounds") {
    // Diameter 10^5 — label propagation would need 10^5 rounds; the
    // alternating algorithm's round count is logarithmic.
    val n = 100000L
    val chain = spark.range(n - 1).select($"id".as("doc_a"), ($"id" + 1L).as("doc_b"))
    val t0 = System.nanoTime()
    val reps = graft.ops.Dedup.starContractionComponents(chain)
    val distinctReps = reps.select($"rep_id").distinct().count()
    val total = reps.count()
    val sec = (System.nanoTime() - t0) / 1e9
    assert(distinctReps == 1L && total == n, s"one component of $n nodes: $distinctReps, $total")
    info(f"100k-node diameter-100k chain solved in $sec%.1fs")
  }

  test("1M streams summarize without any O(#streams) driver structure") {
    // 1M distinct streams x 4 elements: the old design built and
    // broadcast a Map[streamId -> Array[Long]] here (GBs at 10^8
    // streams); now the count is a joined column and windowId comes
    // from (spec, n, seq) row-side.
    val nStreams = 1000000L
    val events = spark.range(nStreams * 4)
      .select(
        ($"id" % nStreams).as("streamId"),
        expr(s"id div $nStreams").as("seq"),
        expr(s"(id div $nStreams) * 10").as("ts"),
        lit(1.0).as("value"))
      .as[Event]
    val sw = Summarizer.summarize(events, ExponentialWindowing(2.0)).cache()
    try {
      // exp-2 decomposition of n=4 is [2,1,1]: 3 windows per stream.
      assert(sw.count() == nStreams * 3)
      val s7 = sw.filter($"streamId" === 7L).collect().sortBy(_.cs)
      assert(s7.map(w => (w.cs, w.ce)).toSeq == Seq((0L, 1L), (2L, 2L), (3L, 3L)))
      assert(s7.map(_.count).sum == 4.0)
    } finally sw.unpersist()
  }

  test("line dedup: 1M docs, 5M lines, one boilerplate class — linear, no blowup") {
    // 1M documents of 5 lines: 4 unique lines each + ONE footer shared
    // by every doc — a 10^6-occurrence duplicate class. The pairwise
    // designs this replaces would enumerate 10^12 pairs; the count+join
    // shape touches each line twice.
    val docs = spark.range(1000000L).select($"id".as("doc_id"),
      expr("concat('u', id, ' a\nu', id, ' b\nshared footer line\nu', id, ' c\nu', id, ' d')")
        .as("text"))
    val t0 = System.nanoTime()
    val flagged = graft.ops.LineDedup.duplicatedLines(docs)
    val n = flagged.count()
    val kept = flagged.filter($"kept").count()
    val sec = (System.nanoTime() - t0) / 1e9
    assert(n == 1000000L, s"every footer occurrence flagged: $n")
    assert(kept == 1L, "exactly one canonical footer corpus-wide")
    info(f"1M docs / 5M lines flagged in $sec%.1fs (${5000000 / sec}%.0f lines/s)")
  }

  test("bloom join: 10M facts pruned by a 1k-key dim before the shuffle") {
    val facts = spark.range(10000000L).select(($"id" % 1000000L).as("k"), $"id".as("v"))
    val dim = spark.range(1000L).select(($"id" * 1000L).as("dk"))
    val t0 = System.nanoTime()
    val joined = graft.ops.BloomJoin.prunedJoin(facts, dim, "k", "dk",
      expectedItems = 1000L)
    val n = joined.count()
    val sec = (System.nanoTime() - t0) / 1e9
    // every dim key matches facts with id % 1e6 == dk: 10 each
    assert(n == 10000L, s"exact join rows through the pruned path: $n")
    info(f"10M-fact bloom-pruned join in $sec%.1fs (${10000000 / sec}%.0f rows/s scanned)")
  }
}
