package graft

import graft.core._
import graft.functions.Sketches
import graft.windowing.ExponentialWindowing
import org.apache.spark.sql.functions._

class FreqSummarySpec extends SparkSpec {
  import spark.implicits._

  private val exp2 = ExponentialWindowing(2.0)

  private def stream(values: Seq[Double], sid: Long = 7L) =
    spark.createDataset(values.zipWithIndex.map { case (v, i) =>
      Event(sid, i.toLong, i.toLong * 10, v)
    })

  test("windows follow the canonical partition; union has no false negatives") {
    val values = Seq(1.0, 2.0, 3.0, 1.0, 2.0, 4.0, 5.0, 1.0, 6.0, 7.0, 2.0, 8.0)
    val fq = FreqSummary.summarize(stream(values), exp2).persist()
    val expectedWindows = graft.windowing.DecayModel.windowStarts(exp2, values.size.toLong).length
    assert(fq.count() == expectedWindows)
    val keys = values.distinct.map(_.toString) ++ Seq("99.0", "-3.5")
    val got = FreqSummary.rangeMightContain(fq, keys).collect()
      .map(r => r.getAs[String]("key") -> r.getAs[Boolean]("might_contain")).toMap
    values.distinct.foreach(v =>
      assert(got(v.toString), s"present value $v must probe true"))
    // A 4096-capacity filter holding 8 keys: absent-key FP chance is
    // ~(8/4096-ish)^k — deterministic given the fixed hash, observed false.
    assert(!got("99.0") && !got("-3.5"), "absent keys must not probe true here")
    fq.unpersist()
  }

  test("CMS estimates from the whole-stream union are exact at tiny cardinality") {
    val values = Seq(3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0, 5.0, 3.0, 5.0)
    val fq = FreqSummary.summarize(stream(values), exp2)
    val exact = values.groupBy(_.toString).view.mapValues(_.size.toLong).toMap
    val got = FreqSummary.rangeFreqEstimate(fq, exact.keys.toSeq).collect()
      .map(r => r.getAs[String]("key") -> r.getAs[Long]("est_cnt")).toMap
    // 200-wide rows holding 7 keys: no collisions, estimates are exact.
    exact.foreach { case (k, c) => assert(got(k) == c, s"key $k: got ${got(k)} want $c") }
  }

  test("range filter prunes windows: a key only in late windows misses a prefix range") {
    val values = (1 to 32).map(_.toDouble)
    val fq = FreqSummary.summarize(stream(values), exp2).persist()
    // element 32 (ts=310) is in the newest window; query [0, 50] only
    // touches the oldest windows.
    val early = FreqSummary.rangeMightContain(fq, Seq("32.0"), t0 = 0L, t1 = 50L)
      .collect().head.getAs[Boolean]("might_contain")
    assert(!early, "a late-only key must not probe true in an early range")
    val whole = FreqSummary.rangeMightContain(fq, Seq("32.0"))
      .collect().head.getAs[Boolean]("might_contain")
    assert(whole)
    fq.unpersist()
  }

  test("recoarsenFreq: per-element sketches re-merge to the direct partition, bit-for-bit") {
    val values = Seq(3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0, 5.0, 3.0, 5.0)
    val events = stream(values)
    val localSpec = ExponentialWindowing(2.0) // local: the closure must not drag the suite in
    val fine = FreqSummary.Kind.perElement(events.toDF())
    def sig(df: org.apache.spark.sql.DataFrame) = df
      .select($"streamId", $"cs", $"ce", xxhash64($"bloom").as("hb"), xxhash64($"cms").as("hc"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(t => (t._1, t._2)).toSeq
    // Bloom union is bit-OR and CMS union is counter addition — both
    // order-independent — so the re-coarsened table must be BYTE-equal
    // to summarizing the raw events directly.
    assert(sig(Compactor.recoarsenFreq(fine, _ => localSpec))
      == sig(FreqSummary.summarize(events, exp2)))
  }

  test("contracts hold on the real events table") {
    val events = Ingest.fromEventsTable(spark, "/root/testdata/sf0.001")
    val bloom = FreqSummary.bloomContract(events, exp2).collect()
    assert(bloom.nonEmpty)
    assert(bloom.forall(_.getAs[Long]("n_missed") == 0L), "bloom false negative")
    assert(bloom.forall(_.getAs[Long]("n_present") > 0L))
    val cms = FreqSummary.cmsContract(events, exp2).collect()
    assert(cms.nonEmpty)
    assert(cms.forall(_.getAs[Long]("n_out_of_bounds") == 0L), "CMS estimate out of bounds")
  }

  test("rangeHeavyHitters surfaces the dominant keys with exact estimates at tiny cardinality") {
    // stream of 32: value 7.0 x 16, 3.0 x 8, the rest singletons.
    val values = Seq.fill(16)(7.0) ++ Seq.fill(8)(3.0) ++ (1 to 8).map(i => 100.0 + i)
    val fq = FreqSummary.summarize(stream(values), exp2)
    val top = FreqSummary.rangeHeavyHitters(fq, k = 2).collect()
      .map(r => (r.getAs[String]("key"), r.getAs[Long]("est_cnt"), r.getAs[Int]("rank")))
    assert(top.toSeq == Seq(("7.0", 16L, 1), ("3.0", 8L, 2)),
      s"got ${top.toSeq}")
  }

  test("freq contract holds on the real events table") {
    val events = Ingest.fromEventsTable(spark, "/root/testdata/sf0.001")
    val rows = FreqSummary.freqContract(events, exp2).collect()
    assert(rows.nonEmpty, "expected at least one stream with a heavy key")
    assert(rows.forall(_.getAs[Long]("n_missing_candidates") == 0L),
      "a heavy key missed the merged MG candidates")
    assert(rows.forall(_.getAs[Long]("n_out_of_bounds") == 0L))
  }

  test("MG merge preserves the heavy-hitter guarantee across skewed partials") {
    // 3 partials whose individual top keys differ; the merged map must
    // hold the global majority key.
    val m1 = collection.mutable.Map("a" -> 10L, "b" -> 9L)
    val m2 = collection.mutable.Map("a" -> 10L, "c" -> 9L)
    val m3 = collection.mutable.Map("a" -> 10L, "d" -> 9L)
    val merged = Sketches.mgMerge(Sketches.mgMerge(m1, m2, 2), m3, 2)
    assert(merged.contains("a"), s"majority key lost: $merged")
    assert(merged("a") <= 30L && merged("a") >= 30L - 19L) // count - eps*N lower bound
  }

  test("union aggregators tolerate sparse groups (nulls and single rows)") {
    def bytes(items: Seq[String]): Array[Byte] = {
      val bf = org.apache.spark.util.sketch.BloomFilter
        .create(FreqSummary.ExpectedItems, FreqSummary.Fpp)
      items.foreach(bf.putString)
      val out = new java.io.ByteArrayOutputStream()
      bf.writeTo(out)
      out.toByteArray
    }
    val rows = Seq(
      (1L, bytes(Seq("a", "b"))),
      (1L, null.asInstanceOf[Array[Byte]]),
      (2L, bytes(Seq("c"))))
      .toDF("g", "bloom")
    val merged = rows.groupBy($"g").agg(Sketches.bloomUnionAgg($"bloom").as("bf"))
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]]("bf")).toMap
    assert(Sketches.mightContain(merged(1L), "a") && Sketches.mightContain(merged(1L), "b"))
    assert(Sketches.mightContain(merged(2L), "c"))
    assert(!Sketches.mightContain(merged(2L), "a"))
  }
}
