package graft.core

import graft.functions.SampleSketch
import graft.ops.Sampling
import graft.windowing.WindowingSpec
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Windowed sample summaries: each decay window carries a deterministic
  * bottom-k sample of its elements ([[graft.functions.KSample]]) — "show
  * me k representative events from [t0, t1]" answered from the decayed
  * windows at O(log N) rows read, without a raw scan. This is the
  * natural `sample` op alongside the reference's declared op set
  * (`/root/reference/protos/summarydb.capnp:6-13` stops at
  * count/sum/bloom/cms/max/freq): a time-decayed store that can say
  * "how many / how often" should also produce "show me a few".
  *
  * Unlike the HLL/bloom/CMS/KLL windowed sketches, bottom-k by a FIXED
  * portable hash ([[Sampling.hashKey]] of the element's per-stream seq)
  * is EXACT under merge — the bottom-k of a union is the bottom-k of
  * the members' bottom-ks — so:
  *
  *   - decay re-coarsening ([[Compactor.recoarsen]]) loses
  *     nothing: the coarse window's sample equals the sample that would
  *     have been drawn from the raw coarse window;
  *   - a full-range query equals the global bottom-k regardless of the
  *     merge history, which gives the op a HARD value-level oracle (any
  *     engine recomputes the identical k rows) rather than a bound
  *     contract;
  *   - with a uniform hash the k elements are a uniform sample of the
  *     range (bottom-k / min-wise sampling, Cohen & Kaplan, PODC 2007).
  *
  * Scale shape: one groupBy on the canonical partition; the aggregation
  * buffer is bounded at 2k items and combines map-side, so no window —
  * however large — materializes more than O(k) sample state anywhere.
  */
object SampleSummary {

  /** Default per-window sample size. */
  val K = 16

  /** The bottom-k window kind at sample size `k`: `sample` is
    * `array<struct<hk, seq, value>>` sorted by (hk, seq), hashed on the
    * GLOBAL element index, so an incrementally maintained table samples
    * identically to a full rebuild. An append aggregates at the
    * post-append canonical partition.
    */
  def kind(k: Int = K): SummaryKind = SummaryKind("sample_windows",
    elementAggs = Seq(
      SampleSketch.ksAgg(Sampling.hashKey("seq"), col("seq"), col("value"), k).as("sample")),
    mergeAggs = Seq(SampleSketch.ksUnionAgg(col("sample"), k).as("sample")),
    delta = SummaryKind.AtCount)

  /** Sample table (streamId, ts, te, cs, ce, sample) over one policy. */
  def summarize(
      events: Dataset[Event],
      spec: WindowingSpec,
      k: Int = K,
      bufferSize: Long = 0L): DataFrame =
    kind(k).summarize(events, _ => spec, bufferSize)

  /** Per-stream bottom-k over the windows overlapping [t0, t1]:
    * (stream_id, rank, seq, value, hk), rank 1..k ascending by
    * (hk, seq). Over a range that partially overlaps edge windows the
    * sample covers the whole edge windows (windows are the storage
    * resolution — the sum estimator's proration semantics). Over the
    * full range this is EXACTLY the global per-stream bottom-k.
    */
  def rangeSample(
      samples: DataFrame,
      k: Int = K,
      t0: Long = Long.MinValue,
      t1: Long = Long.MaxValue): DataFrame = {
    val spark = samples.sparkSession
    import spark.implicits._
    samples
      .filter($"te" >= t0 && $"ts" <= t1)
      .groupBy($"streamId")
      .agg(SampleSketch.ksUnionAgg($"sample", k).as("sample"))
      .select($"streamId".as("stream_id"), posexplode($"sample").as(Seq("pos", "s")))
      .select($"stream_id", ($"pos" + 1L).as("rank"),
        $"s.seq".as("seq"), $"s.value".as("value"), $"s.hk".as("hk"))
  }

  /** [[SummaryKind.throughMerge]] of [[kind]]: the full-range result
    * must STILL equal the global bottom-k exactly.
    */
  private[graft] def throughMerge(events: Dataset[Event], spec: WindowingSpec, k: Int = K): DataFrame =
    kind(k).throughMerge(events, spec)
}
