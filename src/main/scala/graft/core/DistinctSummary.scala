package graft.core

import graft.windowing.WindowingSpec
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Windowed distinct-count summaries: each decay window carries an HLL
  * sketch (Datasketches HLL via Spark's built-in `hll_sketch_agg`)
  * instead of a scalar, extending the engine's partial/final aggregate
  * structure (`/root/reference/core/op.go:15-21` Apply/Merge) to COUNT
  * DISTINCT — the one aggregate the reference declares (bloom/cms
  * registrations) but never materializes per window. Sketches are
  * mergeable monoids, so window re-coarsening (Compactor) and
  * query-time range union follow exactly the same shapes as count/sum/
  * max, at O(2^lgK) bytes per window.
  */
object DistinctSummary {

  /** The HLL window kind (Spark's `hll_sketch_agg`, lgK = 12 — the
    * precision the distinct-count rewrite assumes). Values are sketched
    * via [[canonicalValue]] (Spark's HLL accepts int/long/string/binary;
    * the double→string map is injective, so cardinalities are
    * unchanged). A sparse HLL of one element is small, so appends keep
    * per-element fine sketches until the next merge.
    */
  val Kind: SummaryKind = SummaryKind("distinct_sketches",
    elementAggs = Seq(hll_sketch_agg(canonicalValue(col("value")), lit(12)).as("sketch")),
    mergeAggs = Seq(hll_union_agg(col("sketch"), lit(false)).as("sketch")),
    delta = SummaryKind.PerElement,
    rewrite = Some(graft.plans.SummaryRewrite.Pairing.Distinct))

  /** Sketch table (streamId, ts, te, cs, ce, sketch) over one decay
    * policy — same window assignment as [[Summarizer.summarize]].
    */
  def summarize(
      events: Dataset[Event],
      spec: WindowingSpec,
      bufferSize: Long = 0L): DataFrame =
    Kind.summarize(events, _ => spec, bufferSize)

  /** Canonical sketch-entry form of a value: string, with -0.0 first
    * normalized to 0.0. SQL `=` (and `countDistinct`) treat the two
    * zeros as equal, but their string forms differ — an unnormalized
    * cast would keep them as two sketch entries and drift the estimate
    * off exact by one on data containing both.
    */
  private[graft] def canonicalValue(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(v === 0.0, lit(0.0)).otherwise(v).cast("string")

  /** Merge a stream's window sketches over [t0, t1] (overlap predicate
    * pushed down like every range query) and estimate:
    * (stream_id, approx_distinct). Over a range that only partially
    * overlaps edge windows this is an over-covering estimate (windows
    * are the storage resolution — same semantics as the sum estimator's
    * proration source), and over the whole stream it is the exact
    * sketch of every element.
    */
  def rangeDistinct(
      sketches: DataFrame,
      t0: Long = Long.MinValue,
      t1: Long = Long.MaxValue): DataFrame =
    sketches
      .filter(col("te") >= t0 && col("ts") <= t1)
      .groupBy(col("streamId"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch"), lit(false)))
        .cast("long").as("approx_distinct"))
      .select(col("streamId").as("stream_id"), col("approx_distinct"))

  /** Self-checking contract (the `q_approx_distinct` pattern): the
    * full-stream estimate assembled by MERGING every window's sketch
    * must sit within `tol` of the exact distinct count — proving the
    * partial/final decomposition, not just the sketch. Output
    * (stream_id, within_bound); a violating sketch emits `false` and
    * fails the oracle hash.
    */
  def distinctContract(
      events: Dataset[Event],
      spec: WindowingSpec,
      tol: Double = 0.05): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val est = rangeDistinct(summarize(events, spec))
    val exact = events.groupBy($"streamId".as("stream_id"))
      .agg(countDistinct($"value").cast("double").as("exact"))
    est.join(exact, "stream_id")
      .select($"stream_id",
        (abs($"approx_distinct".cast("double") - $"exact") <= $"exact" * tol)
          .as("within_bound"))
  }
}
