package graft.core

import graft.plans.SummaryRewrite
import graft.windowing.WindowingSpec
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** One windowed summary kind: what a decay window holds and how windows
  * merge. Every per-window aggregate is a commutative monoid (the
  * reference's `core/op.go` Apply/Merge), so the window pipeline —
  * per-stream counts, rank → windowId, one `groupBy(streamId, windowId)`
  * — is the same for every kind; a kind only names its aggregates:
  *
  *   - `elementAggs`: element rows (streamId, ts, seq, value) → window
  *     state, e.g. `sum(value)`, `hll_sketch_agg`, `qsAgg`;
  *   - `mergeAggs`: window rows → window state, e.g. `sum(sum)`,
  *     `hll_union_agg`, `qsUnionAgg` — what [[Compactor.recoarsen]]
  *     runs on decay maintenance;
  *   - `delta`: how an appended batch becomes windows that nest into
  *     every later canonical partition ([[SummaryKind.Delta]]);
  *   - `rewrite`: the query-rewrite pairing [[SummaryDB]] keeps
  *     registered for the kind's table, if any.
  *
  * Every window row is (streamId, ts, te, cs, ce, state columns...),
  * the state columns named by the aggregates' aliases. The five kinds
  * are [[Summarizer.Kind]] (count/sum/max/min), [[DistinctSummary.Kind]]
  * (HLL), [[FreqSummary.Kind]] (bloom/CMS/Misra-Gries),
  * [[SampleSummary.kind]] (bottom-k) and [[QuantileSummary.kind]] (KLL).
  */
final case class SummaryKind(
    table: String,
    elementAggs: Seq[Column],
    mergeAggs: Seq[Column],
    delta: SummaryKind.Delta,
    rewrite: Option[SummaryRewrite.Pairing] = None) {
  import SummaryKind._

  /** Windows of `events` on the canonical partition for the per-stream
    * counts in `counts` (streamId, n) — which may exceed the events' own
    * span: a batch aggregated at the post-append total nests into every
    * later canonical partition. The window id is computed row-side from
    * (spec, n, seq) by the codegen kernel ([[graft.functions.WindowId]])
    * — no driver map, no broadcast; the one required shuffle is the
    * window `groupBy`.
    */
  def partialsAt(
      events: DataFrame,
      specOf: Long => WindowingSpec,
      counts: DataFrame,
      bufferSize: Long): DataFrame =
    aggregate(events
      .join(counts, "streamId")
      .withColumn("windowId",
        graft.functions.WindowId.column(specOf, bufferSize, col("streamId"), col("n"), col("seq"))))

  /** The kind's table for a ranked event stream, each stream on its own
    * decay policy: per-stream counts joined back as a column (AQE
    * broadcasts the small side; at 10^8 streams it degrades to a
    * co-partitioned shuffle join instead of OOMing a driver map), then
    * [[partialsAt]].
    */
  def summarize(
      events: Dataset[Event],
      specOf: Long => WindowingSpec,
      bufferSize: Long = 0L): DataFrame =
    partialsAt(events.toDF(), specOf,
      events.groupBy(col("streamId")).agg(count(lit(1)).as("n")), bufferSize)

  /** One window per element (cs = ce = `seq`): the finest partition,
    * which nests into every canonical one — a projection when the kind
    * has a [[SummaryKind.Singleton]] state, else one group per element.
    */
  def perElement(events: DataFrame, seq: Column = col("seq")): DataFrame = delta match {
    case Singleton(state) =>
      events.select(Seq(col("streamId"), col("ts"), col("ts").as("te"),
        seq.as("cs"), seq.as("ce")) ++ state: _*)
    case _ => aggregate(events.withColumn("seq", seq).withColumn("windowId", col("seq")))
  }

  /** The windows an appended, already clamped `batch` adds to a table
    * whose per-stream element counts are `baseCounts`, in the kind's
    * [[delta]] shape.
    */
  def appendDelta(
      batch: Dataset[Event],
      baseCounts: DataFrame,
      specOf: Long => WindowingSpec): DataFrame = {
    val (joined, seq) = rebase(batch, baseCounts)
    if (delta != AtCount) perElement(joined, seq)
    else {
      val rebased = joined.select(col("streamId"), col("ts"), seq.as("seq"), col("value"))
      partialsAt(rebased, specOf,
        rebased.groupBy(col("streamId")).agg((max(col("seq")) + 1L).as("n")), 0L)
    }
  }

  /** The kind's table routed THROUGH a real decay merge: each stream's
    * first half summarized at its OWN canonical partition (the state an
    * earlier append would have left), the remainder at the final
    * partition, then one [[Compactor.recoarsen]] — every boundary that
    * moved between n/2 and n forces a genuine multi-way merge, at
    * O(log n) rows per stream. This is the incremental-append shape the
    * contracts certify.
    */
  def throughMerge(events: Dataset[Event], spec: WindowingSpec): DataFrame = {
    val counts = events.groupBy(col("streamId")).agg(count(lit(1)).as("n"))
    val ev = events.toDF().join(counts, "streamId")
    val cols = Seq(col("streamId"), col("ts"), col("seq"), col("value"))
    val firstHalf = ev.filter(col("seq") < col("n") / 2).select(cols: _*)
    val rest = ev.filter(col("seq") >= col("n") / 2).select(cols: _*)
    val specOf = (_: Long) => spec
    val a = partialsAt(firstHalf, specOf,
      firstHalf.groupBy(col("streamId")).agg(count(lit(1)).as("n")), 0L)
    val b = partialsAt(rest, specOf, counts, 0L)
    Compactor.recoarsen(a.unionByName(b), specOf, mergeAggs, 0L)
  }

  /** Element rows carrying a windowId → one row per window. */
  private def aggregate(rows: DataFrame): DataFrame = {
    val aggs = Seq(
      min(col("ts")).as("ts"), max(col("ts")).as("te"),
      min(col("seq")).as("cs"), max(col("seq")).as("ce")) ++ elementAggs
    rows.groupBy(col("streamId"), col("windowId"))
      .agg(aggs.head, aggs.tail: _*)
      .drop("windowId")
  }
}

object SummaryKind {

  /** How an appended batch becomes windows. Both per-element shapes let
    * a deferred merge ([[SummaryDB.open]]'s `mergeEvery`) keep the
    * batch as fine windows; [[AtCount]] is for states with no sparse
    * mode, whose per-element windows would be large.
    */
  sealed trait Delta

  /** One window per element, by a row projection: `state` is the
    * window state of a single element, so the delta needs no shuffle.
    */
  final case class Singleton(state: Seq[Column]) extends Delta

  /** One window per element, built by the element aggregates. */
  case object PerElement extends Delta

  /** Partials at the post-append element count: O(log n) windows per
    * stream that nest into every later partition (a per-element
    * bloom+CMS pair alone is ~16 KB).
    */
  case object AtCount extends Delta

  /** `batch` joined to its streams' existing element counts
    * `baseCounts` (streamId, n), and the element rank offset by them;
    * streams absent from `baseCounts` start at 0. All-columnar — no
    * driver map.
    */
  private[core] def rebase(batch: Dataset[Event], baseCounts: DataFrame): (DataFrame, Column) =
    (batch.toDF().join(baseCounts.withColumnRenamed("n", "base"), Seq("streamId"), "left"),
      col("seq") + coalesce(col("base"), lit(0L)))
}
