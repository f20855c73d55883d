package graft.core

import graft.windowing.WindowingSpec
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Decay maintenance without raw events — the Spark replacement for the
  * reference's Merger (`/root/reference/core/merger.go:45-312`).
  *
  * Correctness rests on two facts:
  *   1. the merge process only ever coalesces ADJACENT windows
  *      (`core/merger.go:136-154`), so the canonical partition at any
  *      N' >= N, restricted to [0, N), is a coarsening of the partition
  *      at N — stored windows always nest into newer boundaries; and
  *   2. the per-window aggregates are commutative monoids
  *      (`core/op_set.go:50-60`), so re-merging window states loses
  *      nothing.
  *
  * Hence compaction = assign each stored window to the canonical window
  * containing its count-start, then one `groupBy.agg` re-merge. Runs
  * entirely on the summary table: at 100 TB the raw events are never
  * re-read to maintain decay.
  */
object Compactor {

  /** Re-coarsen `windows` of any [[SummaryKind]] to the canonical decay
    * partition for each stream's current element count (max ce + 1),
    * re-merging window states with the kind's `mergeAggs`. Input
    * windows may be any partition that nests into the canonical one —
    * in particular any earlier canonical partition plus the kind's
    * append delta. The element count is a joined column and the window
    * id is computed row-side from (spec, n, cs) — no driver collect, no
    * broadcast map (the [[Summarizer]] pattern).
    */
  def recoarsen(
      windows: DataFrame,
      specOf: Long => WindowingSpec,
      mergeAggs: Seq[Column],
      bufferSize: Long): DataFrame =
    merge(windows.join(windows.groupBy(col("streamId")).agg((max(col("ce")) + 1L).as("n")), "streamId"),
      specOf, mergeAggs, bufferSize)

  /** [[recoarsen]] at known element counts `counts` (streamId, n) —
    * typically a driver-built local relation, so no aggregation runs to
    * find them. Windows of streams absent from `counts` pass through
    * unchanged. Both branches share one join, so the counts are
    * broadcast once.
    */
  def recoarsenAt(
      windows: DataFrame,
      counts: DataFrame,
      specOf: Long => WindowingSpec,
      mergeAggs: Seq[Column],
      bufferSize: Long): DataFrame = {
    val joined = windows.join(counts, Seq("streamId"), "left")
    merge(joined.filter(col("n").isNotNull), specOf, mergeAggs, bufferSize)
      .unionByName(joined.filter(col("n").isNull).drop("n"))
  }

  /** Windows carrying their stream's count `n` → the canonical windows at n. */
  private def merge(
      windows: DataFrame,
      specOf: Long => WindowingSpec,
      mergeAggs: Seq[Column],
      bufferSize: Long): DataFrame = {
    val aggs = Seq(
      min(col("ts")).as("ts"), max(col("te")).as("te"),
      min(col("cs")).as("cs"), max(col("ce")).as("ce")) ++ mergeAggs
    windows
      .withColumn("windowId",
        graft.functions.WindowId.column(specOf, bufferSize, col("streamId"), col("n"), col("cs")))
      .groupBy(col("streamId"), col("windowId"))
      .agg(aggs.head, aggs.tail: _*)
      .drop("windowId")
  }

  /** [[recoarsen]] for the scalar `summary_windows` table. */
  def recoarsen(
      sw: Dataset[SummaryWindow],
      specOf: Long => WindowingSpec,
      bufferSize: Long = 0L): Dataset[SummaryWindow] =
    recoarsen(sw.toDF(), specOf, Summarizer.Kind.mergeAggs, bufferSize).as[SummaryWindow](windowEncoder)

  /** Per-element fine windows for a freshly appended batch, offset by
    * each stream's existing element count — the unbuffered ingest shape
    * (the reference's `core/pipeline.go:109-117`) ready for
    * [[recoarsen]]. `baseCounts` is a (streamId, n) frame (typically the
    * aggregate of the existing summary table); streams absent from it
    * start at 0. All-columnar — no driver map.
    */
  def fineWindows(
      batch: Dataset[Event],
      baseCounts: DataFrame): Dataset[SummaryWindow] = {
    val (joined, seq) = SummaryKind.rebase(batch, baseCounts)
    Summarizer.Kind.perElement(joined, seq).as[SummaryWindow](windowEncoder)
  }

  /** Test-friendly overload with an in-memory base-count map. */
  def fineWindows(
      batch: Dataset[Event],
      baseCount: Map[Long, Long]): Dataset[SummaryWindow] = {
    val spark = batch.sparkSession
    import spark.implicits._
    fineWindows(batch, baseCount.toSeq.toDF("streamId", "n"))
  }

  /** [[recoarsen]] for the distinct-count table ([[DistinctSummary]]). */
  def recoarsenDistinct(
      sketches: DataFrame,
      specOf: Long => WindowingSpec,
      bufferSize: Long = 0L): DataFrame =
    recoarsen(sketches, specOf, DistinctSummary.Kind.mergeAggs, bufferSize)

  /** [[recoarsen]] for the bloom/cms table ([[FreqSummary]]). All input
    * windows must share one sketch geometry — `mergeInPlace` rejects
    * mismatches loudly.
    */
  def recoarsenFreq(
      sketches: DataFrame,
      specOf: Long => WindowingSpec,
      bufferSize: Long = 0L): DataFrame =
    recoarsen(sketches, specOf, FreqSummary.Kind.mergeAggs, bufferSize)

  /** [[recoarsen]] for the sample table ([[SampleSummary]]). */
  def recoarsenSample(
      samples: DataFrame,
      specOf: Long => WindowingSpec,
      k: Int = SampleSummary.K,
      bufferSize: Long = 0L): DataFrame =
    recoarsen(samples, specOf, SampleSummary.kind(k).mergeAggs, bufferSize)

  private val windowEncoder = org.apache.spark.sql.Encoders.product[SummaryWindow]
}
