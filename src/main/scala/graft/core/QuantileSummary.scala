package graft.core

import graft.functions.QuantileSketch
import graft.windowing.WindowingSpec
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Windowed quantile summaries: each decay window carries a mergeable
  * KLL-style quantile sketch over its values ([[graft.functions
  * .QSketch]]), completing the windowed-sketch family (count/sum/max →
  * HLL → bloom/CMS/freq → quantiles) on the same Apply/Merge shapes:
  *
  *   - "what was the p50/p99 in [t0, t1]?" → union the overlapping
  *     windows' sketches, probe — O(log N) sketch rows read;
  *   - decay re-coarsening ([[Compactor.recoarsen]]) merges
  *     sketches exactly like count/sum/max partials merge;
  *   - the sketch carries a SELF-CERTIFIED worst-case rank error that
  *     ADDS across merges, so a range query can report its own bound
  *     and the contract oracle can hold it to that bound for any
  *     distributed aggregation order.
  *
  * The reference never ships quantiles (its DataTable is count/max/sum,
  * `/root/reference/protos/summarydb.capnp:16-20`); this is the natural
  * next op a 100 TB telemetry or training-data store asks of exactly
  * this storage layout — "p99 latency last hour, p50 doc length last
  * week" — answered from the decayed windows without a raw scan.
  */
object QuantileSummary {

  /** Default per-window sketch capacity (items per level). At k=512 a
    * window of <= 512 elements is stored EXACTLY (err 0); beyond that
    * the certified rank error grows ~ (n/k)·log(n/k).
    */
  val K = 512

  /** The KLL window kind at capacity `k`. An append aggregates at the
    * post-append canonical partition; the merge's certified error
    * bounds add, so the maintained table stays within its contract
    * whatever the merge history. [[SummaryDB]] keeps no rewrite pairing
    * for it.
    */
  def kind(k: Int = K): SummaryKind = SummaryKind("quantile_windows",
    elementAggs = Seq(QuantileSketch.qsAgg(col("value"), k).as("qsk")),
    mergeAggs = Seq(QuantileSketch.qsUnionAgg(col("qsk")).as("qsk")),
    delta = SummaryKind.AtCount)

  /** Sketch table (streamId, ts, te, cs, ce, qsk), per-stream policies. */
  def summarizePerStream(
      events: Dataset[Event],
      specOf: Long => WindowingSpec,
      k: Int = K,
      bufferSize: Long = 0L): DataFrame =
    kind(k).summarize(events, specOf, bufferSize)

  /** As [[summarizePerStream]] with one spec for every stream. */
  def summarize(
      events: Dataset[Event],
      spec: WindowingSpec,
      k: Int = K,
      bufferSize: Long = 0L): DataFrame =
    summarizePerStream(events, _ => spec, k, bufferSize)

  /** Per-stream union of the window sketches overlapping [t0, t1],
    * probed at `probs`: (stream_id, p, est, rank_err, n). `est` is an
    * actual data value from the range; `rank_err` is the merged
    * sketch's certified worst-case rank error; `n` the range's total
    * weight. Over a range that partially overlaps edge windows the
    * estimate covers the whole edge windows (windows are the storage
    * resolution — the sum estimator's proration semantics).
    */
  def rangeQuantiles(
      sketches: DataFrame,
      probs: Seq[Double],
      t0: Long = Long.MinValue,
      t1: Long = Long.MaxValue): DataFrame = {
    val spark = sketches.sparkSession
    import spark.implicits._
    val ps = probs
    val probe = udf((b: Array[Byte]) =>
      if (b == null) Seq.empty[(Double, Double, Long, Long)]
      else QuantileSketch.quantilesAll(b, ps))
    sketches
      .filter($"te" >= t0 && $"ts" <= t1)
      .groupBy($"streamId")
      .agg(QuantileSketch.qsUnionAgg($"qsk").as("s"))
      .select($"streamId".as("stream_id"), explode(probe($"s")).as("kv"))
      .select($"stream_id", $"kv._1".as("p"), $"kv._2".as("est"),
        $"kv._3".as("rank_err"), $"kv._4".as("n"))
  }

  /** Self-checking rank contract through the decay-merge path, held to
    * the sketch's OWN certified bound. For each (stream, p): the
    * returned estimate `e` satisfies `estRankLe(e) >= r` and
    * `estRankLt(e) <= r - 1` by construction (r = clamp(ceil(p*n),
    * 1, n)), and every rank estimate is within the certified `err` of
    * exact for ANY threshold, so
    *
    *   rank_le(e) >= r - err   and   rank_lt(e) <= r - 1 + err
    *
    * must BOTH hold on the exact data — `within_bound` is uniformly
    * true, recomputed as `true` by the oracle (the q_quantiles
    * pattern). The sketch total must also equal the exact stream count,
    * pinning the window partition plumbing. Runs at a deliberately
    * small `k` so real compactions (err > 0) are exercised even on
    * sf0.01-sized streams.
    */
  def quantileContract(
      events: Dataset[Event],
      spec: WindowingSpec,
      probs: Seq[Double],
      k: Int = 32): DataFrame =
    quantileContractFrom(kind(k).throughMerge(events, spec), events, probs)

  /** [[quantileContract]] over a prebuilt sketch table. */
  def quantileContractFrom(
      table: DataFrame,
      events: Dataset[Event],
      probs: Seq[Double]): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val est = rangeQuantiles(table, probs)
    val ranks = events.toDF()
      .join(broadcast(est), events("streamId") === est("stream_id"))
      .groupBy($"stream_id", $"p", $"est", $"rank_err", $"n")
      .agg(
        count(lit(1)).as("n_exact"),
        sum(when($"value" <= $"est", 1L).otherwise(0L)).as("rank_le"),
        sum(when($"value" < $"est", 1L).otherwise(0L)).as("rank_lt"))
    val target = greatest(lit(1L), least($"n_exact", ceil($"p" * $"n_exact").cast("long")))
    ranks.select(
      $"stream_id", $"p",
      ($"n" === $"n_exact" &&
        $"rank_le" >= target - $"rank_err" &&
        $"rank_lt" <= target - 1L + $"rank_err")
        .as("within_bound"))
  }
}
