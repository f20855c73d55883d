package graft.core

import graft.estimator.SumEstimator
import graft.sources.TinyParquet
import graft.sources.TinyParquet.Columns
import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._
import scala.collection.immutable.SortedMap

/** Fleet-wide range-query execution over the summary + landmark tables.
  *
  * The reference answers one stream at a time on a single node
  * (`/root/reference/core/stream.go:156-192`): probe the time index for
  * overlapping windows, then run the op's estimator. Here the probe is a
  * range filter (`te >= t0 && ts <= t1` — exactly the
  * index-probe-plus-edge-filter of
  * `/root/reference/storage/query_index.go:48-74` +
  * `/root/reference/core/stream_window_manager.go:78-93`), and the
  * estimator runs once per stream over its windows in ts order. Tiny
  * inputs (bare scans of the stream tables or local relations,
  * [[TinyParquet.input]], tiny together by [[TinyParquet.onDriver]])
  * are decoded and walked on the driver, with no Spark job, and the
  * answer is a local relation. Any other input is walked inside
  * `cogroup` on executors — every stream in parallel, O(log N) window
  * rows each, nothing collected to the driver. Both walks hand the
  * estimator the same windows and digests.
  *
  * Landmark state enters as [[LandmarkSpan]] + [[LandmarkElem]] ROWS:
  * [[landmarkDigests]] folds the in-range elements of each window into
  * one bounded [[LandmarkDigest]] row by a distributed aggregation (on
  * the driver path, [[LandmarkDigest.fold]]), so the estimator sees
  * O(#intervals) digests per stream no matter how many exact elements a
  * landmark holds — no per-window element array ever materializes.
  * Callers without landmarks pass empty span and element Datasets.
  */
object QueryEngine {

  /** Per-window landmark digests for [t0, t1]: the declared spans
    * overlapping the range, each with its in-range element aggregates
    * (zero-element spans still subtract from edge windows, hence the
    * left join). One aggregation over the element rows + one join
    * against the bounded span table; output is O(#intervals) rows.
    */
  def landmarkDigests(
      spans: Dataset[LandmarkSpan],
      elems: Dataset[LandmarkElem],
      t0: Long,
      t1: Long): Dataset[LandmarkDigest] = {
    val spark = spans.sparkSession
    import spark.implicits._
    val sp = spans.filter($"te" >= t0 && $"ts" <= t1).toDF()
    val ag = elems.filter($"ts" >= t0 && $"ts" <= t1)
      .groupBy($"streamId", $"windowId")
      .agg(
        count(lit(1)).as("cnt"),
        sum($"value").as("sum"),
        max($"value").as("vmax"),
        min($"value").as("vmin"))
    sp.join(ag, Seq("streamId", "windowId"), "left")
      .select($"streamId", $"ts", $"te",
        coalesce($"cnt", lit(0L)).as("cnt"),
        coalesce($"sum", lit(0.0)).as("sum"),
        coalesce($"vmax", lit(SummaryWindow.EmptyMax)).as("vmax"),
        coalesce($"vmin", lit(SummaryWindow.EmptyMin)).as("vmin"))
      .as[LandmarkDigest]
  }

  /** The one fleet-wide window walk: overlap filter, landmark digests,
    * both sides of each stream in time order, then `f` per stream with
    * any overlapping summary or landmark window. On the driver, rows
    * sorted by stream, when the inputs are tiny ([[onDriver]]); else by
    * [[cogroupWalk]].
    */
  private def perStream[T: Encoder](
      sw: Dataset[SummaryWindow],
      spans: Dataset[LandmarkSpan],
      elems: Dataset[LandmarkElem],
      t0: Long,
      t1: Long)(f: (Long, Seq[SummaryWindow], Seq[LandmarkDigest]) => T): Dataset[T] =
    onDriver(sw, spans, elems) match {
      case Some((w, s, e)) =>
        sw.sparkSession.createDataset(walk(w, s, e, _ => true, t0, t1).map { case (sid, (s, l)) => f(sid, s, l) }.toSeq)
      case None => cogroupWalk(sw, spans, elems, t0, t1)(f)
    }

  /** [[perStream]]'s Spark side: `cogroup` on stream, a lazy plan that
    * reads no file until it runs.
    */
  private def cogroupWalk[T: Encoder](
      sw: Dataset[SummaryWindow],
      spans: Dataset[LandmarkSpan],
      elems: Dataset[LandmarkElem],
      t0: Long,
      t1: Long)(f: (Long, Seq[SummaryWindow], Seq[LandmarkDigest]) => T): Dataset[T] = {
    val spark = sw.sparkSession
    import spark.implicits._
    sw.filter($"te" >= t0 && $"ts" <= t1)
      .groupByKey(_.streamId)
      .cogroup(landmarkDigests(spans, elems, t0, t1).groupByKey(_.streamId)) { (sid, sws, lds) =>
        val s = sws.toArray.sortBy(_.ts).toSeq
        val l = lds.toArray.sortBy(_.ts).toSeq
        if (s.isEmpty && l.isEmpty) Iterator.empty else Iterator(f(sid, s, l))
      }
  }

  /** The decoded columns of the three inputs, when each is a
    * [[TinyParquet.input]] and together they are tiny
    * ([[TinyParquet.onDriver]]); None otherwise, and when one lacks a
    * column or stores it as a type Spark would convert.
    */
  private def onDriver(
      sw: Dataset[SummaryWindow],
      spans: Dataset[LandmarkSpan],
      elems: Dataset[LandmarkElem]): Option[(Columns, Columns, Columns)] =
    Seq(sw, spans, elems).flatMap(TinyParquet.input) match {
      case Seq(w, s, e) if TinyParquet.onDriver(w.bytes + s.bytes + e.bytes) =>
        (for {
          ws <- w.read(StreamTable.Windows.schema)
          ss <- s.read(StreamTable.Spans.schema)
          es <- e.read(StreamTable.Elems.schema)
        } yield (ws, ss, es)).toOption
      case _ => None
    }

  /** The driver twin of the `cogroup` walk, over decoded stream tables:
    * each stream of `sids` with a summary window or landmark span that
    * overlaps [t0, t1], by stream id, with those windows and its
    * landmark digests, each in ts order.
    */
  private[graft] def walk(
      sw: Columns,
      spans: Columns,
      elems: Columns,
      sids: Long => Boolean,
      t0: Long,
      t1: Long): SortedMap[Long, (Seq[SummaryWindow], Seq[LandmarkDigest])] = {
    val ws = StreamTable.Windows.rows(sw, sids, t0, t1).groupBy(_.streamId)
    val ls = LandmarkDigest.fold(StreamTable.Spans.rows(spans, sids, t0, t1),
      StreamTable.Elems.rows(elems, sids, t0, t1), t0, t1).groupBy(_.streamId)
    SortedMap.from((ws.keySet ++ ls.keySet).iterator.map(sid =>
      sid -> (ws.getOrElse(sid, Nil).sortBy(_.ts), ls.getOrElse(sid, Nil).sortBy(_.ts))))
  }

  /** Estimate `op` over [t0, t1] for every stream, over the row-layout
    * landmark tables. Output: (stream_id, estimate, ci_width). Streams
    * with no overlapping summary or landmark windows produce no row.
    */
  def rangeQueryAll(
      sw: Dataset[SummaryWindow],
      spans: Dataset[LandmarkSpan],
      elems: Dataset[LandmarkElem],
      op: String,
      t0: Long,
      t1: Long,
      params: QueryParams): DataFrame = {
    val spark = sw.sparkSession
    import spark.implicits._
    perStream(sw, spans, elems, t0, t1) { (sid, s, l) =>
      val r = SumEstimator.queryDigest(op, t0, t1, s, l, params)
      (sid, r.value, r.error)
    }.toDF("stream_id", "estimate", "ci_width")
  }

  /** As [[rangeQueryAll]] for SEVERAL ops in one pass: a single
    * cogroup walks each stream's windows once and emits every requested
    * estimate — (stream_id, estimates[i] for ops[i]). Used by the
    * approximate query rewrite so count+sum cost one shuffle, not two.
    * Always a lazy Spark plan: the rewrite builds it inside an optimizer
    * rule, which must not read files.
    */
  def rangeQueryMultiAll(
      sw: Dataset[SummaryWindow],
      spans: Dataset[LandmarkSpan],
      elems: Dataset[LandmarkElem],
      ops: Seq[String],
      t0: Long,
      t1: Long,
      params: QueryParams = QueryParams()): DataFrame = {
    val spark = sw.sparkSession
    import spark.implicits._
    val opList = ops.toList
    cogroupWalk(sw, spans, elems, t0, t1) { (sid, s, l) =>
      // count_hi rides along: the hard count upper bound from the
      // same window walk lets callers drop provably-empty streams
      // (exact count <= count_hi < 1 means the exact query would
      // emit no group for this stream at all).
      val hi = SumEstimator.boundsQueryDigest("count", t0, t1, s, l).upper
      (sid, opList.map(op => SumEstimator.queryDigest(op, t0, t1, s, l, params).value), hi)
    }.toDF("stream_id", "estimates", "count_hi")
  }

  /** Hard deterministic answer bounds per stream over [t0, t1]:
    * (stream_id, bound_lo, bound_hi). The exact answer is guaranteed
    * inside [bound_lo, bound_hi] for count (always) and for sum over
    * non-negative values — the estimator's testable contract, checked
    * by the `q_range_count`/`q_range_sum` oracles against an external
    * engine's exact recomputation.
    */
  def rangeBoundsAll(
      sw: Dataset[SummaryWindow],
      spans: Dataset[LandmarkSpan],
      elems: Dataset[LandmarkElem],
      op: String,
      t0: Long,
      t1: Long): DataFrame = {
    val spark = sw.sparkSession
    import spark.implicits._
    perStream(sw, spans, elems, t0, t1) { (sid, s, l) =>
      val b = SumEstimator.boundsQueryDigest(op, t0, t1, s, l)
      (sid, b.lower, b.upper)
    }.toDF("stream_id", "bound_lo", "bound_hi")
  }

  /** Exact estimator answers over each stream's oldest `numWindows`
    * summary windows. The query range [w0.ts, w_{numWindows-1}.te] is
    * aligned to window boundaries, so the estimator must return
    * ci_width = 0 and exactly the raw prefix aggregate — the
    * boundary-sensitive hard-signal check: a summarizer that shifted any
    * boundary would either report nonzero error (stream vanishes →
    * row-count mismatch) or aggregate the wrong element prefix (value
    * mismatch). Streams with fewer windows emit nothing. Output:
    * (stream_id, cnt, sum_value).
    */
  def alignedPrefixAll(sw: Dataset[SummaryWindow], numWindows: Int): DataFrame = {
    val spark = sw.sparkSession
    import spark.implicits._
    sw.groupByKey(_.streamId)
      .flatMapGroups { (sid, it) =>
        val s = it.toArray.sortBy(_.ts).toSeq
        if (s.length < numWindows) Iterator.empty
        else {
          val t0 = s.head.ts
          val t1 = s(numWindows - 1).te
          val overlapping = s.filter(w => w.te >= t0 && w.ts <= t1)
          val c = SumEstimator.queryDigest("count", t0, t1, overlapping, Nil, QueryParams())
          val m = SumEstimator.queryDigest("sum", t0, t1, overlapping, Nil, QueryParams())
          if (c.error != 0.0 || m.error != 0.0) Iterator.empty
          else Iterator((sid, math.rint(c.value).toLong, m.value))
        }
      }
      .toDF("stream_id", "cnt", "sum_raw")
      .select($"stream_id", $"cnt", round($"sum_raw", 2).as("sum_value"))
  }

  /** Driver-side single-stream query — the reference's public API shape
    * (`Stream.Query(op, t0, t1, params)`) over the row-layout landmark
    * tables. Collects the O(log N) overlapping summary windows and the
    * O(#intervals) landmark DIGESTS of one stream (the element
    * aggregation runs distributed); for fleet-wide queries use
    * [[rangeQueryAll]].
    */
  def queryOne(
      sw: Dataset[SummaryWindow],
      spans: Dataset[LandmarkSpan],
      elems: Dataset[LandmarkElem],
      streamId: Long,
      op: String,
      t0: Long,
      t1: Long,
      params: QueryParams): AggResult = {
    val spark = sw.sparkSession
    import spark.implicits._
    val s = sw
      .filter($"streamId" === streamId && $"te" >= t0 && $"ts" <= t1)
      .collect().sortBy(_.ts).toSeq
    val l = landmarkDigests(
        spans.filter($"streamId" === streamId),
        elems.filter($"streamId" === streamId), t0, t1)
      .collect().sortBy(_.ts).toSeq
    SumEstimator.queryDigest(op, t0, t1, s, l, params)
  }
}
