package graft.core

import graft.windowing.{DecayModel, WindowingSpec}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The batch summarizer: turns a raw event stream into the decayed
  * `summary_windows` table — the materialized view every query hits.
  *
  * Reference shape: `/root/reference/core/summarizer.go:83-107` cuts
  * ingest buffers into windows and `/root/reference/core/merger.go`
  * maintains decay incrementally with a heap + RB-tree. Here (SURVEY
  * §7.0) the final partition of [0, N) is a deterministic function of
  * (policy, N), so Spark recomputes window assignment from the element
  * rank instead of keeping distributed mutable state:
  *
  *   1. per-stream element counts as a COLUMN (`groupBy(streamId).count`
  *      joined back — AQE broadcasts the tiny aggregated side; at 10^8
  *      streams it degrades to a co-partitioned shuffle join instead of
  *      OOMing a driver map);
  *   2. rank → windowId per row from (spec, n, seq): the scalar UDF
  *      calls `DecayModel.windowStarts` (closed-form, memoized per
  *      executor per distinct (spec, n)) and binary-searches — nothing
  *      is collected to or broadcast from the driver;
  *   3. one `groupBy(streamId, windowId).agg(...)` — the only required
  *      shuffle, with map-side partial aggregation for free (the join's
  *      streamId partitioning already satisfies the grouping).
  *
  * At 100 TB this holds: no O(#streams) driver structure exists, the
  * shuffle is the unavoidable per-window aggregation, and AQE handles
  * both the join strategy and skewed streams.
  */
object Summarizer {

  /** Summarize a ranked event stream into decay windows.
    * Window time spans are [min ts, max ts] of member elements, count
    * spans [min seq, max seq] — matching the reference's
    * `InsertIntoSummaryWindow` bookkeeping
    * (`/root/reference/core/stream_window_manager.go:67-72`).
    */
  def summarize(
      events: Dataset[Event],
      spec: WindowingSpec,
      bufferSize: Long = 0L): Dataset[SummaryWindow] =
    summarizePerStream(events, _ => spec, bufferSize)

  /** As [[summarize]], but each stream may carry its own decay policy —
    * the reference's per-stream windowing declared at `NewStream`
    * (`/root/reference/core/db.go:61-80`).
    */
  def summarizePerStream(
      events: Dataset[Event],
      specOf: Long => WindowingSpec,
      bufferSize: Long = 0L): Dataset[SummaryWindow] =
    Kind.summarize(events, specOf, bufferSize).as[SummaryWindow](Encoders.product[SummaryWindow])

  /** The scalar window kind: count/sum/max/min, the reference's
    * DataTable (`protos/summarydb.capnp:16-20`). A single element's
    * window is a projection of its value, so the append delta needs no
    * shuffle.
    */
  val Kind: SummaryKind = SummaryKind("summary_windows",
    elementAggs = Seq(
      count(lit(1)).cast("double").as("count"),
      sum(col("value")).as("sum"),
      max(col("value")).as("max"),
      min(col("value")).as("min")),
    mergeAggs = Seq(
      sum(col("count")).as("count"),
      sum(col("sum")).as("sum"),
      max(col("max")).as("max"),
      min(col("min")).as("min")),
    delta = SummaryKind.Singleton(Seq(
      lit(1.0).as("count"),
      col("value").as("sum"),
      col("value").as("max"),
      col("value").as("min"))),
    rewrite = Some(graft.plans.SummaryRewrite.Pairing.Summary))

  /** Driver-side view assembly: spans + element rows -> one
    * [[LandmarkWindow]] per declared interval, elements sorted by
    * (ts, value). The ONLY place the per-window element array
    * materializes — callers at scale stay on the row tables.
    */
  def assembleLandmarkWindows(
      spans: Dataset[LandmarkSpan],
      elems: Dataset[LandmarkElem]): Dataset[LandmarkWindow] = {
    val spark = spans.sparkSession
    import spark.implicits._
    val grouped = elems.toDF()
      .groupBy($"streamId", $"windowId")
      .agg(sort_array(collect_list(struct($"ts", $"value"))).as("elems"))
    spans.toDF()
      .join(grouped, Seq("streamId", "windowId"), "left")
      .map { row =>
        val es = row.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("elems")
        LandmarkWindow(
          streamId = row.getAs[Long]("streamId"),
          ts = row.getAs[Long]("ts"),
          te = row.getAs[Long]("te"),
          elems =
            if (es == null) Vector.empty
            else es.iterator.map(r => Landmark(r.getLong(0), r.getDouble(1))).toVector)
      }
  }

  /** Summarize with exact landmark intervals: elements whose timestamp
    * falls inside a landmark interval are diverted verbatim into the
    * landmark tables instead of being decayed — the batch equivalent of
    * `StartLandmark`/`EndLandmark` (reference `core/stream.go:104-137`:
    * while a landmark is open, appends bypass the summarizer pipeline).
    * Landmark window [ts, te] is the declared interval (the reference
    * stamps the start/end API timestamps, not element times,
    * `core/landmark_window.go:16-26`); remaining elements are re-ranked
    * densely per stream before decay, as the reference's element
    * counter never saw the diverted ones.
    *
    * The landmark output is in the SCALE layout: a bounded
    * [[LandmarkSpan]] row per declared interval and one
    * [[LandmarkElem]] row per exact element — constant row width
    * however long a landmark stays open (SURVEY §1.5). The
    * reference stores landmark elements verbatim
    * (`/root/reference/core/landmark_window.go:5-14`); their layout is
    * an implementation choice, and one array per window breaches
    * Spark's ~2 GB single-value ceiling on a billion-element landmark.
    * A declared interval that matched no element emits no span — the
    * estimator's subtraction set matches the old element-array table
    * exactly.
    */
  def summarizeWithLandmarkRowsPerStream(
      events: Dataset[Event],
      specOf: Long => WindowingSpec,
      intervals: Seq[(Long, Long)],
      bufferSize: Long = 0L,
      perStream: Map[Long, Seq[(Long, Long)]] = Map.empty)
      : (Dataset[SummaryWindow], Dataset[LandmarkSpan], Dataset[LandmarkElem]) = {
    val spark = events.sparkSession
    import spark.implicits._

    // Two classifier paths, neither a per-row UDF over a broadcast map:
    //  - GLOBAL intervals (apply to every stream) are an API-declared
    //    handful, so they fold into a literal codegen'd CASE chain — a
    //    pure projection, no join in the plan at all;
    //  - PER-STREAM intervals become a relation equi-joined on streamId
    //    (range bounds as join filters): Catalyst broadcasts it when
    //    small and shuffles co-partitioned when declarations are huge,
    //    instead of an O(#declarations) driver array shipped per task.
    // Combined index order matches the old classifier: global intervals
    // first (shared indices), then the stream's own — first match wins,
    // as indexWhere did (overlap only matters for overlapping
    // declarations; the reference's one-open-landmark-per-stream
    // invariant makes intervals disjoint in practice).
    val nullLong = lit(null).cast("long")
    val gIdx: Column =
      if (intervals.isEmpty) nullLong
      else coalesce(intervals.zipWithIndex.map { case ((l0, l1), i) =>
        when($"ts" >= l0 && $"ts" <= l1, lit(i.toLong))
      }: _*)

    val base = events.withColumn("gIdx", gIdx)
    val streamIvRows: Seq[(Long, Long, Long, Long)] =
      perStream.toSeq.flatMap { case (sid, ivs) =>
        ivs.zipWithIndex.map { case ((l0, l1), j) =>
          (sid, (intervals.length + j).toLong, l0, l1)
        }
      }
    val joined =
      if (streamIvRows.isEmpty)
        base.withColumn("pIdx", nullLong)
          .withColumn("pL0", nullLong).withColumn("pL1", nullLong)
      else {
        val iv = streamIvRows.toDF("ivSid", "pIdx", "pL0", "pL1")
        val matched = events.select($"streamId", $"seq", $"ts")
          .join(iv, $"streamId" === $"ivSid" && $"ts" >= $"pL0" && $"ts" <= $"pL1")
          // Min-index resolution; shuffle is O(matched elements) only.
          .groupBy($"streamId", $"seq")
          .agg(min(struct($"pIdx", $"pL0", $"pL1")).as("m"))
          .select($"streamId", $"seq",
            $"m.pIdx".as("pIdx"), $"m.pL0".as("pL0"), $"m.pL1".as("pL1"))
        base.join(matched, Seq("streamId", "seq"), "left")
      }

    // Literal bound lookup for global matches; per-stream bounds arrive
    // as join columns.
    def litArr(f: ((Long, Long)) => Long): Column =
      element_at(array(intervals.map(iv => lit(f(iv))): _*), ($"gIdx" + 1).cast("int"))
    val classified = joined
      .withColumn("intervalId", coalesce($"gIdx", $"pIdx"))
      .withColumn("l0",
        if (intervals.isEmpty) $"pL0"
        else when($"gIdx".isNotNull, litArr(_._1)).otherwise($"pL0"))
      .withColumn("l1",
        if (intervals.isEmpty) $"pL1"
        else when($"gIdx".isNotNull, litArr(_._2)).otherwise($"pL1"))
    val isLandmark = $"intervalId".isNotNull

    // Landmark window [ts, te] is the DECLARED interval — carried as
    // join columns, no driver-side lookup. Spans = one aggregate row
    // per matched (stream, interval); elements stay as rows.
    val landmarkSide = classified.filter(isLandmark)
    val spans = landmarkSide
      .groupBy($"streamId", $"intervalId".as("windowId"))
      .agg(first($"l0").as("ts"), first($"l1").as("te"))
      .select($"streamId", $"windowId", $"ts", $"te")
      .as[LandmarkSpan]
    val lmElems = landmarkSide
      .select($"streamId", $"intervalId".as("windowId"), $"ts", $"value")
      .as[LandmarkElem]

    // Dense re-rank of the surviving elements. Scale note: one shuffle on
    // streamId; each stream sorts within its partition — streams are the
    // parallelism unit, as in Ingest.prepare.
    val w = Window.partitionBy($"streamId").orderBy($"seq")
    val regular = classified
      .filter(!isLandmark)
      .select($"streamId", $"seq", $"ts", $"value")
      .withColumn("seq", row_number().over(w).cast("long") - 1L)
      .as[Event]

    (summarizePerStream(regular, specOf, bufferSize), spans, lmElems)
  }

  /** Per-stream compression stats: raw element count vs emitted windows
    * (the reference's headline effect: N rows → O(log N) windows,
    * `/root/reference/core/db_test.go:330-334`).
    */
  def compressionStats(sw: Dataset[SummaryWindow]): DataFrame = {
    val spark = sw.sparkSession
    import spark.implicits._
    sw.groupBy($"streamId".as("stream_id"))
      .agg(
        count(lit(1)).as("n_windows"),
        (max($"ce") + 1).as("n_elements"))
  }
}
