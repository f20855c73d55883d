package graft.core

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Raw-stream preparation: monotonic-timestamp repair and element-rank
  * assignment.
  *
  * The reference forces timestamps monotonically non-decreasing at
  * append time — an out-of-order timestamp is rewritten to
  * `lastTimestamp + 1`, never re-sorted
  * (`/root/reference/core/pipeline.go:80-95`) — and numbers elements
  * with a per-stream counter (`numElements`).
  *
  * Ordering modes: the DEFAULT orders each stream by (ts, arrival)
  * before the clamp — out-of-order input is re-sorted rather than
  * clamped, which keeps the element order SQL-recomputable (an external
  * engine can sort by ts; it cannot cheaply replay the reference's
  * compounding lastTs+1 repair). `arrivalOrder = true` is the
  * reference-faithful mode (`/root/reference/core/pipeline.go:80-95`):
  * elements are processed strictly in arrival order and out-of-order
  * timestamps are bumped to lastTs+1 — bit-identical to the streaming
  * path `graft.streaming.StatefulClamp` (parity-tested on shuffled
  * input). The two modes agree exactly for in-order data.
  *
  * Scale: one hash shuffle on streamId + an in-partition sort; each
  * stream is processed by exactly one task (the fold is inherently
  * sequential, as in the reference's single writer thread). Streams are
  * the parallelism unit — fine for many medium streams; a single
  * pathological multi-TB stream would need a two-pass prefix-offset
  * scheme instead (documented trade-off, not needed at current scale).
  */
object Ingest {

  /** Columns: streamId (long), ts (long), value (double), plus an
    * arrival tiebreaker column. Produces Dataset[Event] with clamped ts
    * and dense 0-based seq per stream.
    *
    * `baseTs` seeds each stream's monotonic frontier (e.g. the stored
    * max te when appending a batch to an existing store): elements
    * earlier than the frontier are bumped to frontier+1, sequentially —
    * exactly the reference's repair.
    */
  def prepare(
      raw: DataFrame,
      streamCol: String = "streamId",
      tsCol: String = "ts",
      valueCol: String = "value",
      arrivalCol: String = "arrival",
      baseTs: Map[Long, Long] = Map.empty,
      arrivalOrder: Boolean = false): Dataset[Event] = {
    val spark = raw.sparkSession
    import spark.implicits._
    val bcBase = spark.sparkContext.broadcast(baseTs)
    val narrowed = raw.select(
      col(streamCol).cast("long").as("streamId"),
      col(tsCol).cast("long").as("ts"),
      col(valueCol).cast("double").as("value"),
      col(arrivalCol).cast("long").as("arrival"))
    val sortCols =
      if (arrivalOrder) Seq("streamId", "arrival") else Seq("streamId", "ts", "arrival")
    narrowed
      .repartition(col("streamId"))
      .sortWithinPartitions(sortCols.map(col): _*)
      .as[(Long, Long, Double, Long)]
      .mapPartitions(clamp(_, sid => (bcBase.value.getOrElse(sid, Long.MinValue), 0L)))
  }

  /** The clamp over (streamId, ts, value, arrival) rows grouped by
    * stream and each stream in processing order: every stream starts at
    * `start(streamId)` = (incoming frontier, first seq) — Long.MinValue
    * for no frontier — and each element gets the next seq and its
    * [[clampTs]]. The one body of [[prepare]], [[prepareRangeParallel]]
    * and the driver-side append of a local batch.
    */
  def clamp(rows: Iterator[(Long, Long, Double, Long)], start: Long => (Long, Long)): Iterator[Event] = {
    var curStream = Long.MinValue
    var lastTs = Long.MinValue
    var seq = 0L
    rows.map { case (streamId, ts, value, _) =>
      if (streamId != curStream) {
        curStream = streamId
        val (l0, s0) = start(streamId)
        lastTs = l0; seq = s0
      }
      lastTs = clampTs(lastTs, ts)
      val e = Event(streamId, seq, lastTs, value)
      seq += 1
      e
    }
  }

  /** The reference's repair rule: a timestamp before the frontier
    * `lastTs` (Long.MinValue: none yet) becomes `lastTs + 1`.
    */
  def clampTs(lastTs: Long, ts: Long): Long = if (lastTs != Long.MinValue && ts < lastTs) lastTs + 1 else ts

  /** As [[prepare]] (default ts-order mode), but parallel WITHIN a
    * stream: rows are globally range-sorted by (streamId, ts, arrival),
    * so one multi-TB stream spreads over many tasks instead of
    * serializing into one — the documented trade-off of [[prepare]],
    * closed.
    *
    * Exactness rests on a closed form for the clamp chain on sorted
    * input: given the incoming frontier L, bumped rows form a PREFIX —
    * row i (0-based within the stream-partition run) is bumped iff
    * ts_i < L + i, the first non-bumped row resets the chain to its own
    * ts, and (ts sorted) no later row can bump again. So a
    * stream-partition run is summarized by just
    * (m = #rows, maxDiff = max_i(ts_i - i), last = ts_{m-1}):
    *
    *   frontier out = if maxDiff < L then L + m  (all bumped)
    *                  else ts_{m-1}
    *
    * and the per-stream fold over partitions (tiny data: one row per
    * stream-partition pair) yields each run's starting (L, seq offset).
    * A second pass over the SAME partitioning replays the clamp from
    * each run's known start state. Both passes share one compiled RDD,
    * so the sampled range boundaries are fixed and pass 2 reads the
    * exchange's shuffle files rather than the source. Zero per-stream
    * driver state, identical output to [[prepare]].
    */
  def prepareRangeParallel(
      raw: DataFrame,
      streamCol: String = "streamId",
      tsCol: String = "ts",
      valueCol: String = "value",
      arrivalCol: String = "arrival",
      baseTs: Map[Long, Long] = Map.empty,
      numPartitions: Int = 0): Dataset[Event] = {
    val spark = raw.sparkSession
    import spark.implicits._
    val bcBase = spark.sparkContext.broadcast(baseTs)
    val parts =
      if (numPartitions > 0) numPartitions
      else spark.conf.get("spark.sql.shuffle.partitions", "200").toInt

    // Both passes run over the SAME compiled RDD object, so the range
    // partitioner (sampled once at plan compilation) and its shuffle
    // files are shared: pass 2 re-reads the exchange's shuffle output,
    // not the source, and only the in-partition sort recomputes. No
    // persist — nothing is pinned in the block store after the job.
    val sortedRdd = raw
      .select(
        col(streamCol).cast("long").as("streamId"),
        col(tsCol).cast("long").as("ts"),
        col(valueCol).cast("double").as("value"),
        col(arrivalCol).cast("long").as("arrival"))
      .repartitionByRange(parts, col("streamId"), col("ts"), col("arrival"))
      .sortWithinPartitions("streamId", "ts", "arrival")
      .as[(Long, Long, Double, Long)]
      .rdd
    // Range exchange may produce fewer partitions than requested on
    // tiny inputs — align the offset partitioner with reality.
    val actualParts = sortedRdd.getNumPartitions

    {
      // Pass 1: one summary row per (partition, stream) run, keyed by
      // stream: (sid -> (pid, m, maxDiff, lastTs)).
      val summaries = sortedRdd
        .mapPartitionsWithIndex { (pid, it) =>
          val acc = collection.mutable.LinkedHashMap.empty[Long, (Long, Long, Long)]
          it.foreach { case (sid, ts, _, _) =>
            val (m, maxDiff, _) = acc.getOrElse(sid, (0L, Long.MinValue, Long.MinValue))
            acc.update(sid, (m + 1, math.max(maxDiff, ts - m), ts))
          }
          acc.iterator.map { case (sid, (m, maxDiff, last)) => (sid, (pid, m, maxDiff, last)) }
        }
      // Per-stream fold over its partition runs (a stream spanning p
      // partitions has p summary rows — tiny), emitting each run's
      // incoming (frontier, seq offset) keyed by pid. Fully distributed:
      // no O(#streams) driver structure, no global broadcast.
      val runStarts = summaries.groupByKey().flatMap { case (sid, runsIt) =>
        val runs = runsIt.toArray.sortBy(_._1)
        var l = bcBase.value.getOrElse(sid, Long.MinValue)
        var off = 0L
        runs.map { case (pid, m, maxDiff, last) =>
          val out = (pid, (sid, l, off))
          // All-bumped run advances the chain by m; otherwise the chain
          // broke at some row and the frontier resets to the run's last
          // (sorted) timestamp, which is >= any incoming frontier.
          l = if (l != Long.MinValue && maxDiff < l) l + m else math.max(last, l)
          off += m
          out
        }
      }.partitionBy(new org.apache.spark.Partitioner {
        def numPartitions: Int = actualParts
        def getPartition(key: Any): Int = key.asInstanceOf[Int]
      })

      // Pass 2: same persisted partitioning; replay the sequential
      // clamp per run from its known start state.
      val out = sortedRdd.zipPartitions(runStarts) { (dataIt, startIt) =>
        clamp(dataIt, startIt.map { case (_, (sid, l, off)) => sid -> ((l, off)) }.toMap)
      }
      spark.createDataset(out)
    }
  }

  /** Testdata `events` table -> Event stream: streamId = user_id,
    * ts = event time in epoch micros, tiebreak on event_id.
    *
    * Testdata generations have written `ts` as parquet TIMESTAMP(NANOS)
    * (readable only via nanosAsLong, as a LongType of nanoseconds;
    * micros = floorDiv(ns, 1000)) or TIMESTAMP(MICROS) without the
    * UTC-adjusted flag (read as TIMESTAMP_NTZ). Both normalize to the
    * epoch micros DuckDB sees when it reads the same column naively —
    * the NTZ cast is epoch-preserving because the session timezone is
    * pinned to UTC.
    */
  def fromEventsTable(spark: SparkSession, sfDir: String): Dataset[Event] = {
    val df = eventsTableRaw(spark, sfDir)
    val raw = df.select(
      col("user_id").as("streamId"),
      col("ts_us").as("ts"),
      col("value"),
      col("event_id").as("arrival"))
    prepare(raw)
  }

  /** The raw testdata `events` frame with every original column plus
    * `ts_us` (event time in epoch micros, the same value DuckDB reads
    * naively) — for operators that need non-Event columns
    * (`event_type`, `props`) with normalized time.
    */
  def eventsTableRaw(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$sfDir/events.parquet")
    val tsMicros = df.schema("ts").dataType match {
      // Integral `div`, NOT floor(ts/1000): the double division loses
      // microsecond precision at epoch-nanos magnitude (ULP ~256 ns).
      case org.apache.spark.sql.types.LongType => expr("ts div 1000")
      case org.apache.spark.sql.types.TimestampNTZType =>
        unix_micros(col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => unix_micros(col("ts"))
    }
    df.withColumn("ts_us", tsMicros)
  }
}
