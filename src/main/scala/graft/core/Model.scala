package graft.core

import graft.sources.TinyParquet
import graft.windowing.{ExponentialWindowing, PowerWindowing, WindowingSpec}
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.types.StructType

/** Raw ingest element (reference `core/stream.go:104`: `(ts, value)`
  * appended to a stream). `seq` is the 0-based element rank within the
  * stream — the reference's `numElements` counter
  * (`/root/reference/core/pipeline.go:98`).
  */
final case class Event(streamId: Long, seq: Long, ts: Long, value: Double)

/** A decayed summary window (reference `core/summary_window.go:13-19` +
  * `core/data.go:5-21`): count span [cs, ce], time span [ts, te], and
  * the monoid aggregate state. `max` is -Double.MaxValue when empty,
  * matching the reference's init.
  */
final case class SummaryWindow(
    streamId: Long,
    ts: Long,
    te: Long,
    cs: Long,
    ce: Long,
    count: Double,
    sum: Double,
    max: Double,
    min: Double)

object SummaryWindow {
  /** Reference init: `core/data.go:15-21`. */
  val EmptyMax: Double = -Double.MaxValue
  val EmptyMin: Double = Double.MaxValue

  /** The monoid merge of two windows of one stream: the driver twin of
    * the scalar kind's `mergeAggs` ([[Summarizer.Kind]]).
    */
  def merge(a: SummaryWindow, b: SummaryWindow): SummaryWindow =
    SummaryWindow(a.streamId, math.min(a.ts, b.ts), math.max(a.te, b.te), math.min(a.cs, b.cs),
      math.max(a.ce, b.ce), a.count + b.count, a.sum + b.sum, math.max(a.max, b.max), math.min(a.min, b.min))
}

/** One exact element inside a landmark window. */
final case class Landmark(ts: Long, value: Double)

/** An exact (non-decayed) window (reference `core/landmark_window.go:5-14`).
  * DRIVER-SIDE VIEW ONLY: one value holding every element of the window.
  * The persisted/query layout is [[LandmarkSpan]] + [[LandmarkElem]]
  * rows — a landmark left open across a billion-event stretch must not
  * materialize one multi-GB array value (Spark's ~2 GB single-value
  * ceiling); the reference stores elements verbatim but its LAYOUT is
  * ours to choose (SURVEY §1.5 "exact elements kept as rows").
  */
final case class LandmarkWindow(streamId: Long, ts: Long, te: Long, elems: Seq[Landmark])

/** A landmark window's declared span — one bounded row per declared
  * interval per stream (`windowId` = the interval's index, the join key
  * to its [[LandmarkElem]] rows). [ts, te] is the DECLARED interval,
  * as the reference stamps (`core/landmark_window.go:16-26`).
  */
final case class LandmarkSpan(streamId: Long, windowId: Long, ts: Long, te: Long)

/** One exact landmark element as a ROW keyed by (streamId, windowId) —
  * the scale-safe persisted layout: constant row width no matter how
  * long a landmark stays open.
  */
final case class LandmarkElem(streamId: Long, windowId: Long, ts: Long, value: Double)

/** Query-time digest of one landmark window restricted to [t0, t1] —
  * the ONLY landmark state the estimator consumes: the declared span
  * (for edge-window length/overlap subtraction) and the in-range
  * element aggregates (exact count/sum/max/min contribution). Computed
  * distributively from [[LandmarkElem]] rows; O(#intervals) digests
  * flow to the estimator instead of O(#elements) values.
  */
final case class LandmarkDigest(
    streamId: Long,
    ts: Long,
    te: Long,
    cnt: Long,
    sum: Double,
    vmax: Double,
    vmin: Double)

object LandmarkDigest {
  /** Fold span rows and their element rows into one digest per span:
    * the span's declared [ts, te] with the count/sum/max/min of its
    * elements (matched on (streamId, windowId)) inside [t0, t1]. The
    * one driver-side fold: the driver walk of point and tiny fleet
    * queries ([[QueryEngine.walk]]) and [[of]] both use it;
    * [[QueryEngine.landmarkDigests]] is its distributed twin. Spans are
    * kept whether or not they overlap [t0, t1].
    */
  def fold(spans: Seq[LandmarkSpan], elems: Seq[LandmarkElem], t0: Long, t1: Long): Seq[LandmarkDigest] = {
    val byWindow = elems.groupBy(e => (e.streamId, e.windowId))
    spans.map { sp =>
      var cnt = 0L; var sum = 0.0
      var vmax = SummaryWindow.EmptyMax; var vmin = SummaryWindow.EmptyMin
      byWindow.getOrElse((sp.streamId, sp.windowId), Nil).foreach { e =>
        if (t0 <= e.ts && e.ts <= t1) {
          cnt += 1; sum += e.value
          if (e.value > vmax) vmax = e.value
          if (e.value < vmin) vmin = e.value
        }
      }
      LandmarkDigest(sp.streamId, sp.ts, sp.te, cnt, sum, vmax, vmin)
    }
  }

  /** Digest a driver-side [[LandmarkWindow]] in memory: the reference
    * that tests compare the distributed digests against. */
  def of(lw: LandmarkWindow, t0: Long, t1: Long): LandmarkDigest =
    fold(Seq(LandmarkSpan(lw.streamId, 0L, lw.ts, lw.te)),
      lw.elems.map(e => LandmarkElem(lw.streamId, 0L, e.ts, e.value)), t0, t1).head
}

/** One of the three flat stream tables read as typed rows on the
  * driver, over its decoded [[TinyParquet.Columns]]: `lo` is the column
  * a range's t0 bounds below (`te` for windows and spans, whose time
  * spans must overlap the range; `ts` for elements).
  */
private[graft] final class StreamTable[T] private (val schema: StructType, lo: String,
    row: TinyParquet.Columns => Int => T) {

  /** The rows of `c` of the streams `sids` with `lo >= t0` and
    * `ts <= t1`, in column order. The predicate runs on the arrays, so
    * no other row is built.
    */
  def rows(c: TinyParquet.Columns, sids: Long => Boolean = _ => true,
      t0: Long = Long.MinValue, t1: Long = Long.MaxValue): Vector[T] = {
    val (sid, from, ts, at) = (c.long("streamId"), c.long(lo), c.long("ts"), row(c))
    (0 until c.size).iterator.filter(i => sids(sid(i)) && from(i) >= t0 && ts(i) <= t1).map(at).toVector
  }
}

private[graft] object StreamTable {
  val Windows = new StreamTable[SummaryWindow](Encoders.product[SummaryWindow].schema, "te", { c =>
    val Seq(sid, ts, te, cs, ce) = Seq("streamId", "ts", "te", "cs", "ce").map(c.long)
    val Seq(n, sum, max, min) = Seq("count", "sum", "max", "min").map(c.double)
    i => SummaryWindow(sid(i), ts(i), te(i), cs(i), ce(i), n(i), sum(i), max(i), min(i))
  })
  val Spans = new StreamTable[LandmarkSpan](Encoders.product[LandmarkSpan].schema, "te", { c =>
    val Seq(sid, w, ts, te) = Seq("streamId", "windowId", "ts", "te").map(c.long)
    i => LandmarkSpan(sid(i), w(i), ts(i), te(i))
  })
  val Elems = new StreamTable[LandmarkElem](Encoders.product[LandmarkElem].schema, "ts", { c =>
    val Seq(sid, w, ts) = Seq("streamId", "windowId", "ts").map(c.long)
    val v = c.double("value")
    i => LandmarkElem(sid(i), w(i), ts(i), v(i))
  })
}

/** Query parameters (reference `core/op.go:5-8`). */
final case class QueryParams(confidenceLevel: Double = 0.95, sdMultiplier: Double = 1.0)

/** Query result: estimate + error = CI width (reference `core/op.go:10-13`). */
final case class AggResult(value: Double, error: Double)

/** Per-stream catalog row: which operators and which decay policy a
  * stream was declared with (reference `protos/summarydb.capnp:47-54`).
  */
final case class StreamMeta(
    streamId: Long,
    operators: Seq[String],
    windowKind: String, // "exp" | "power"
    base: Double,
    p: Long,
    q: Long,
    r: Long,
    s: Long) {
  def spec: WindowingSpec = windowKind match {
    case "exp"   => ExponentialWindowing(base)
    case "power" => PowerWindowing(p, q, r, s)
    case other   => throw new IllegalArgumentException(s"unknown windowing kind: $other")
  }
}

object StreamMeta {
  def exponential(streamId: Long, base: Double, operators: Seq[String] = Seq("count", "sum", "max", "min")): StreamMeta =
    StreamMeta(streamId, operators, "exp", base, 0, 0, 0, 0)
  def power(streamId: Long, p: Long, q: Long, r: Long, s: Long, operators: Seq[String] = Seq("count", "sum", "max", "min")): StreamMeta =
    StreamMeta(streamId, operators, "power", 0.0, p, q, r, s)
}
