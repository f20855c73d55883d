package graft.streaming

import graft.core.{Event, Ingest}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Per-stream monotonic-timestamp repair with persistent state — the
  * reference's append-time clamp (`/root/reference/core/pipeline.go:80-95`):
  * an out-of-order timestamp is rewritten to lastTimestamp + 1, arrival
  * order is preserved, never re-sorted. State (last timestamp + next
  * element rank) lives in the streaming state store and survives
  * restarts via the checkpoint.
  *
  * This is the reference-faithful semantics for out-of-order input;
  * the batch path (`Ingest.prepare`) instead sorts by timestamp, which
  * agrees with this operator only for in-order data (ADVICE r1).
  */
object StatefulClamp {

  /** `arrival` is the caller-supplied arrival order within the batch:
    * Spark does NOT guarantee the within-group iterator follows source
    * order for multi-partition sources, so the operator sorts each
    * group by it before clamping — making the result deterministic.
    */
  final case class Raw(streamId: Long, ts: Long, value: Double, arrival: Long = 0L)
  final case class ClampState(lastTs: Long, nextSeq: Long)

  /** raw (streamId, ts, value, arrival) stream -> clamped, ranked
    * Event stream.
    */
  def apply(raw: Dataset[Raw]): Dataset[Event] = {
    val spark = raw.sparkSession
    import spark.implicits._
    raw
      .groupByKey(_.streamId)
      .flatMapGroupsWithState[ClampState, Event](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (sid: Long, it: Iterator[Raw], state: GroupState[ClampState]) =>
          var st = state.getOption.getOrElse(ClampState(Long.MinValue, 0L))
          val out = Vector.newBuilder[Event]
          it.toArray.sortBy(_.arrival).foreach { r =>
            val clamped = Ingest.clampTs(st.lastTs, r.ts)
            out += Event(sid, st.nextSeq, clamped, r.value)
            st = ClampState(math.max(clamped, st.lastTs), st.nextSeq + 1)
          }
          state.update(st)
          out.result().iterator
      }
  }
}
