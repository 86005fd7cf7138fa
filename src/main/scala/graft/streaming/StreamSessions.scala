package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming gap-sessionization with `flatMapGroupsWithState` +
  * EventTimeTimeout — the TENTH streaming shape, and the one that gates
  * the last major structured-streaming state API the engine uses:
  * arbitrary per-key state with event-time timeouts (q92-q96/q105/q116/
  * q143 cover stream-static joins, windowed aggs, dedup state, sketch
  * registers, stream-stream joins and view maintenance; none exercise
  * GroupState timeouts).
  *
  * Semantics ≡ batch q102 ([[graft.queries.AnalyticsQueries.q102Sessionize]]):
  * a session is a maximal run of a user's events with gaps ≤ `gapSec`;
  * sessions are numbered 1.. per user in time order; value sums ride the
  * batch pipeline's floor(v·10⁶ + ½) integer quantization. A session is
  * emitted when the NEXT event of the same user closes it, or — for each
  * user's final open session — when the event-time watermark passes its
  * end + gap (the EventTimeTimeout path; the in-process gate raises the
  * watermark with a far-future sentinel whose own session times out past
  * the final watermark and is therefore never emitted, same trick as the
  * q93 window flush).
  *
  * Ordering contract: per-user event order must be non-decreasing across
  * micro-batches (the gate feeds globally sorted slices; a production
  * deployment gets this from per-key ordered sources or a watermark-wide
  * sort); within a micro-batch the iterator is explicitly sorted by
  * (ts, event_id) — micro-batch iterators carry no order guarantee.
  *
  * 100 TB shape: state per key is ONE open session (5 longs), not the
  * event history; emission is incremental; the state store scales with
  * active users, not stream length.
  */
object StreamSessions {

  case class Event(ts: java.sql.Timestamp, userId: Long, eventId: Long,
                   value: Double)

  /** Open-session state: epoch-µs bounds, event count, quantized sum,
    * 1-based session index. */
  case class Open(startUs: Long, endUs: Long, n: Long, sum6: Long,
                  idx: Long)

  /** Per-user state: the open session (if any) plus the NEXT session
    * index. The counter must survive a session's timeout-flush — a
    * removed state would restart numbering at 1 when the user's next
    * event arrives (observed: 2615/5725 rows with wrong session_idx
    * before the fix). The lingering counter-only state is the inherent
    * cost of lifetime-unique numbering per key: a few longs per user,
    * exactly what a production deployment would keep. */
  case class SessState(open: Option[Open], nextIdx: Long)

  case class Closed(userId: Long, sessionIdx: Long, nEvents: Long,
                    startUs: Long, endUs: Long, sum6: Long)

  @inline private def micros(ts: java.sql.Timestamp): Long =
    ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L

  @inline private def q6(v: Double): Long =
    math.floor(v * 1e6 + 0.5).toLong

  def sessions(events: Dataset[Event], gapSec: Long): Dataset[Closed] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapSec * 1000000L
    def fn(userId: Long, it: Iterator[Event],
           state: GroupState[SessState]): Iterator[Closed] = {
      if (state.hasTimedOut) {
        val st = state.get
        // keep the counter (no new timeout): numbering must survive the
        // flush; the counter-only state is a few longs per user
        state.update(SessState(None, st.nextIdx))
        st.open.iterator.map(s =>
          Closed(userId, s.idx, s.n, s.startUs, s.endUs, s.sum6))
      } else {
        val evs = it.toIndexedSeq.sortBy(e => (micros(e.ts), e.eventId))
        var closed = List.empty[Closed]
        val st0 = state.getOption.getOrElse(SessState(None, 1L))
        var cur = st0.open
        var nextIdx = st0.nextIdx
        evs.foreach { e =>
          val us = micros(e.ts)
          cur match {
            case Some(s) if us - s.endUs <= gapUs =>
              cur = Some(s.copy(endUs = us, n = s.n + 1,
                sum6 = s.sum6 + q6(e.value)))
            case Some(s) =>
              closed ::= Closed(userId, s.idx, s.n, s.startUs, s.endUs,
                s.sum6)
              cur = Some(Open(us, us, 1L, q6(e.value), s.idx + 1))
              nextIdx = s.idx + 2
            case None =>
              cur = Some(Open(us, us, 1L, q6(e.value), nextIdx))
              nextIdx += 1
          }
        }
        state.update(SessState(cur, nextIdx))
        // fire once the watermark passes the open session's close boundary
        cur.foreach(s =>
          state.setTimeoutTimestamp(s.endUs / 1000L + gapSec * 1000L))
        closed.reverse.iterator
      }
    }
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fn)
  }
}
