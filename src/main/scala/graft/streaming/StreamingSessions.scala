package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** One event of the streaming sessionizer input (mirrors the events table). */
final case class SessionEvent(user_id: Long, event_id: Long, ts: Timestamp)

/** Per-user state: the user's not-yet-finalized events. */
final case class BufEvent(ts: Long, id: Long)
final case class SessionBuf(events: Seq[BufEvent])

/** A closed session, emitted once (Append mode). */
final case class ClosedSession(user_id: Long, session_start: Timestamp,
    session_end: Timestamp, n_events: Long)

/** Gap-based streaming sessionization with CUSTOM state
  * (`flatMapGroupsWithState`) — the streaming twin of the batch
  * q13_sessionize window query, and the stateful-operator surface the
  * engine exposes beyond `dropDuplicatesWithinWatermark`. */
object StreamingSessions {

  /** EXACT batch-q13 semantics under out-of-order, cross-batch arrival:
    * events are BUFFERED in state and a session is emitted only once the
    * watermark passes `last + gap` — the point after which no allowed event
    * (ts >= watermark) can extend it, land in the gap after it, or merge it
    * with a later session. A late-but-allowed event that arrives after a
    * later event has crossed the gap still lands in the buffer, and
    * sessionization is recomputed from the full surviving event set.
    *
    * The cost: emission latency is one watermark delay + gap, and state
    * holds every event inside the (gap + lateness) horizon per user —
    * bounded by construction, keyed on the well-distributed user_id; idle
    * users are evicted by event-time timeout. Below-watermark events are
    * dropped (the lateness contract the watermark declares). */
  def sessionizeBuffered(events: Dataset[SessionEvent], gapMinutes: Int = 30,
      watermark: String = "10 minutes"): Dataset[ClosedSession] = {
    val gapMs = gapMinutes * 60000L
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, evs: Iterator[SessionEvent], state: GroupState[SessionBuf]) =>
          val wm = state.getCurrentWatermarkMs()
          val prior = state.getOption.map(_.events).getOrElse(Seq.empty)
          val incoming =
            if (state.hasTimedOut) Seq.empty
            else evs.filter(_.ts.getTime >= wm)
              .map(e => BufEvent(e.ts.getTime, e.event_id)).toSeq
          val all = (prior ++ incoming).sortBy(e => (e.ts, e.id))
          // split the buffer into gap-delimited sessions
          val sessions = scala.collection.mutable.ArrayBuffer.empty[Seq[BufEvent]]
          var cur = scala.collection.mutable.ArrayBuffer.empty[BufEvent]
          all.foreach { e =>
            if (cur.nonEmpty && e.ts - cur.last.ts > gapMs) {
              sessions += cur.toSeq
              cur = scala.collection.mutable.ArrayBuffer.empty[BufEvent]
            }
            cur += e
          }
          if (cur.nonEmpty) sessions += cur.toSeq
          // a session is FINAL once wm > last + gap (STRICT): the filter
          // above accepts ts == wm, and at ts == last + gap the batch split
          // rule (strictly > gap) would EXTEND the session — so at
          // wm == last + gap a boundary event could still merge and the
          // session must stay open. (Spark 4.1's flatMapGroupsWithState
          // happens to drop ts <= watermark rows upstream — instrumented in
          // StreamingSpec — which makes the boundary unreachable today; the
          // strict form stays correct under either late-row convention
          // instead of leaning on that engine detail.)
          val (finalized, open) = sessions.partition(_.last.ts + gapMs < wm)
          if (open.isEmpty) state.remove()
          else {
            state.update(SessionBuf(open.flatten.toSeq))
            // wake at the earliest future finalization horizon
            state.setTimeoutTimestamp(
              math.max(open.map(_.last.ts).min + gapMs, wm + 1))
          }
          finalized.iterator.map(s => ClosedSession(user,
            new Timestamp(s.head.ts), new Timestamp(s.last.ts), s.length))
      }
  }
}
