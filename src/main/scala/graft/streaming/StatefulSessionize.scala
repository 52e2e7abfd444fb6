package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
import scala.util.control.NonFatal

/** Custom streaming state: gap-based session assignment with
  * `flatMapGroupsWithState` over a `KeyValueGroupedDataset` — the
  * Structured Streaming shape for state the built-in windowed aggregations
  * can't express. Runs identically on a static Dataset (single mega-batch),
  * which is how the spec pins it against the window-based batch
  * sessionizer.
  */
object StatefulSessionize {

  /** One input event. */
  final case class EventIn(user_id: Long, ts_epoch: Long)

  /** Per-user running state: last event time + current session ordinal. */
  final case class SessionState(lastTs: Long, sessionId: Long)

  /** One output row per event: its assigned session. */
  final case class SessionUpdate(user_id: Long, session_id: Long, ts_epoch: Long)

  /** A timestamped input event for the watermark-closed variant. */
  final case class TsEvent(user_id: Long, ts: java.sql.Timestamp)

  /** One open session; [[closedSessions]] state holds a start-sorted list
    * of them, because within the watermark delay a LATE event may extend
    * an earlier session backward or open a brand-new earlier session —
    * single-session state silently merged such events into whatever
    * session happened to be open. */
  final case class OpenSession(start: Long, last: Long, n: Long)

  /** Per-key state wrapper (sorted by start, pairwise gap-separated). */
  final case class OpenSessions(sessions: Seq[OpenSession])

  /** A session emitted once it can no longer grow. */
  final case class ClosedSession(
      user_id: Long, start_epoch: Long, end_epoch: Long, n_events: Long)

  /** Watermark-closed sessionization: sessions are emitted exactly once,
    * when the event-time watermark passes `last + gap` — the only point
    * at which no surviving late event can extend the session on either
    * side (EventTimeTimeout arms at the earliest open close time).
    * Append output mode: safe for exactly-once sinks. This is the
    * production streaming shape; the Update-mode [[assign]] is the
    * batch-equivalent one.
    *
    * With `watermarkDelay` zero (the default), every surviving future
    * event is ≥ the running global max event time, so a session with a
    * later same-key session after it can provably never grow — those
    * emit EAGERLY and at most one session per key stays in state, the
    * ordered-stream memory profile. A non-zero delay admits cross-batch
    * disorder: state holds every not-yet-provably-closed session and
    * emission is purely watermark-driven. */
  def closedSessions(
      events: Dataset[TsEvent],
      gapSeconds: Long,
      watermarkDelay: String = "0 seconds"
  ): Dataset[ClosedSession] = {
    implicit val stateEnc = Encoders.product[OpenSessions]
    implicit val outEnc = Encoders.product[ClosedSession]
    implicit val longEnc = Encoders.scalaLong
    val zeroDelay =
      try {
        val iv = org.apache.spark.sql.catalyst.util.IntervalUtils
          .stringToInterval(
            org.apache.spark.unsafe.types.UTF8String.fromString(watermarkDelay))
        iv.months == 0 && iv.days == 0 && iv.microseconds == 0L
      } catch { case NonFatal(_) => false }

    // start-sorted sessions, pairwise further than gap apart; an event is
    // a singleton session and one normalize pass merges every chain whose
    // neighbors are within gap (an event t joins session s exactly when
    // t ∈ [start - gap, last + gap], including bridging two sessions)
    def normalize(ss: Seq[OpenSession]): List[OpenSession] =
      ss.sortBy(s => (s.start, s.last)).foldLeft(List.empty[OpenSession]) {
        case (acc @ (cur :: rest), nxt) if nxt.start - cur.last <= gapSeconds =>
          OpenSession(cur.start, math.max(cur.last, nxt.last), cur.n + nxt.n) :: rest
        case (acc, nxt) => nxt :: acc
      }.reverse

    // a session is sealed only when the watermark passes the END of its
    // last reachable second: an event flooring to second `last + gap`
    // can carry any millisecond up to (last+gap)*1000+999, so closing at
    // (last+gap)*1000+1 emitted up to 998 ms early and a surviving
    // sub-second event could re-open (and re-emit) the session
    def wmClosed(s: OpenSession, wmMs: Long): Boolean =
      (s.last + gapSeconds + 1) * 1000 <= wmMs

    def emitAndKeep(
        uid: Long,
        sessions: List[OpenSession],
        wmMs: Long,
        eagerTail: Boolean,
        state: org.apache.spark.sql.streaming.GroupState[OpenSessions]
    ): Iterator[ClosedSession] = {
      val lastIdx = sessions.size - 1
      val (closed, open) = sessions.zipWithIndex.partition { case (s, i) =>
        wmClosed(s, wmMs) || (eagerTail && i < lastIdx)
      }
      if (open.isEmpty) state.remove()
      else {
        state.update(OpenSessions(open.map(_._1)))
        // EventTimeTimeout fires when wm exceeds the armed value: arm one
        // ms under each earliest seal point so the timeout lands exactly
        // when wmClosed first holds
        state.setTimeoutTimestamp(math.max(wmMs + 1,
          open.map { case (s, _) => (s.last + gapSeconds + 1) * 1000 - 1 }.min))
      }
      closed.map { case (s, _) => ClosedSession(uid, s.start, s.last, s.n) }
        .iterator
    }

    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, evs: Iterator[TsEvent],
         state: org.apache.spark.sql.streaming.GroupState[OpenSessions]) =>
          val wmMs = state.getCurrentWatermarkMs()
          if (state.hasTimedOut)
            emitAndKeep(uid, state.get.sessions.toList, wmMs,
              eagerTail = false, state)
          else {
            val incoming = evs.map(e =>
              OpenSession(math.floorDiv(e.ts.getTime, 1000),
                math.floorDiv(e.ts.getTime, 1000), 1)).toSeq
            val merged = normalize(
              state.getOption.map(_.sessions).getOrElse(Nil) ++ incoming)
            emitAndKeep(uid, merged, wmMs, eagerTail = zeroDelay, state)
          }
      }
  }

  /** Assign gap-based session ids statefully. Within a batch, events are
    * time-ordered per key before state advances (cross-batch order is the
    * stream's arrival order, as with any state op without event-time
    * buffering). */
  def assign(
      events: Dataset[EventIn],
      gapSeconds: Long
  ): Dataset[SessionUpdate] = {
    implicit val stateEnc = Encoders.product[SessionState]
    implicit val outEnc = Encoders.product[SessionUpdate]
    implicit val longEnc = Encoders.scalaLong
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[EventIn],
         state: org.apache.spark.sql.streaming.GroupState[SessionState]) =>
          val sorted = evs.toSeq.sortBy(_.ts_epoch)
          var (last, sid) = state.getOption
            .map(s => (s.lastTs, s.sessionId))
            .getOrElse((Long.MinValue, 0L))
          val out = sorted.map { e =>
            if (last == Long.MinValue || e.ts_epoch - last > gapSeconds) sid += 1
            last = e.ts_epoch
            SessionUpdate(uid, sid, e.ts_epoch)
          }
          if (sorted.nonEmpty) state.update(SessionState(last, sid))
          out.iterator
      }
  }
}
