package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Stateful sessionization over an event stream — the custom-state
  * streaming operator surface (`flatMapGroupsWithState`) the charter
  * calls for beyond the reference's strictly batch model (SURVEY §1.6).
  *
  * Events are grouped by user; a session closes when `gapMs` elapses
  * with no new events (event-time timeout driven by the watermark).
  * State per user is one [[SessionState]] — bounded, expired by
  * timeout, never an unbounded buffer. At scale the only shuffle is the
  * groupByKey on user_id.
  */
object Sessionize {

  final case class Event(user_id: Long, ts: Timestamp, event_type: String)

  final case class SessionState(start: Long, end: Long, nEvents: Long)

  /** One closed session. */
  final case class Session(user_id: Long, start: Timestamp, end: Timestamp,
      n_events: Long, duration_sec: Double)

  def sessions(
      events: Dataset[Event],
      gapMs: Long = 30 * 60 * 1000L,
      watermarkDelay: String = "10 minutes"): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._

    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (userId, rows, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // gap elapsed: close and emit the session
            val s = state.get
            state.remove()
            Iterator(Session(userId, new Timestamp(s.start), new Timestamp(s.end),
              s.nEvents, (s.end - s.start) / 1000.0))
          } else {
            // fold the batch (sorted by event time) into the running
            // session: events within the gap extend it; a gap inside the
            // batch closes it and starts the next
            val sorted = rows.map(_.ts.getTime).toSeq.sorted
            val out = Seq.newBuilder[Session]
            var cur = state.getOption.orNull
            sorted.foreach { t =>
              cur match {
                case null => cur = SessionState(t, t, 1)
                case s if t - s.end > gapMs =>
                  out += Session(userId, new Timestamp(s.start), new Timestamp(s.end),
                    s.nEvents, (s.end - s.start) / 1000.0)
                  cur = SessionState(t, t, 1)
                case s =>
                  cur = SessionState(math.min(s.start, t), math.max(s.end, t), s.nEvents + 1)
              }
            }
            state.update(cur)
            state.setTimeoutTimestamp(cur.end + gapMs)
            out.result().iterator
          }
      }
  }
}
