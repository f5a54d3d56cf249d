package graft.streaming

import graft.streaming.Pipeline.{Event, Session}
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** Sessionization on the Spark 4 `transformWithState` arbitrary-state API
  * (the successor to flatMapGroupsWithState; Pipeline.sessionize keeps the
  * classic formulation on the default state store — both are part of the
  * engine's stateful surface, and both run the one gap fold,
  * `Pipeline.foldSessions`).
  *
  * State: one open [[Session]] per user in a typed ValueState backed by the
  * RocksDB state store. An event extends the open session when it arrives
  * within the gap of its end, else the open session is emitted and a new
  * one starts. An event-time timer closes sessions that go idle past the
  * gap; timers registered for superseded session ends are ignored via the
  * expiry-vs-current-end guard.
  */
class SessionProcessor(gapUs: Long) extends StatefulProcessor[Long, Event, Session] {

  @transient private var session: ValueState[Session] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    session = getHandle.getValueState[Session](
      "session", Encoders.product[Session], TTLConfig.NONE)

  override def handleInputRows(
      user: Long, rows: Iterator[Event], timers: TimerValues): Iterator[Session] = {
    val (closed, open) = Pipeline.foldSessions(
      user, if (session.exists()) Option(session.get()) else None, rows, gapUs)
    open.foreach { s =>
      session.update(s)
      getHandle.registerTimer(s.endUs / 1000L + gapUs / 1000L)
    }
    closed.iterator
  }

  override def handleExpiredTimer(
      user: Long, timers: TimerValues, info: ExpiredTimerInfo): Iterator[Session] =
    if (session.exists()) {
      val s = session.get()
      if (info.getExpiryTimeInMs() >= s.endUs / 1000L + gapUs / 1000L) {
        session.clear()
        Iterator.single(s)
      } else Iterator.empty // stale timer from a since-extended session
    } else Iterator.empty
}
