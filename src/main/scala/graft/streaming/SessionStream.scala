package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Stateful Structured Streaming: per-user sessionization with
  * `mapGroupsWithState` — the custom-state API the windowed aggregates
  * can't express (session identity depends on the gap to the previous
  * event, not on a fixed window grid).
  *
  * State per user carries (last event ns, open session count, event
  * count); each micro-batch folds its group's events in event-time order
  * into that state and emits the updated snapshot (Update mode).
  */
object SessionStream {
  final case class EventIn(user_id: Long, ts: Long, event_id: Long)
  final case class SessionState(lastTs: Long, nSessions: Long, nEvents: Long)
  final case class SessionSnapshot(
      user_id: Long,
      n_sessions: Long,
      n_events: Long,
      last_event_at: java.sql.Timestamp,
  )

  private def updateState(gapNs: Long)(
      userId: Long,
      events: Iterator[EventIn],
      state: GroupState[SessionState],
  ): SessionSnapshot = {
    val sorted = events.toSeq.sortBy(e => (e.ts, e.event_id))
    var s = state.getOption.getOrElse(SessionState(Long.MinValue, 0L, 0L))
    for (e <- sorted) {
      val isNew = s.lastTs == Long.MinValue || e.ts - s.lastTs > gapNs
      s = SessionState(e.ts, s.nSessions + (if (isNew) 1 else 0), s.nEvents + 1)
    }
    state.update(s)
    SessionSnapshot(userId, s.nSessions, s.nEvents,
      new java.sql.Timestamp(s.lastTs / 1000000L))
  }

  final case class OpenSession(startTs: Long, lastTs: Long, n: Long)
  final case class ClosedSession(
      user_id: Long,
      session_start_ms: Long,
      session_end_ms: Long,
      n_events: Long,
  )

  /** flatMapGroupsWithState fold: emit every session CLOSED by a
    * later event (gap exceeded); the still-open tail session stays in
    * state and is never emitted — multi-row Append-mode emission, the
    * stateful shape `mapGroupsWithState`'s one-row-per-group can't
    * express. Timestamps leave as epoch millis (exact integers on both
    * engines; the oracle floors the same nanos the same way).
    */
  private def emitClosed(gapNs: Long)(
      userId: Long,
      events: Iterator[EventIn],
      state: GroupState[OpenSession],
  ): Iterator[ClosedSession] = {
    val sorted = events.toSeq.sortBy(e => (e.ts, e.event_id))
    var open = state.getOption
    val out = List.newBuilder[ClosedSession]
    for (e <- sorted) {
      open match {
        case Some(o) if e.ts - o.lastTs > gapNs =>
          out += ClosedSession(userId, o.startTs / 1000000L, o.lastTs / 1000000L, o.n)
          open = Some(OpenSession(e.ts, e.ts, 1L))
        case Some(o) =>
          open = Some(o.copy(lastTs = e.ts, n = o.n + 1L))
        case None =>
          open = Some(OpenSession(e.ts, e.ts, 1L))
      }
    }
    open.foreach(state.update)
    out.result().iterator
  }

  /** `$dir/events.parquet` as a stream of [[EventIn]]. */
  private def eventStream(spark: SparkSession, dir: String): Dataset[EventIn] = {
    import spark.implicits._
    graft.Tables.normalizeEventTs(StreamRun.parquetSource(spark, dir, "events.parquet"))
      .select(col("user_id"), col("ts"), col("event_id"))
      .as[EventIn]
  }

  /** Stream `$dir/events.parquet` and return every closed session
    * (per-user, gap-split). The open tail session per user is state, not
    * output — exactly what an unbounded deployment would see.
    */
  def closedSessions(
      spark: SparkSession,
      dir: String,
      gapSeconds: Long = 1800,
  ): DataFrame = {
    import spark.implicits._
    val closed = eventStream(spark, dir)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        emitClosed(gapSeconds * 1000000000L))

    StreamRun.toMemorySnapshot(closed.toDF(), "append", "closed_sessions")
      .orderBy("user_id", "session_start_ms")
  }

  /** Run sessionization over `$dir/events.parquet` as a stream; returns
    * the final per-user snapshot table.
    */
  def userSessions(
      spark: SparkSession,
      dir: String,
      gapSeconds: Long = 1800,
  ): DataFrame = {
    import spark.implicits._
    val snapshots = eventStream(spark, dir)
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout())(
        updateState(gapSeconds * 1000000000L))

    StreamRun.toMemorySnapshot(snapshots.toDF(), "update", "user_sessions")
      .orderBy("user_id")
  }
}
