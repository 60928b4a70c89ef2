package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** Event-time TIMERS (state-v2 `transformWithState`, Spark 4): sessions
  * that close by TIMEOUT, not only when a later event proves the gap.
  *
  * `flatMapGroupsWithState` (SessionStream) can only emit a closed
  * session when a subsequent event for the same user arrives — each
  * user's final session sits in state forever. The production shape
  * registers an event-time timer at `last_event + gap`; when the
  * WATERMARK passes that instant the engine calls `handleExpiredTimer`
  * and the session closes with no further input. That is how an
  * unbounded deployment bounds its state: every open session carries an
  * expiry, state is freed at the timer, and the emission is driven by
  * watermark progress — exactly the eviction discipline a 100 TB/day
  * stream needs.
  *
  * Two emission paths, one relation:
  *  - in-batch gap closure (a later event arrived): emitted from
  *    `handleInputRows`, like the flatMapGroupsWithState twin;
  *  - timeout closure: emitted from `handleExpiredTimer` during the
  *    no-data watermark batch (the drive opts back into it).
  *
  * The batch oracle is deterministic: gap-split sessions per user; a
  * session is emitted iff a later event closed it OR its
  * `end + gap <= max(event_time)` (watermark delay 0).
  */
object TimerSessions {
  // state in NANOS so gap splits are bit-identical to the batch/st9
  // sessionizers; only the timer itself lives in ms (the engine's unit)
  final case class OpenSess(startNs: Long, lastNs: Long, n: Long)
  final case class Closed(
      user_id: Long,
      session_start_ms: Long,
      session_end_ms: Long,
      n_events: Long,
      closed_by: String,
  )

  /** Per-user sessionizer with a timeout timer. State: the open session
    * plus its registered expiry (kept so the timer can be re-registered
    * when later events extend the session).
    */
  class TimeoutProcessor(gapNs: Long)
      extends StatefulProcessor[Long, SessionStream.EventIn, Closed] {
    @transient private var open: ValueState[OpenSess] = _
    @transient private var timerMs: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      open = getHandle.getValueState[OpenSess](
        "open", Encoders.product[OpenSess], TTLConfig.NONE)
      timerMs = getHandle.getValueState[Long](
        "timer_ms", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(
        key: Long,
        rows: Iterator[SessionStream.EventIn],
        timerValues: TimerValues): Iterator[Closed] = {
      val sorted = rows.toSeq.sortBy(e => (e.ts, e.event_id))
      val out = List.newBuilder[Closed]
      var cur = if (open.exists()) Option(open.get()) else None
      for (e <- sorted) {
        cur match {
          case Some(o) if e.ts - o.lastNs > gapNs =>
            out += Closed(key, o.startNs / 1000000L, o.lastNs / 1000000L, o.n, "gap")
            cur = Some(OpenSess(e.ts, e.ts, 1L))
          case Some(o) =>
            cur = Some(o.copy(lastNs = e.ts, n = o.n + 1L))
          case None =>
            cur = Some(OpenSess(e.ts, e.ts, 1L))
        }
      }
      cur.foreach { o =>
        open.update(o)
        // re-arm the timeout at the (possibly extended) session end;
        // ceil to ms so the timer can never fire BEFORE the gap elapses
        if (timerMs.exists()) getHandle.deleteTimer(timerMs.get())
        val expiry = (o.lastNs + gapNs + 999999L) / 1000000L
        getHandle.registerTimer(expiry)
        timerMs.update(expiry)
      }
      out.result().iterator
    }

    override def handleExpiredTimer(
        key: Long,
        timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[Closed] = {
      if (open.exists()) {
        val o = open.get()
        // only the CURRENT session's timer closes it (a stale timer for
        // an already-extended session was deleted, but guard anyway)
        val expiry = (o.lastNs + gapNs + 999999L) / 1000000L
        if (expiry == expiredTimerInfo.getExpiryTimeInMs) {
          open.clear()
          timerMs.clear()
          Iterator.single(
            Closed(key, o.startNs / 1000000L, o.lastNs / 1000000L, o.n, "timeout"))
        } else Iterator.empty
      } else Iterator.empty
    }
  }

  /** Stream `$dir/events.parquet`; emit every session closed by gap OR
    * by event-time timeout (watermark delay 0 — at end of input the
    * watermark is max(ts_sec), so any session idle ≥ gap closes).
    */
  def closedByTimeout(
      spark: SparkSession,
      dir: String,
      gapSeconds: Long = 1800,
  ): DataFrame = {
    import spark.implicits._
    val events: Dataset[SessionStream.EventIn] = graft.Tables.withTsSec(
      StreamRun.parquetSource(spark, dir, "events.parquet"))
      .withWatermark("ts_sec", "0 seconds")
      .select(col("user_id"), col("ts"), col("event_id"))
      .as[SessionStream.EventIn]

    val closed = events
      .groupByKey(_.user_id)
      .transformWithState(
        new TimeoutProcessor(gapSeconds * 1000000000L),
        TimeMode.EventTime(), OutputMode.Update(),
        Encoders.product[Closed])

    StreamRun.toMemorySnapshot(closed.toDF(), "update", "timer_sessions",
        needsNoDataBatch = true, conf = Seq(StreamRun.RocksDbStateStore))
      .orderBy("user_id", "session_start_ms")
  }
}
