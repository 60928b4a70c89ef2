package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch sessionization over the events table: a session is a maximal run
  * of a user's events with gaps < `gapSeconds`. Classic lag/cumsum window
  * construction — one shuffle by user_id, then linear per-partition work.
  *
  * Ordering uses the raw nanosecond `ts` long (plus event_id as a
  * tiebreak) so session boundaries are deterministic even where
  * second-truncated timestamps collide.
  */
object Sessionize {

  def sessions(events: DataFrame, gapSeconds: Long = 1800): DataFrame =
    withSessionIdx(events, gapSeconds)
      .groupBy(col("user_id"), col("session_idx"))
      .agg(
        count(lit(1)).as("n_events"),
        expr("timestamp_seconds(min(ts) div 1000000000)").as("session_start"),
        expr("(max(ts) - min(ts)) div 1000000000").as("duration_sec"),
      )

  /** The session-index step [[sessions]] and [[eventFeatures]] share:
    * (user_id, ts, event_id) with `is_new` = 1 where a gap of more than
    * `gapSeconds` (or the user's first event) opens a session, and
    * `session_idx` the running count of those flags per user.
    */
  private def withSessionIdx(events: DataFrame, gapSeconds: Long): DataFrame = {
    val gapNs = gapSeconds * 1000000000L
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn(
        "is_new",
        when(col("prev_ts").isNull || col("ts") - col("prev_ts") > gapNs, 1L)
          .otherwise(0L),
      )
      .withColumn("session_idx", sum(col("is_new")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Per-EVENT session-relative features — the columns a behavioral
    * model trains on: the session the event belongs to, its index
    * within the session, and seconds since the session started.
    *
    * Costs one shuffle (by user_id, for the flag/cumsum pass); the
    * second window partitions by (user_id, session_idx), which the
    * existing hash partitioning already satisfies (hash keys ⊆
    * clustering keys), so Catalyst adds only a per-partition re-sort,
    * no second exchange.
    */
  def eventFeatures(events: DataFrame, gapSeconds: Long = 1800): DataFrame = {
    val bySession = Window
      .partitionBy(col("user_id"), col("session_idx"))
      .orderBy(col("ts"), col("event_id"))
    withSessionIdx(events, gapSeconds)
      .withColumn("idx_in_session", row_number().over(bySession).cast("long"))
      // running min == session start, since the frame is ordered by ts
      .withColumn("secs_since_start",
        expr("(ts - min(ts) OVER (PARTITION BY user_id, session_idx)) div 1000000000"))
      .select("event_id", "user_id", "session_idx", "idx_in_session", "secs_since_start")
  }

  /** Spark's native gap-merged `session_window` per user, with `gap` a
    * duration literal or an expression of the event:
    * (user_id, session_start, session_end, n_events), ordered.
    */
  def windowSessions(events: DataFrame, gap: Column): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts_sec"), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))
      .orderBy("user_id", "session_start")
}
