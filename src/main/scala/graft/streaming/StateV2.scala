package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** Structured Streaming's state-v2 API (`transformWithState`,
  * Spark 4): a `StatefulProcessor` with NAMED, individually-typed state
  * variables — the replacement for `mapGroupsWithState`'s single opaque
  * state object. Requires the RocksDB state store provider, which is
  * also the 100 TB-state configuration (bounded executor memory, state
  * spills to local disk, changelog-checkpointed).
  *
  * The processor keeps per-user running totals in three ValueStates —
  * exactly the shape an online feature store maintains: each state
  * variable evolves independently (a TTL could expire `last_ms` without
  * touching the counters; a schema migration can add a variable without
  * rewriting the blob).
  */
object StateV2 {
  final case class EvIn(user_id: Long, ts: Long, value: Double, event_id: Long)
  final case class UserTotals(
      user_id: Long,
      n_events: Long,
      sum_v4: Long,
      last_event_ms: Long,
  )

  /** Per-user totals: event count, floor(value*10^4) integer sum (the
    * repo's cross-engine decimal contract), last event-time millis.
    */
  class TotalsProcessor extends StatefulProcessor[Long, EvIn, UserTotals] {
    @transient private var nState: ValueState[Long] = _
    @transient private var sumState: ValueState[Long] = _
    @transient private var lastState: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      nState = getHandle.getValueState[Long]("n", Encoders.scalaLong, TTLConfig.NONE)
      sumState = getHandle.getValueState[Long]("sum_v4", Encoders.scalaLong, TTLConfig.NONE)
      lastState = getHandle.getValueState[Long]("last_ms", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(
        key: Long,
        rows: Iterator[EvIn],
        timerValues: TimerValues): Iterator[UserTotals] = {
      var n = if (nState.exists()) nState.get() else 0L
      var sum = if (sumState.exists()) sumState.get() else 0L
      var last = if (lastState.exists()) lastState.get() else Long.MinValue
      for (e <- rows) {
        n += 1
        sum += math.floor(e.value * 10000.0).toLong
        last = math.max(last, e.ts / 1000000L)
      }
      nState.update(n)
      sumState.update(sum)
      lastState.update(last)
      Iterator.single(UserTotals(key, n, sum, last))
    }
  }

  /** Stream `$dir/events.parquet` through the processor and return the
    * final per-user snapshot (Update mode; the memory sink keeps every
    * batch's emission — one batch here, so one row per user).
    */
  def userTotals(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val events: Dataset[EvIn] = graft.Tables.normalizeEventTs(
      StreamRun.parquetSource(spark, dir, "events.parquet"))
      .select(col("user_id"), col("ts"), col("value"), col("event_id"))
      .as[EvIn]

    val totals = events
      .groupByKey(_.user_id)
      .transformWithState(
        new TotalsProcessor, TimeMode.None(), OutputMode.Update(),
        Encoders.product[UserTotals])

    // StreamRun materializes the snapshot and drops the memory-sink
    // table (no orphaned result tables), and drives with few state
    // partitions — fewer RocksDB instances to open per run.
    StreamRun.toMemorySnapshot(totals.toDF(), "update", "user_totals_v2",
        conf = Seq(StreamRun.RocksDbStateStore))
      .orderBy("user_id")
  }
}
