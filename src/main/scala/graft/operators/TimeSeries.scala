package graft.operators

import graft.functions.VectorMath
import org.apache.spark.sql.{DataFrame, RelationalGroupedDataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Time-series regularization: resampling onto a fixed grid, gap filling,
  * and linear interpolation. This is the batch twin of the reference's
  * 15-minute power / hourly price series handling
  * (reference: src/transformations/bronze_to_silver.py:65-96 builds the
  * regular per-interval series; it never has to fill holes because the
  * upstream API returns dense arrays — at 100 TB ingest, holes are the
  * norm and this operator family closes them).
  *
  * Scale posture:
  *  - the per-key hourly aggregate is one shuffle on (key, hour);
  *  - the spine is generated from each key's own [min, max] bounds —
  *    `sequence()` per key row, so no driver-side range materialization
  *    and no cross join against a global calendar;
  *  - fill/interpolation are single window passes per key, which AQE can
  *    coalesce; no self-joins, no collect.
  *
  * Cross-engine determinism: hourly sums accumulate DECIMAL(20,4) (exact,
  * order-independent) and are cast to double once; interpolation arithmetic
  * is written as the identical double expression the DuckDB oracle uses, so
  * results are bit-equal.
  */
object TimeSeries {

  /** Per-(user, hour) event aggregate: count + exact-decimal value sum. */
  def hourly(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"), date_trunc("hour", col("ts_sec")).as("hr"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(20, 4))).as("vsum"),
      )

  /** Each OBSERVED hourly row annotated with its successor observation
    * (`lead` within the user) and then EXPLODED into the dense segment it
    * owns: itself plus every missing hour strictly before the next
    * observation. The union of segments IS the [min, max] hourly spine,
    * with both interpolation endpoints already sitting on every row.
    *
    * This is the load-bearing shape for ts1/ts2 (r7 bench top-3 for
    * three rounds): the previous formulation built the spine by
    * per-user bounds + `sequence` + a (user, hr) equi-join back to the
    * observations, then ran running-frame window passes over the DENSE
    * spine — four shuffles, two of them spine-sized, plus asc AND desc
    * spine sorts for the two lookup directions. Here the only window is
    * one `lead` over the OBSERVED relation (strictly smaller than the
    * spine), the gap rows inherit their neighbors from the emitting row
    * for free, and no join or spine-wide sort exists at all: shuffles
    * drop 4 → 2 (the hourly aggregate's own, plus one user-keyed sort
    * for `lead`). Measured at sf0.1: ts2 3.7 s → see BUILDLOG r8.
    *
    * Per-user state is one row lookahead — at 100 TB the cost is the
    * hourly aggregate itself; segment arrays are bounded by each gap's
    * length in hours (sequence() materializes per-row, never per-user).
    */
  private def segments(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("hr")
    hourly(events)
      .withColumn("nhr", lead(col("hr"), 1).over(byUser))
      .withColumn("nvsum", lead(col("vsum"), 1).over(byUser))
      .select(col("user_id"), col("hr").as("obs_hr"), col("n_events"),
        col("vsum"), col("nhr"), col("nvsum"),
        explode(expr(
          "sequence(hr, coalesce(nhr - interval 1 hour, hr), interval 1 hour)"
        )).as("hr"))
      .withColumn("is_obs", col("hr") === col("obs_hr"))
  }

  /** Gap-fill by forward fill (last observation carried forward): every
    * hour in the spine gets the most recent known hourly sum.
    */
  def gapFillForward(events: DataFrame): DataFrame =
    segments(events)
      .select(
        col("user_id"), col("hr"),
        when(col("is_obs"), col("n_events")).otherwise(lit(0L)).as("n_events"),
        // the emitting observation IS the last one at-or-before this hour
        col("vsum").cast(DoubleType).as("v_fill"),
      )

  /** Gap-fill by linear interpolation between the surrounding observed
    * hours (endpoints fall back to nearest-observation). `is_actual`
    * distinguishes observed rows from synthesized ones.
    */
  def interpolateLinear(events: DataFrame): DataFrame = {
    val es = unix_timestamp(col("hr"))
    val pv = col("vsum").cast(DoubleType)
    val pt = unix_timestamp(col("obs_hr"))
    val nv = col("nvsum").cast(DoubleType)
    val nt = unix_timestamp(col("nhr"))
    // Gap rows always have BOTH neighbors (a gap only exists strictly
    // between two observations; the spine ends at the last one), so the
    // one-sided fallbacks of the window formulation can't arise.
    // Identical double-expression shape on the oracle side:
    // pv + (nv-pv) * (dt/g)
    val interp = when(col("is_obs"), pv)
      .otherwise(pv + (nv - pv) *
        ((es - pt).cast(DoubleType) / (nt - pt).cast(DoubleType)))
    segments(events)
      .select(
        col("user_id"), col("hr"),
        col("is_obs").cast(IntegerType).as("is_actual"),
        interp.as("v_interp"),
      )
  }

  /** Time-based sliding aggregate: per-event sum/count of the trailing
    * `windowSec` seconds of the same user's activity (RANGE frame over
    * epoch seconds — ties share a frame on both engines). The decimal
    * accumulator keeps the running sums exact and order-independent.
    */
  def trailingWindow(events: DataFrame, windowSec: Long): DataFrame = {
    val es = unix_timestamp(col("ts_sec"))
    val w = Window.partitionBy("user_id").orderBy("es")
      .rangeBetween(-(windowSec - 1), 0)
    events
      .select(col("event_id"), col("user_id"), es.as("es"),
        col("value").cast(DecimalType(20, 4)).as("vdec"))
      .select(
        col("event_id"), col("user_id"), col("es"),
        count(lit(1)).over(w).as("mv_n"),
        sum(col("vdec")).over(w).cast(DoubleType).as("mv_sum"),
      )
  }

  /** Robust (IQR-fence) outlier detection per event_type: flag values
    * outside [q1 − fence·IQR, q3 + fence·IQR], with the quartiles picked
    * DISCRETELY by exact rank arithmetic (rank k = (p·n + 99) div 100 —
    * the a12 pattern) over the 2^20-quantized value. Every number in the
    * decision is a BIGINT, so the fence comparison is bit-identical across
    * engines — no stddev, no float division.
    *
    * Scale posture: one window sort per event_type partition (the same
    * sort serves rank + quartile lookup), one tiny per-group bounds row
    * broadcast back onto the ranked rows. Skewed event_type cardinality
    * is the salting escalation path (Skew.saltedSumCount), not needed at
    * the grain here (~handful of types).
    */
  def iqrOutliers(events: DataFrame, fence: Long = 3L): DataFrame = {
    val byType = Window.partitionBy("event_type")
    val ranked = events
      .select(col("event_id"), col("event_type"),
        VectorMath.quantize(col("value")).as("q"))
      .select(col("event_id"), col("event_type"), col("q"),
        row_number().over(byType.orderBy("q", "event_id")).as("rn"),
        count(lit(1)).over(byType).as("n"))
    val bounds = ranked
      .groupBy("event_type")
      .agg(
        min(when(col("rn") === expr("(25L * n + 99L) div 100L"), col("q"))).as("q1"),
        min(when(col("rn") === expr("(75L * n + 99L) div 100L"), col("q"))).as("q3"),
      )
      .select(col("event_type"),
        (col("q1") - lit(fence) * (col("q3") - col("q1"))).as("lo"),
        (col("q3") + lit(fence) * (col("q3") - col("q1"))).as("hi"))
    ranked
      .join(broadcast(bounds), Seq("event_type"))
      .where(col("q") < col("lo") || col("q") > col("hi"))
      .select(col("event_id"), col("event_type"), col("q"), col("lo"), col("hi"))
  }

  /** Exact exponentially-weighted moving average (α = 1/2) over each
    * user's last `span` events: emitted as an integer numerator /
    * denominator pair (num = Σ qᵢ·2^(span−1−dᵢ), den = Σ 2^(span−1−dᵢ),
    * q = 2^20-quantized value, d = distance in rows), so the result is
    * exact and engine-portable — the caller divides when it wants a float.
    *
    * The sequential-looking recurrence is recast relationally: each row
    * CONTRIBUTES to its next `span` successors via a bounded explode
    * (linear ×span, no per-user quadratic self-join), then one aggregate
    * on (user, target row) collects each row's window. Both shuffles key
    * on user_id, so AQE plans them back-to-back on the same partitioning.
    */
  def ewmaExact(events: DataFrame, span: Int = 16): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
    val ranked = events
      .select(col("user_id"), col("event_id"), col("ts_sec"),
        VectorMath.quantize(col("value")).as("q"))
      .withColumn("rn", row_number().over(byUser))
    val contrib = ranked
      .select(col("user_id"), col("q"), col("rn"),
        explode(sequence(lit(0), lit(span - 1))).as("d"))
      .select(col("user_id"), (col("rn") + col("d")).as("rn"),
        expr(s"shiftleft(CAST(1 AS BIGINT), ${span - 1} - d)").as("w"),
        col("q"))
      .groupBy("user_id", "rn")
      .agg(sum(col("q") * col("w")).as("ewma_num"), sum(col("w")).as("ewma_den"))
    ranked
      .join(contrib, Seq("user_id", "rn"))
      .select(col("user_id"), col("event_id"), col("ewma_num"), col("ewma_den"))
  }

  /** CUSUM changepoint per series over a (series, day, d) daily-total
    * relation: the day maximizing |cusum_t| where
    * cusum_t = N·Σ_{i≤t}d_i − t·T — the mean-deviation cumulative sum
    * with the mean divide cross-multiplied away, so every intermediate
    * is an exact integer and the peak day is bit-stable across engines
    * and partitionings. Ties break to the earliest day. Per-series
    * windows only; input is the (tiny) per-day rollup, never the raw
    * stream.
    */
  def cusumChangepoint(daily: DataFrame, seriesCol: String = "event_type"): DataFrame = {
    val wAll = Window.partitionBy(seriesCol)
    val wOrd = Window.partitionBy(seriesCol).orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("nd", count(lit(1)).over(wAll))
      .withColumn("tot", sum(col("d")).over(wAll))
      .withColumn("cusum",
        col("nd") * sum(col("d")).over(wOrd) -
          col("tot") * count(lit(1)).over(wOrd))
      .withColumn("mx", max(abs(col("cusum"))).over(wAll))
      .where(abs(col("cusum")) === col("mx"))
      .groupBy(seriesCol)
      .agg(min(col("day")).as("cp_day"), max(col("mx")).as("peak"))
      .orderBy(seriesCol)
  }

  /** OHLC + VWAP bars, one per group of `grouped`, over rows carrying
    * `cents` (exact integer price) and `k` (a total-order string key):
    * open/close ride min_by/max_by on `k`, high/low/volume are plain
    * aggregates and VWAP is one late division of exact cent sums. Every
    * aggregate merges across partial states, so a streaming micro-batch
    * bar equals the batch bar exactly.
    */
  def ohlcBars(grouped: RelationalGroupedDataset): DataFrame =
    grouped.agg(
      min_by(col("cents"), col("k")).as("open_cents"),
      max(col("cents")).as("high_cents"),
      min(col("cents")).as("low_cents"),
      max_by(col("cents"), col("k")).as("close_cents"),
      count(lit(1)).as("n_trades"),
      (sum(col("cents")).cast(DoubleType) /
        count(lit(1)).cast(DoubleType)).as("vwap_cents"))
}
