package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Deterministic sampling for training-data pipelines.
  *
  * `df.sample()` draws from a per-partition RNG: the selected set changes
  * with partitioning, retries, and cluster size — useless when a sample
  * must be reproducible across reruns or (as here) re-derivable by a
  * second engine. Hash-gating on a stable key instead gives a sample
  * that is a pure function of the data: `keep(row) = md5(seed || key)
  * starts with one of k/16 hex digits`, an exact k/16 rate in
  * expectation, identical on any engine with md5.
  *
  * At 100 TB this is a narrow codegen'd filter pushed to just above the
  * scan — no shuffle, no coordination, each split samples independently.
  */
object Sampling {

  /** Hex-digit prefix classes for a rate of n/16. */
  private def hexClass(n: Int): Seq[String] =
    "0123456789abcdef".take(n).map(_.toString)

  /** The shared seeded hash gate: first hex digit of md5(seed:key).
    * Both samplers MUST use this one expression — the flat/stratified
    * equivalence and rate nesting hold only while the hash is identical.
    */
  private def hexDigit(key: Column, seed: String): Column =
    substring(md5(concat(lit(seed + ":"), key.cast("string"))), 1, 1)

  /** Deterministic Bernoulli sample: keeps rows whose seeded key-hash
    * falls in the first `sixteenths`/16 of the hash space.
    */
  def deterministicSample(
      df: DataFrame,
      key: Column,
      seed: String,
      sixteenths: Int,
  ): DataFrame = {
    require(sixteenths >= 1 && sixteenths <= 16, "rate is n/16, 1 <= n <= 16")
    df.where(hexDigit(key, seed).isin(hexClass(sixteenths): _*))
  }

  /** Stratified deterministic sample: a different n/16 rate per stratum
    * value (the data-mixing primitive — e.g. downsample web text, keep
    * all code). Same hash gate, same scale shape (narrow filter above
    * the scan), same reproducibility; per-stratum rates nest exactly
    * like the flat sample's.
    */
  def stratifiedSample(
      df: DataFrame,
      key: Column,
      strata: Column,
      seed: String,
      rates: Map[String, Int],
      defaultSixteenths: Int,
  ): DataFrame = {
    require((rates.values ++ Seq(defaultSixteenths)).forall(n => n >= 0 && n <= 16),
      "rates are n/16, 0 <= n <= 16")
    val hex = hexDigit(key, seed)
    def keep(n: Int): Column =
      if (n == 0) lit(false) else hex.isin(hexClass(n): _*)
    val gate = rates.foldLeft(when(lit(false), lit(true))) {
      case (acc, (value, n)) => acc.when(strata === value, keep(n))
    }.otherwise(keep(defaultSixteenths))
    df.where(gate)
  }

  /** Exact order statistics over a bottom-k hash sample — the shared
    * tail of qsk1 (both batch paths) and st28 (the streamed min-k
    * state), factored to ONE definition so the streaming/batch
    * equivalence the specs pin cannot drift. `sample` carries
    * (cents, h) with ≤ k rows (callers limit first); estimates are the
    * rank-ceil(kk·q) order statistics with (cents, h) tie-breaks. The
    * partition-less rank window is bounded by the sample size, never
    * data — allowlisted per query in RegistryPlanSweepSpec.
    */
  def bottomKQuantiles(sample: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranked = sample.withColumn("rk",
      row_number().over(Window.orderBy(col("cents"), col("h"))))
    def os(q: Double, name: String) =
      max(when(col("rk") ===
        ceil(col("kk") * lit(q)).cast("long"), col("cents"))).as(name)
    ranked.crossJoin(broadcast(ranked.agg(count(lit(1)).as("kk"))))
      .agg(max(col("kk")).as("k_sample"), os(0.25, "p25_est"),
        os(0.5, "p50_est"), os(0.75, "p75_est"), os(0.9, "p90_est"))
  }

  /** Poisson(1) bootstrap weight from a uniform 60-bit hash `h`: exact
    * integer inverse-CDF thresholds (floor(P(X<=k)·2^60)) with the tail
    * capped at 5 (P(X>5) ≈ 0.06%, an operational definition every engine
    * shares). Each (unit, replicate) hash gives an independent weight,
    * so a bootstrap needs no resampling shuffle.
    */
  def poissonWeight(h: Column): Column =
    when(h < 424136118829305344L, 0L)
      .when(h < 848272237658610688L, 1L)
      .when(h < 1060340297073263360L, 2L)
      .when(h < 1131029650211480960L, 3L)
      .when(h < 1148701988496035200L, 4L)
      .otherwise(5L)

  /** `point` (one row) with the 95% percentile bootstrap interval of the
    * replicate statistic `stat` in `reps` (r, `stat`) appended as
    * (ci_lo_cents, ci_hi_cents): the replicates ranked by (`stat`, r),
    * the bounds the ceil(0.025·n)-th and ceil(0.975·n)-th. The rank
    * runs on the replicate relation (bounded — a global window there is
    * free at any corpus size).
    */
  def withBootstrapCi(point: DataFrame, reps: DataFrame, stat: String): DataFrame = {
    val ranked = reps
      .withColumn("rk", row_number().over(Window.orderBy(col(stat), col("r"))))
      .localCheckpoint(eager = true) // feeds lo + hi + count
    val nRep = broadcast(ranked.agg(count(lit(1)).as("nb")))
    def bound(q: Double, name: String) = broadcast(ranked.crossJoin(nRep)
      .where(col("rk") === ceil(col("nb") * q).cast(LongType))
      .select(col(stat).as(name)))
    point.crossJoin(bound(0.025, "ci_lo_cents")).crossJoin(bound(0.975, "ci_hi_cents"))
  }
}
