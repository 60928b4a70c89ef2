package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver's Parquet star schema (TESTDATA.md).
  *
  * All queries go through here so scan-level concerns live in one place:
  * column pruning and filter pushdown come free from Catalyst as long as we
  * hand it the raw `FileSourceScan` and never materialize driver-side.
  */
object Tables {
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** The fixture generator has shipped `events.ts` under two different
    * physical parquet encodings across rounds: TIMESTAMP(NANOS) (which
    * Spark reads as raw long nanos under
    * `spark.sql.legacy.parquet.nanosAsLong=true`, set in every session we
    * build) and TIMESTAMP(MICROS) (which Spark reads as TIMESTAMP_NTZ —
    * `nanosAsLong` only affects NANOS columns). A real engine must accept
    * either, so this is THE one place the encoding is looked at: whatever
    * arrives, `ts` leaves as epoch NANOS as a LONG. All downstream gap /
    * bucket arithmetic stays in exact integer nanos. The NTZ→LTZ cast is
    * exact because every session is UTC-pinned (SURVEY.md §1); micros→nanos
    * (×1000) is exact in a Long until year ~2262.
    *
    * Works on batch and streaming DataFrames alike (schema is static).
    */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => df // TIMESTAMP(NANOS) read as long nanos
      case TimestampType | TimestampNTZType =>
        df.withColumn("ts",
          unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case other =>
        throw new IllegalStateException(
          s"events.ts arrived as unsupported type $other; expected " +
            "LONG (nanos), TIMESTAMP or TIMESTAMP_NTZ")
    }

  /** Raw events (batch or stream) with `ts` normalized to long nanos
    * (see [[normalizeEventTs]]) plus a second-precision timestamp column
    * `ts_sec`. Queries stay at second precision so the DuckDB oracle
    * (which reads the parquet natively) can match via
    * `date_trunc('second', ts)`.
    */
  def withTsSec(rawEvents: DataFrame): DataFrame =
    normalizeEventTs(rawEvents)
      .withColumn("ts_sec", expr("timestamp_seconds(ts div 1000000000)"))

  /** The events table through [[withTsSec]]. */
  def events(spark: SparkSession, dir: String): DataFrame =
    withTsSec(t(spark, dir, "events"))

  /** events with scan parallelism restored (same single-row-group local
    * fixture situation as [[documentsParallel]]): JSON-extraction queries
    * are compute-bound and would otherwise run on the one scan task.
    */
  def eventsParallel(spark: SparkSession, dir: String): DataFrame =
    withScanParallelism(spark, events(spark, dir))

  /** Repartition ONLY when the scan planned clearly fewer splits than the
    * cluster has cores (the single-row-group local-fixture case). A real
    * 100 TB corpus arrives as thousands of splits and takes the no-shuffle
    * branch — the shipped code path IS the scale-safe one. The split count
    * comes from the planned partitioning, not the data, so this adds no
    * job. Guarded by `PlanSpec` ("multi-split input plans no Exchange").
    *
    * `keys`: hash-partition by these columns instead of round-robin
    * (optimization r15, guide §2.4): a keyed repartition both skips the
    * local sort every round-robin repartition pays
    * (spark.sql.execution.sortBeforeRepartition) and is REUSED by any
    * downstream join/groupBy on the same key — round-robin stacked a
    * second full Exchange of the text column under every doc_id-keyed
    * join (tm1 plan: Exchange(24)+Exchange(25) back to back).
    */
  private[graft] def withScanParallelism(
      spark: SparkSession, df: DataFrame, keys: Column*): DataFrame = {
    // target = core count, NOT a data-derived size: these rescues exist
    // for CPU-bound text pipelines where rows/task, not bytes/task, set
    // the balance. Re-adjudicated r16 (VERDICT r15 #6): an A/B of
    // target ∈ {8, 16, 32} on the 14-query doc family at 32 cores was
    // noise-dominated (totals 22.2/24.2/22.4 s) with per-query winners
    // on BOTH ends — the 32-vs-8-core gap at sf0.1 is per-task fixed
    // overhead on ~600 KB of text, not an overpartitioning defect.
    val target = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target / 2) df
    else if (keys.isEmpty) df.repartition(target)
    else df.repartition(target, keys: _*)
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "part")
  def region(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "nation")
  def documents(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "documents")

  /** documents with scan parallelism restored: the local fixture is one
    * parquet row group, so Spark plans a single task and every narrow
    * compute stage downstream (regex tokenize, shingle, hash) serializes
    * on one core. A real 100 TB corpus arrives as many splits and does NOT
    * want this shuffle; compute-heavy local pipelines do (the shuffled
    * bytes here are trivially small relative to the CPU they unlock).
    */
  def documentsParallel(spark: SparkSession, dir: String): DataFrame =
    withScanParallelism(spark, documents(spark, dir), col("doc_id"))
  def embeddings(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "embeddings")
}
