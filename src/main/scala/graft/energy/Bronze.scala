package graft.energy

import java.time.LocalDate
import graft.operators.Compaction
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Bronze ingestion: raw JSON payloads → one row per (key, day), stamped
  * with ingestion metadata, persisted as Parquet (the environment ships no
  * Delta jars; the reference only ever does full overwrites, so Parquet
  * overwrite is semantically equivalent here — SURVEY.md §1).
  *
  * Reference: `src/ingestion/power_ingestion.py:31-79` and
  * `src/ingestion/price_ingestion.py:31-78`, two near-identical modules
  * that differ only in key column, key value and API call. Here both are
  * one [[bronzeDf]]: the caller fetches each day's payload on the driver,
  * then one snapshot-versioned write ([[AtomicLayer]]) commits the table,
  * so a reader during the overwrite sees the previous complete snapshot,
  * never a torn table.
  *
  * Layout: one plain write, one row per (key, day), and files sized by
  * payload bytes: [[bronzeDf]] plans one task per ~`TargetBytes` of
  * payload, at most one per core ([[graft.operators.Compaction.filesFor]]).
  * Silver scans each Bronze file as one split and writes as many files;
  * Gold scans those. `date` stays a STRING data column (FIXTURES.md A3),
  * and a date-ranged read pushes its range into the Parquet scan.
  */
object Bronze {

  /** Value of the `source` metadata column (`power_ingestion.py:68`). */
  private val Source = "energy-charts"

  /** Payload bytes per Bronze task, and so per file in Bronze and Silver.
    * A task plus its file costs tens of milliseconds on the critical path,
    * about what Silver spends parsing 100–300 KB of payload, so a 64-day
    * table (~0.3 MB) runs best as one task. The power and price chains
    * share the cores, so too large a target leaves a mid-size table as one
    * long task beside the other chain's one-task-per-core stage: at 1 MiB
    * the 4-year price table (~0.75 MB) did that and slowed the run ~4%.
    * 512 KiB gives it two tasks.
    */
  private val TargetBytes = 512L << 10

  /** Bronze schema: key column (country|market), date, raw payload text.
    * Matches `power_ingestion.py:52-58` / `price_ingestion.py:51-57`.
    */
  def schema(keyCol: String): StructType = StructType(Seq(
    StructField(keyCol, StringType, nullable = false),
    StructField("date", StringType, nullable = false),
    StructField("payload_json", StringType, nullable = true),
  ))

  /** Build the bronze DataFrame from driver-side fetched payloads and stamp
    * `ingested_at` / `source` metadata (`power_ingestion.py:64-69`).
    * Rows stay tiny (one per day) — the heavy data is the payload string,
    * parsed only at the silver layer. The payloads are ASCII JSON, so their
    * string lengths (a null counts 0) size the tasks.
    */
  def bronzeDf(
      spark: SparkSession,
      keyCol: String,
      keyValue: String,
      payloads: Seq[(LocalDate, String)],
  ): DataFrame = {
    val rows = payloads.map { case (d, json) =>
      Row(keyValue, d.toString, json)
    }
    val bytes = payloads.map { case (_, json) => if (json == null) 0L else json.length.toLong }.sum
    val tasks = math.min(spark.sparkContext.defaultParallelism.toLong,
      Compaction.filesFor(bytes, TargetBytes))
    spark
      .createDataFrame(rows.asJava, schema(keyCol))
      .withColumn("ingested_at", current_timestamp())
      .withColumn("source", lit(Source))
      .coalesce(tasks.toInt)
  }
}
