package graft.energy

import java.time.LocalDate
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
  * `src/ingestion/price_ingestion.py:31-78` (two near-identical modules,
  * unified here into one generic ingest).
  */
object Bronze {

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
    * parsed only at the silver layer.
    */
  def bronzeDf(
      spark: SparkSession,
      keyCol: String,
      keyValue: String,
      payloads: Seq[(LocalDate, String)],
      source: String = "energy-charts",
  ): DataFrame = {
    val rows = payloads.map { case (d, json) =>
      Row(keyValue, d.toString, json)
    }
    spark
      .createDataFrame(rows.asJava, schema(keyCol))
      .withColumn("ingested_at", current_timestamp())
      .withColumn("source", lit(source))
  }

  /** What a Bronze ingest committed: the rows written and the table's
    * schema, so the next stage opens the snapshot without inferring it.
    */
  final case class Ingested(rows: Long, schema: StructType)

  /** Fetch one payload per backfill day from the source and write the
    * bronze table (0 rows → no write, like the reference's empty-ingest
    * early-return, `power_ingestion.py:47-49`).
    */
  def ingestPower(
      spark: SparkSession,
      src: EnergySource,
      country: String,
      dates: Seq[LocalDate],
      outPath: String,
  ): Ingested = {
    val payloads = dates.map(d => d -> src.publicPower(country, d))
    writeBronze(bronzeDf(spark, "country", country, payloads), payloads.size, outPath)
  }

  def ingestPrice(
      spark: SparkSession,
      src: EnergySource,
      bzn: String,
      dates: Seq[LocalDate],
      outPath: String,
  ): Ingested = {
    val payloads = dates.map(d => d -> src.price(bzn, d))
    writeBronze(bronzeDf(spark, "market", bzn, payloads), payloads.size, outPath)
  }

  private def writeBronze(df: DataFrame, n: Int, outPath: String): Ingested = {
    // One plain write, one file per write task: `date` stays a STRING
    // data column (FIXTURES.md A3), and a date-ranged read pushes its
    // range into the Parquet scan.
    // Snapshot-versioned (AtomicLayer): a reader during the overwrite
    // sees the previous complete snapshot, never a torn table.
    if (n > 0) AtomicLayer.write(df, outPath)
    Ingested(n.toLong, df.schema)
  }
}
