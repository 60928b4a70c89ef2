package graft.energy

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Bronze → Silver: parse the raw JSON payloads and flatten the columnar
  * API arrays into long-format time series.
  *
  * Reference: `src/transformations/bronze_to_silver.py:50-106` (power) and
  * `:112-159` (price). Semantics preserved exactly:
  *  - `from_json` PERMISSIVE → malformed payload ⇒ null struct ⇒ zero rows
  *  - inner `explode` drops days with null/empty `production_types`
  *  - `arrays_zip` null-pads misaligned arrays; the trailing null filter
  *    (`bronze_to_silver.py:95,147`) then drops the padding ⇒ net effect:
  *    truncate to matched pairs
  *  - timestamps via `to_timestamp(from_unixtime(...))` — session-tz
  *    dependent in the reference; we pin the session to UTC (SURVEY.md §1)
  */
object Silver {

  /** Power payload schema (`bronze_to_silver.py:23-32`): `unix_seconds`
    * declared Array<Double> then cast to Array<Long> (`:69`) — kept.
    */
  val powerPayloadSchema: StructType = StructType(Seq(
    StructField("unix_seconds", ArrayType(DoubleType), nullable = true),
    StructField(
      "production_types",
      ArrayType(StructType(Seq(
        StructField("name", StringType, nullable = true),
        StructField("data", ArrayType(DoubleType), nullable = true),
      ))),
      nullable = true,
    ),
    StructField("deprecated", StringType, nullable = true),
  ))

  /** Silver power: `(country, date, production_type, timestamp, value)` —
    * one row per production type per time point
    * (`bronze_to_silver.py:87-93`).
    */
  def powerToSilver(bronze: DataFrame): DataFrame = {
    bronze
      .withColumn("payload", from_json(col("payload_json"), powerPayloadSchema))
      .select(
        col("country"),
        col("date"),
        col("payload.unix_seconds").cast(ArrayType(LongType)).as("unix_seconds"),
        explode(col("payload.production_types")).as("pt"),
      )
      .select(
        col("country"),
        col("date"),
        col("unix_seconds"),
        col("pt.name").as("production_type"),
        col("pt.data").as("values"),
      )
      .withColumn("pairs", arrays_zip(col("unix_seconds"), col("values")))
      .select(
        col("country"),
        col("date"),
        col("production_type"),
        explode(col("pairs")).as("p"),
      )
      .select(
        col("country"),
        col("date"),
        col("production_type"),
        to_timestamp(from_unixtime(col("p.unix_seconds"))).as("timestamp"),
        col("p.values").cast(DoubleType).as("value"),
      )
      .where(col("timestamp").isNotNull && col("value").isNotNull)
  }

  /** Silver price: `(market, timestamp, price_eur_mwh)`. Extraction via
    * `get_json_object` + `from_json` with a `coalesce` over the three
    * candidate field names the API has used (`price`/`prices`/`data`) —
    * tolerates field-name drift (`bronze_to_silver.py:118-148`).
    */
  def priceToSilver(bronze: DataFrame): DataFrame = {
    val longArray = ArrayType(LongType)
    val doubleArray = ArrayType(DoubleType)
    bronze
      .select(
        col("market"),
        from_json(get_json_object(col("payload_json"), "$.unix_seconds"), longArray)
          .as("unix_seconds"),
        coalesce(
          from_json(get_json_object(col("payload_json"), "$.price"), doubleArray),
          from_json(get_json_object(col("payload_json"), "$.prices"), doubleArray),
          from_json(get_json_object(col("payload_json"), "$.data"), doubleArray),
        ).as("prices"),
      )
      .withColumn("pairs", arrays_zip(col("unix_seconds"), col("prices")))
      .select(col("market"), explode(col("pairs")).as("p"))
      .select(
        col("market"),
        to_timestamp(from_unixtime(col("p.unix_seconds"))).as("timestamp"),
        col("p.prices").cast(DoubleType).as("price_eur_mwh"),
      )
      .where(col("timestamp").isNotNull && col("price_eur_mwh").isNotNull)
  }

  /** Silver is the first *wide* table. It is written unpartitioned, one
    * file per write task: power keeps its ingest day as a STRING `date`
    * column, and a date-ranged read pushes the range into the Parquet
    * scan, which skips row groups by their min/max statistics.
    */
  def write(df: DataFrame, outPath: String): Unit =
    AtomicLayer.write(df, outPath)

  def read(spark: SparkSession, path: String): DataFrame =
    AtomicLayer.read(spark, path)
}
