package graft.energy

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Silver → Gold: daily aggregates and the offshore-wind-vs-price join.
  *
  * Reference: `src/transformations/silver_to_gold.py`. Day bucketing is
  * `to_date(timestamp)` — UTC-pinned in our engine (SURVEY.md §1).
  */
object Gold {

  /** `(date, production_type, daily_net_production)` — group-by SUM
    * (`silver_to_gold.py:29-33`).
    */
  def powerDailyByType(silverPower: DataFrame): DataFrame =
    silverPower
      .withColumn("date", to_date(col("timestamp")))
      .groupBy(col("date"), col("production_type"))
      .agg(sum(col("value")).as("daily_net_production"))

  /** `(date, avg_price_eur_mwh)` — group-by AVG (`silver_to_gold.py:61-65`). */
  def priceDaily(silverPrice: DataFrame): DataFrame =
    silverPrice
      .withColumn("date", to_date(col("timestamp")))
      .groupBy(col("date"))
      .agg(avg(col("price_eur_mwh")).as("avg_price_eur_mwh"))

  /** `(date, offshore_wind_daily, avg_price_eur_mwh)` — normalized filter
    * to the offshore-wind series, then inner USING-join on `date`
    * (`silver_to_gold.py:78-123`). Both sides are daily-grain (tiny
    * relative to silver), so AQE broadcast-joins them at any scale.
    */
  def offshoreWindVsPrice(
      goldPowerDaily: DataFrame,
      goldPriceDaily: DataFrame,
  ): DataFrame = {
    val offshore = goldPowerDaily
      .withColumn("date", to_date(col("date"))) // defensive re-cast like `silver_to_gold.py:96-97`
      .filter(lower(trim(col("production_type"))) === "wind offshore")
      .select(col("date"), col("daily_net_production").as("offshore_wind_daily"))
    val price = goldPriceDaily.withColumn("date", to_date(col("date")))
    offshore
      .join(price, Seq("date"), "inner")
      .select(col("date"), col("offshore_wind_daily"), col("avg_price_eur_mwh"))
  }
}
