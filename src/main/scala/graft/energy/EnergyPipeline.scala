package graft.energy

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** End-to-end Medallion orchestration: Bronze ingest → Silver flatten →
  * Gold aggregates/join, mirroring `src/main.py:28-114` of the reference.
  */
final case class PipelineResult(
    bronzePowerRows: Long,
    bronzePriceRows: Long,
    silverPowerRows: Long,
    silverPriceRows: Long,
    goldPowerDaily: DataFrame,
    goldPriceDaily: DataFrame,
    goldJoin: DataFrame,
)

object EnergyPipeline {

  /** Bronze via the DataSource V2 connector instead of the driver-side
    * fetch loop: ingestion becomes a distributed scan (partition-per-day,
    * date pushdown) and the rest of the medallion flow is unchanged.
    * `EnergyPipelineSpec` asserts this path and [[run]] produce identical
    * gold tables.
    */
  def bronzeFromConnector(
      spark: SparkSession,
      cfg: EnergyConfig,
      dataset: String, // "power" | "price"
  ): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    spark.read.format("energy-charts")
      .option("dataset", dataset)
      .option("start", cfg.backfill.startDate.toString)
      .option("end", cfg.backfill.endDate.toString)
      .load()
      .withColumn("ingested_at", current_timestamp())
      .withColumn("source", lit("energy-charts"))
  }

  def run(
      spark: SparkSession,
      cfg: EnergyConfig,
      src: EnergySource,
  ): PipelineResult = {
    val dates = Dates.dateRange(cfg.backfill.startDate, cfg.backfill.endDate)
    val country = cfg.datasets
      .find(_.endpoint == "public_power")
      .flatMap(_.params.get("country"))
      .getOrElse("de")
    val bzn = cfg.datasets
      .find(_.endpoint == "price")
      .flatMap(_.params.get("bzn"))
      .getOrElse("DE-LU")

    val bronzePowerPath = cfg.storage.bronze("power")
    val bronzePricePath = cfg.storage.bronze("price")
    val pow = Bronze.ingestPower(spark, src, country, dates, bronzePowerPath)
    val pri = Bronze.ingestPrice(spark, src, bzn, dates, bronzePricePath)

    // Every layer read resolves the latest COMMITTED snapshot
    // (AtomicLayer): overlapping runs cannot hand a half-written table
    // to the next stage. Each snapshot is opened with the schema it was
    // written with, and Silver's row counts are observed on its writes,
    // so no stage re-reads a table just to learn its shape or size.
    val (sp, silverPowerRows) = commitCounted(
      Silver.powerToSilver(AtomicLayer.read(spark, bronzePowerPath, pow.schema)),
      cfg.storage.silver("power"))
    val (spr, silverPriceRows) = commitCounted(
      Silver.priceToSilver(AtomicLayer.read(spark, bronzePricePath, pri.schema)),
      cfg.storage.silver("price"))
    val goldPower = commit(Gold.powerDailyByType(sp), cfg.storage.gold("power_daily_by_type"))
    val goldPrice = commit(Gold.priceDaily(spr), cfg.storage.gold("price_daily"))
    val join = commit(Gold.offshoreWindVsPrice(goldPower, goldPrice),
      cfg.storage.gold("power_price_daily"))

    PipelineResult(pow.rows, pri.rows, silverPowerRows, silverPriceRows,
      goldPower, goldPrice, join)
  }

  /** Write `df` as the next snapshot of the table at `root` and open the
    * committed snapshot with `df`'s schema.
    */
  private def commit(df: DataFrame, root: String): DataFrame = {
    AtomicLayer.write(df, root)
    AtomicLayer.read(df.sparkSession, root, df.schema)
  }

  /** [[commit]], plus the number of rows the write produced, counted by
    * an observation on the write itself.
    */
  private def commitCounted(df: DataFrame, root: String): (DataFrame, Long) = {
    val rows = Observation()
    val committed = commit(df.observe(rows, count(lit(1)).as("rows")), root)
    (committed, rows.get("rows").asInstanceOf[Long])
  }
}
