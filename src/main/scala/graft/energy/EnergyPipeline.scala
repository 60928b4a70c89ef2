package graft.energy

import java.time.LocalDate
import java.util.concurrent.atomic.AtomicReference
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** What [[EnergyPipeline.run]] committed: Bronze and Silver row counts
  * per table, and the three committed Gold tables.
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

/** End-to-end Medallion orchestration: Bronze ingest → Silver flatten →
  * Gold aggregates/join, mirroring `src/main.py:28-114` of the reference.
  *
  * [[run]] first fetches every payload on the caller thread, sequentially
  * and in date order: all power days, then all price days, so an
  * [[EnergySource]] needs no thread safety. The power chain
  * (Bronze → Silver → Gold `power_daily_by_type`) and the price chain
  * (Bronze → Silver → Gold `price_daily`) are independent until the
  * offshore-wind-vs-price join (`silver_to_gold.py:78-123`), so they then
  * run concurrently: power on one thread created by `run`, price on the
  * caller thread. The join is the only barrier; it is written once both
  * chains have committed.
  */
object EnergyPipeline {

  /** What one chain committed: its Bronze and Silver row counts and its
    * committed Gold table.
    */
  private final case class Chain(bronzeRows: Long, silverRows: Long, gold: DataFrame)

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

    // Fetch everything before writing anything: a failing fetch leaves
    // every table as it was.
    val powerPayloads = dates.map(d => d -> src.publicPower(country, d))
    val pricePayloads = dates.map(d => d -> src.price(bzn, d))

    // Every layer read resolves the latest COMMITTED snapshot
    // (AtomicLayer): overlapping runs cannot hand a half-written table
    // to the next stage. Each snapshot is opened with the schema it was
    // written with, and Silver's row counts are observed on its writes,
    // so no stage re-reads a table just to learn its shape or size.
    def chain(
        table: String,
        keyCol: String,
        key: String,
        payloads: Seq[(LocalDate, String)],
        toSilver: DataFrame => DataFrame,
        goldTable: String,
        toGold: DataFrame => DataFrame,
    ): Chain = {
      val bronze = commit(Bronze.bronzeDf(spark, keyCol, key, payloads),
        cfg.storage.bronze(table))
      val (silver, silverRows) = commitCounted(toSilver(bronze), cfg.storage.silver(table))
      Chain(payloads.size.toLong, silverRows,
        commit(toGold(silver), cfg.storage.gold(goldTable)))
    }
    val (power, price) = concurrently(
      chain("power", "country", country, powerPayloads,
        Silver.powerToSilver, "power_daily_by_type", Gold.powerDailyByType),
      chain("price", "market", bzn, pricePayloads,
        Silver.priceToSilver, "price_daily", Gold.priceDaily))
    val join = commit(Gold.offshoreWindVsPrice(power.gold, price.gold),
      cfg.storage.gold("power_price_daily"))

    PipelineResult(power.bronzeRows, price.bronzeRows, power.silverRows,
      price.silverRows, power.gold, price.gold, join)
  }

  /** The seven table roots [[run]] commits, Bronze to the Gold join. */
  def layerRoots(storage: StorageConfig): Seq[String] = Seq(
    storage.bronze("power"), storage.bronze("price"), storage.silver("power"),
    storage.silver("price"), storage.gold("power_daily_by_type"),
    storage.gold("price_daily"), storage.gold("power_price_daily"))

  /** Evaluate `a` on a thread created here and `b` on the caller thread,
    * and return both results once both have finished. The thread is new
    * rather than pooled so that it inherits the caller's SparkContext
    * local properties (job group, job tags, scheduler pool) as they are
    * now. If either side throws, the first failure is rethrown as is,
    * with the other's attached via `addSuppressed`, and only after both
    * sides have finished, so no write outlives the call.
    */
  private def concurrently[A, B](a: => A, b: => B): (A, B) = {
    val failure = new AtomicReference[Throwable]()
    def guarded[T](body: => T): Option[T] =
      try Some(body) catch {
        case t: Throwable =>
          if (!failure.compareAndSet(null, t)) failure.get.addSuppressed(t)
          None
      }
    var resultA: Option[A] = None // published to this thread by `join`
    val thread = new Thread(() => resultA = guarded(a), "energy-pipeline-chain")
    thread.start()
    val resultB = guarded(b)
    var interrupted = false
    while (thread.isAlive) {
      try thread.join()
      catch { case _: InterruptedException => interrupted = true }
    }
    if (interrupted) Thread.currentThread().interrupt()
    Option(failure.get).foreach(throw _)
    (resultA.get, resultB.get)
  }

  /** Write `df` as the next snapshot of the table at `root` and open the
    * directory that write committed, with `df`'s schema: no listing of
    * the root and no schema-inference job.
    */
  private def commit(df: DataFrame, root: String): DataFrame =
    df.sparkSession.read.schema(df.schema).parquet(AtomicLayer.write(df, root))

  /** [[commit]], plus the number of rows the write produced, counted by
    * an observation on the write itself.
    */
  private def commitCounted(df: DataFrame, root: String): (DataFrame, Long) = {
    val rows = Observation()
    val committed = commit(df.observe(rows, count(lit(1)).as("rows")), root)
    (committed, rows.get("rows").asInstanceOf[Long])
  }
}
