package graft.energy

import graft.GraftSession
import graft.operators.Compaction

/** Pipeline orchestrator CLI — the Scala twin of the reference's
  * `src/main.py:28-114`: run the full Bronze → Silver → Gold backfill and
  * print per-layer row counts, each layer table's committed data files,
  * the wall time of the run, and Gold samples for human verification.
  *
  * Usage: EnergyMain <storageRoot> [startDate endDate]
  * The environment is zero-egress, so the source is the deterministic
  * fixture generator (same payload shapes as the live API).
  */
object EnergyMain {
  def main(args: Array[String]): Unit = {
    if (args.length != 1 && args.length != 3) {
      // a lone date (length 2) must not silently run the default range
      System.err.println("usage: EnergyMain <storageRoot|config.yaml> [startDate endDate]")
      sys.exit(2)
    }
    // First arg: either a storage root or a YAML config file path.
    val cfg0 =
      if (args(0).endsWith(".yaml") || args(0).endsWith(".yml"))
        ConfigLoader.fromYamlFile(args(0))
      else EnergyConfig.default(args(0))
    val cfg =
      if (args.length >= 3)
        cfg0.copy(backfill = BackfillConfig(
          java.time.LocalDate.parse(args(1)),
          java.time.LocalDate.parse(args(2)),
        ))
      else cfg0

    val builder = GraftSession.builder(GraftSession.cores)
      .appName(cfg.projectName)
      .config("spark.sql.session.timeZone", cfg.timezone)
    val spark = sys.env.get("SPARK_MASTER").fold(builder)(builder.master)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val dates = Dates.dateRange(cfg.backfill.startDate, cfg.backfill.endDate)
    val src = FixtureEnergySource.synthetic(dates)
    val t0 = System.nanoTime()
    val res = EnergyPipeline.run(spark, cfg, src)
    val runS = (System.nanoTime() - t0) / 1e9

    println(s"bronze power rows: ${res.bronzePowerRows}")
    println(s"bronze price rows: ${res.bronzePriceRows}")
    println(s"silver power rows: ${res.silverPowerRows}")
    println(s"silver price rows: ${res.silverPriceRows}")
    for (root <- EnergyPipeline.layerRoots(cfg.storage)) {
      val files = AtomicLayer.latestCommitted(spark, root)
        .fold(0)(Compaction.dataFiles(spark, _).size)
      println(s"${root.stripPrefix(cfg.storage.root + "/")} data files: $files")
    }
    println(f"pipeline run: $runS%.3f s")
    println("gold power_daily_by_type:")
    res.goldPowerDaily.orderBy("date", "production_type").show(30, truncate = false)
    println("gold price_daily:")
    res.goldPriceDaily.orderBy("date").show(10, truncate = false)
    println("gold power_price_daily (offshore wind vs price):")
    res.goldJoin.orderBy("date").show(10, truncate = false)
    spark.stop()
  }
}
