package graft.energy

import java.time.LocalDate
import java.util.Properties
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Golden-fixture tests for the medallion pipeline, covering the edge
  * semantics called out in SURVEY.md §2 (G1/G2/F1/F3/P4) and FIXTURES.md A.
  */
class EnergyPipelineSpec extends SparkSpec {

  private def day(s: String) = LocalDate.parse(s)
  private def epoch(d: LocalDate) = d.toEpochDay * 86400L

  test("end-to-end: fixture payloads -> gold matches hand-computed sums") {
    val tmp = graft.tools.Scratch.dir("energy-e2e").toString
    val cfg = EnergyConfig.default(tmp).copy(
      backfill = BackfillConfig(day("2025-01-01"), day("2025-01-03"))
    )
    val dates = Dates.dateRange(cfg.backfill.startDate, cfg.backfill.endDate)
    // 4 points/day, 2 production types, price hourly x 4
    val src = FixtureEnergySource.synthetic(
      dates,
      productionTypes = Seq("Wind offshore", "Solar"),
      pointsPerDay = 4,
      pricePointsPerDay = 4,
    )
    val res = EnergyPipeline.run(spark, cfg, src)

    assert(res.bronzePowerRows == 3 && res.bronzePriceRows == 3)
    // 3 days x 4 points x 2 types
    assert(res.silverPowerRows == 3 * 4 * 2)
    assert(res.silverPriceRows == 3 * 4)

    // Hand-computed: type index 0 ("Wind offshore") values 100.00,100.25,100.50,100.75
    val offshoreDaily = 100.0 + 100.25 + 100.5 + 100.75
    // price points: 50 + (i%7)*3.5 for i in 0..3 -> 50,53.5,57,60.5; avg = 55.25
    val goldJoin = res.goldJoin.collect().sortBy(_.getDate(0).toString)
    assert(goldJoin.length == 3)
    goldJoin.foreach { r =>
      assert(math.abs(r.getDouble(1) - offshoreDaily) < 1e-9)
      assert(math.abs(r.getDouble(2) - 55.25) < 1e-9)
    }

    // Schema parity with FIXTURES.md A3
    assert(res.goldJoin.schema.map(f => (f.name, f.dataType)) == Seq(
      ("date", DateType),
      ("offshore_wind_daily", DoubleType),
      ("avg_price_eur_mwh", DoubleType),
    ))
  }

  /** Run the pipeline over `days` days of the default synthetic fixture
    * into a fresh storage root; returns the config it ran with.
    */
  private def runDays(prefix: String, days: Int): EnergyConfig = {
    val start = day("2025-01-01")
    val cfg = EnergyConfig.default(graft.tools.Scratch.dir(prefix).toString).copy(
      backfill = BackfillConfig(start, start.plusDays(days - 1L)))
    val dates = Dates.dateRange(cfg.backfill.startDate, cfg.backfill.endDate)
    EnergyPipeline.run(spark, cfg, FixtureEnergySource.synthetic(dates))
    cfg
  }

  test("committed Bronze and Silver tables carry the FIXTURES.md A3 schemas") {
    val cfg = runDays("energy-schema", 3)
    // schema as stored: inferred from the committed files, not the writer
    def stored(root: String) =
      spark.read.parquet(AtomicLayer.latestCommitted(spark, root).get)
        .schema.map(f => (f.name, f.dataType))
    val bronzeTail = Seq(("date", StringType), ("payload_json", StringType),
      ("ingested_at", TimestampType), ("source", StringType))
    assert(stored(cfg.storage.bronze("power")) == ("country", StringType) +: bronzeTail)
    assert(stored(cfg.storage.bronze("price")) == ("market", StringType) +: bronzeTail)
    assert(stored(cfg.storage.silver("power")) == Seq(
      ("country", StringType), ("date", StringType), ("production_type", StringType),
      ("timestamp", TimestampType), ("value", DoubleType)))
    assert(stored(cfg.storage.silver("price")) == Seq(
      ("market", StringType), ("timestamp", TimestampType), ("price_eur_mwh", DoubleType)))
  }

  test("run launches only SQL-execution jobs, as many for 40 days as for 3") {
    val sc = spark.sparkContext
    val TagKey = "graft.test.pipeline_run"
    // properties of every job started while `body` runs on this thread
    def jobsDuring(body: => Unit): Seq[Properties] = {
      val tag = java.util.UUID.randomUUID().toString
      val jobs = new ConcurrentLinkedQueue[Properties]()
      val drained = new CountDownLatch(1)
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          Option(e.properties).map(p => (p, p.getProperty(TagKey))).foreach {
            case (p, `tag`) => jobs.add(p)
            case (_, t) if t == s"$tag.end" => drained.countDown()
            case _ => ()
          }
      }
      sc.addSparkListener(listener)
      try {
        sc.setLocalProperty(TagKey, tag)
        body
        // the listener bus is FIFO: once this sentinel job's start event
        // arrives, every job `body` launched has been seen
        sc.setLocalProperty(TagKey, s"$tag.end")
        sc.parallelize(Seq(1), 1).count()
        assert(drained.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      } finally {
        sc.setLocalProperty(TagKey, null)
        sc.removeSparkListener(listener)
      }
      jobs.asScala.toSeq
    }
    val short = jobsDuring(runDays("energy-jobs3", 3): Unit)
    // 40 day directories would be above Spark's 32-path parallel-listing threshold
    val long = jobsDuring(runDays("energy-jobs40", 40): Unit)
    for ((label, jobs) <- Seq("3 days" -> short, "40 days" -> long)) {
      val bare = jobs.count(_.getProperty("spark.sql.execution.id") == null)
      assert(bare == 0,
        s"$label: $bare of ${jobs.size} jobs ran outside a SQL execution " +
          "(schema inference, file listing or an eager action)")
    }
    assert(short.nonEmpty && long.size == short.size,
      s"jobs: ${short.size} for 3 days, ${long.size} for 40 days")
  }

  test("a date range on committed Silver power is pushed into the scan") {
    val cfg = runDays("energy-prune", 10)
    val silver = AtomicLayer.read(spark, cfg.storage.silver("power"))
    val (lo, hi) = ("2025-01-03", "2025-01-05")
    val ranged = silver.where(col("date").between(lo, hi))
    val pushed = ranged.queryExecution.sparkPlan
      .collectFirst { case s: FileSourceScanExec => s.metadata("PushedFilters") }
    assert(pushed.exists(f => f.contains(s"GreaterThanOrEqual(date,$lo)") &&
      f.contains(s"LessThanOrEqual(date,$hi)")), s"PushedFilters: $pushed")
    val all = silver.collect()
    val expected = all.filter { r =>
      val d = r.getAs[String]("date"); d >= lo && d <= hi
    }
    assert(expected.nonEmpty && expected.length < all.length)
    assert(ranged.collect().toSeq.sortBy(_.toString) == expected.toSeq.sortBy(_.toString))
  }

  test("G2/P4: misaligned arrays are null-padded by arrays_zip then dropped") {
    val d = day("2025-02-01")
    val bronze = Bronze.bronzeDf(
      spark,
      "country",
      "de",
      Seq(
        d -> s"""{"unix_seconds": [${epoch(d)}, ${epoch(d) + 900}, ${epoch(d) + 1800}],
                 "production_types": [{"name": "Solar", "data": [1.0, 2.0]}]}""".stripMargin
      ),
    )
    val silver = Silver.powerToSilver(bronze)
    // 3 timestamps zipped with 2 values -> third pair has null value -> dropped
    assert(silver.count() == 2)
  }

  test("G1: null/empty production_types drops the whole day (inner explode)") {
    val d = day("2025-02-01")
    val bronze = Bronze.bronzeDf(
      spark,
      "country",
      "de",
      Seq(
        d -> s"""{"unix_seconds": [${epoch(d)}], "production_types": []}""",
        d.plusDays(1) -> s"""{"unix_seconds": [${epoch(d)}], "production_types": null}""",
      ),
    )
    assert(Silver.powerToSilver(bronze).count() == 0)
  }

  test("F1/P4: malformed JSON payload yields zero silver rows, not an error") {
    val d = day("2025-02-01")
    val bronze =
      Bronze.bronzeDf(spark, "country", "de", Seq(d -> "not json at all {"))
    assert(Silver.powerToSilver(bronze).count() == 0)
  }

  test("F3: price field-name drift (prices/data instead of price) is coalesced") {
    val d = day("2025-02-01")
    val mk = (field: String) =>
      s"""{"unix_seconds": [${epoch(d)}, ${epoch(d) + 3600}], "$field": [10.5, 11.5]}"""
    for (field <- Seq("price", "prices", "data")) {
      val bronze = Bronze.bronzeDf(spark, "market", "DE-LU", Seq(d -> mk(field)))
      val silver = Silver.priceToSilver(bronze).collect()
      assert(silver.length == 2, s"field=$field")
      assert(silver.map(_.getDouble(2)).sorted.sameElements(Array(10.5, 11.5)))
    }
  }

  test("null elements inside data arrays are dropped by the null filter") {
    val d = day("2025-02-01")
    val bronze = Bronze.bronzeDf(
      spark,
      "country",
      "de",
      Seq(
        d -> s"""{"unix_seconds": [${epoch(d)}, ${epoch(d) + 900}],
                 "production_types": [{"name": "Solar", "data": [1.0, null]}]}""".stripMargin
      ),
    )
    assert(Silver.powerToSilver(bronze).count() == 1)
  }

  test("UTC day boundaries: 23:00 point lands on its UTC day") {
    val d = day("2025-03-01")
    val lateTs = epoch(d) + 23 * 3600 // 23:00 UTC
    val bronze = Bronze.bronzeDf(
      spark,
      "country",
      "de",
      Seq(d -> s"""{"unix_seconds": [$lateTs], "production_types": [{"name": "Solar", "data": [5.0]}]}"""),
    )
    val gold = Gold.powerDailyByType(Silver.powerToSilver(bronze)).collect()
    assert(gold.length == 1 && gold.head.getDate(0).toString == "2025-03-01")
  }

  test("connector-ingested bronze yields identical gold to driver-loop bronze") {
    val cfg = EnergyConfig.default("/tmp/unused").copy(
      backfill = BackfillConfig(day("2025-01-01"), day("2025-01-03")))
    val dates = Dates.dateRange(cfg.backfill.startDate, cfg.backfill.endDate)
    val src = FixtureEnergySource.synthetic(dates)
    // driver-loop path
    val loopBronze = Bronze.bronzeDf(spark, "country", "de",
      dates.map(d => d -> src.publicPower("de", d)))
    // connector path
    val connBronze = EnergyPipeline.bronzeFromConnector(spark, cfg, "power")
    val a = Gold.powerDailyByType(Silver.powerToSilver(loopBronze))
      .orderBy("date", "production_type").collect().map(_.toSeq)
    val b = Gold.powerDailyByType(Silver.powerToSilver(connBronze))
      .orderBy("date", "production_type").collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
  }

  test("dates: inclusive range + validation") {
    assert(Dates.dateRange("2025-01-01", "2025-01-07").size == 7)
    assert(Dates.dateRange("2025-01-01", "2025-01-01").size == 1)
    intercept[IllegalArgumentException] {
      Dates.dateRange("2025-01-02", "2025-01-01")
    }
  }
}
