package graft.energy

import java.time.LocalDate
import java.util.Properties
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import graft.SparkSpec
import graft.operators.Compaction
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
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

  test("configured dataset keys reach the source and the committed Bronze") {
    val start = day("2025-01-01")
    val cfg = EnergyConfig.default(graft.tools.Scratch.dir("energy-keys").toString).copy(
      backfill = BackfillConfig(start, start.plusDays(2)),
      datasets = Seq(
        DatasetConfig("public_power_fr", "public_power", Map("country" -> "fr")),
        DatasetConfig("price_at", "price", Map("bzn" -> "AT"))))
    val fixture = FixtureEnergySource.synthetic(
      Dates.dateRange(cfg.backfill.startDate, cfg.backfill.endDate))
    // every (method, key) the pipeline asks the source for
    val calls = new ConcurrentLinkedQueue[(String, String)]()
    val recording = new EnergySource {
      def publicPower(country: String, date: LocalDate): String = {
        calls.add("publicPower" -> country); fixture.publicPower(country, date)
      }
      def price(bzn: String, date: LocalDate): String = {
        calls.add("price" -> bzn); fixture.price(bzn, date)
      }
    }
    EnergyPipeline.run(spark, cfg, recording)

    val seen = calls.asScala.toSeq.groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap
    assert(seen == Map("publicPower" -> Set("fr"), "price" -> Set("AT")), s"calls: $calls")
    def keys(table: String, keyCol: String) =
      AtomicLayer.read(spark, cfg.storage.bronze(table))
        .select(keyCol).distinct().collect().map(_.getString(0)).toSeq
    assert(keys("power", "country") == Seq("fr"))
    assert(keys("price", "market") == Seq("AT"))
  }

  test("run launches only SQL-execution jobs, as many for 40 days as for 3") {
    val sc = spark.sparkContext
    val TagKey = "graft.test.pipeline_run"
    // the config `body` ran with, the properties of every job started
    // while it ran on this thread, and the physical plan of every SQL
    // execution started meanwhile
    def jobsDuring(body: => EnergyConfig): (EnergyConfig, Seq[Properties], Map[Long, String]) = {
      val tag = java.util.UUID.randomUUID().toString
      val jobs = new ConcurrentLinkedQueue[Properties]()
      val plans = new ConcurrentHashMap[Long, String]()
      val drained = new CountDownLatch(1)
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          Option(e.properties).map(p => (p, p.getProperty(TagKey))).foreach {
            case (p, `tag`) => jobs.add(p)
            case (_, t) if t == s"$tag.end" => drained.countDown()
            case _ => ()
          }
        override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
          case s: SparkListenerSQLExecutionStart => plans.put(s.executionId, s.physicalPlanDescription)
          case _ => ()
        }
      }
      sc.addSparkListener(listener)
      try {
        sc.setLocalProperty(TagKey, tag)
        val cfg = body
        // the listener bus is FIFO: once this sentinel job's start event
        // arrives, every job `body` launched has been seen
        sc.setLocalProperty(TagKey, s"$tag.end")
        sc.parallelize(Seq(1), 1).count()
        assert(drained.await(60, TimeUnit.SECONDS), "listener bus did not drain")
        (cfg, jobs.asScala.toSeq, plans.asScala.toMap)
      } finally {
        sc.setLocalProperty(TagKey, null)
        sc.removeSparkListener(listener)
      }
    }
    val short = jobsDuring(runDays("energy-jobs3", 3))
    // 40 day directories would be above Spark's 32-path parallel-listing threshold
    val long = jobsDuring(runDays("energy-jobs40", 40))
    for ((label, (cfg, jobs, plans)) <- Seq("3 days" -> short, "40 days" -> long)) {
      val bare = jobs.count(_.getProperty("spark.sql.execution.id") == null)
      assert(bare == 0,
        s"$label: $bare of ${jobs.size} jobs ran outside a SQL execution " +
          "(schema inference, file listing or an eager action)")
      // both chains run under the caller's local properties: the tagged
      // jobs' executions write every layer's next snapshot
      val tagged = jobs.flatMap(j => Option(j.getProperty("spark.sql.execution.id")))
        .flatMap(id => plans.get(id.toLong))
      val missed = EnergyPipeline.layerRoots(cfg.storage).filterNot(root => tagged.exists(_.contains(s"$root/v")))
      assert(missed.isEmpty, s"$label: no tagged job wrote under $missed")
    }
    assert(short._2.nonEmpty && long._2.size == short._2.size,
      s"jobs: ${short._2.size} for 3 days, ${long._2.size} for 40 days")
  }

  test("Bronze and Silver file counts follow payload bytes, not cores") {
    // data files in the committed Bronze and Silver snapshots, power first
    def files(cfg: EnergyConfig): Seq[Int] = EnergyPipeline.layerRoots(cfg.storage).take(4)
      .map(root => Compaction.dataFiles(spark, AtomicLayer.latestCommitted(spark, root).get).size)
    // a few hundred KB at most: one task per table on the 4-core session
    for (days <- Seq(3, 40)) assert(files(runDays(s"energy-files$days", days)) == Seq(1, 1, 1, 1),
      s"$days days")

    // ~1.3 MiB of power payload, 2.5 Bronze targets, padded in a field
    // Silver's schema ignores: three tasks, and the same Silver rows as
    // without padding
    val start = day("2025-01-01")
    val dates = Dates.dateRange(start, start.plusDays(4))
    val fixture = FixtureEnergySource.synthetic(dates)
    val pad = "x" * (256 * 1024)
    val padded = new EnergySource {
      def publicPower(country: String, date: LocalDate): String =
        s"""{"padding": "$pad", ${fixture.publicPower(country, date).drop(1)}"""
      def price(bzn: String, date: LocalDate): String = fixture.price(bzn, date)
    }
    def silverPower(prefix: String, src: EnergySource): (EnergyConfig, Seq[String]) = {
      val cfg = EnergyConfig.default(graft.tools.Scratch.dir(prefix).toString)
        .copy(backfill = BackfillConfig(dates.head, dates.last))
      EnergyPipeline.run(spark, cfg, src)
      (cfg, AtomicLayer.read(spark, cfg.storage.silver("power")).collect().map(_.toString).sorted.toSeq)
    }
    val (paddedCfg, paddedRows) = silverPower("energy-files-padded", padded)
    val (_, plainRows) = silverPower("energy-files-plain", fixture)
    assert(files(paddedCfg) == Seq(3, 1, 3, 1))
    assert(paddedRows.size == 5 * 96 * 4 && paddedRows == plainRows)
  }

  test("a failing fetch throws as is and commits no layer") {
    val start = day("2025-01-01")
    val cfg = EnergyConfig.default(graft.tools.Scratch.dir("energy-fetch-fail").toString)
      .copy(backfill = BackfillConfig(start, start.plusDays(2)))
    val fixture = FixtureEnergySource.synthetic(
      Dates.dateRange(cfg.backfill.startDate, cfg.backfill.endDate))
    val boom = new IllegalStateException("price feed down")
    val failing = new EnergySource {
      def publicPower(country: String, date: LocalDate): String = fixture.publicPower(country, date)
      def price(bzn: String, date: LocalDate): String =
        if (date == start.plusDays(1)) throw boom else fixture.price(bzn, date)
    }
    val thrown = intercept[IllegalStateException](EnergyPipeline.run(spark, cfg, failing))
    assert(thrown eq boom)
    val committed = EnergyPipeline.layerRoots(cfg.storage).filter(AtomicLayer.latestCommitted(spark, _).nonEmpty)
    assert(committed.isEmpty, s"committed despite the failed fetch: $committed")
  }

  test("a failing chain throws its own error only after the other chain committed") {
    val start = day("2025-01-01")
    // (Silver table made unwritable, Gold table of the other chain)
    val cases = Seq(Seq("price") -> Some("power_daily_by_type"),
      Seq("power") -> Some("price_daily"), Seq("power", "price") -> None)
    for ((broken, otherGold) <- cases) {
      val cfg = EnergyConfig.default(
        graft.tools.Scratch.dir(s"energy-chain-fail-${broken.mkString("-")}").toString)
        .copy(backfill = BackfillConfig(start, start.plusDays(2)))
      // a regular file where the Silver table root should be
      for (t <- broken) {
        val f = new java.io.File(cfg.storage.silver(t))
        f.getParentFile.mkdirs()
        assert(f.createNewFile())
      }
      val src = FixtureEnergySource.synthetic(
        Dates.dateRange(cfg.backfill.startDate, cfg.backfill.endDate))
      val thrown = intercept[Exception](EnergyPipeline.run(spark, cfg, src))
      // one failure per broken chain: the first thrown, the other suppressed
      val failures = thrown +: thrown.getSuppressed.toSeq
      assert(failures.size == broken.size, s"$broken: $failures")
      for (t <- broken) assert(failures.exists(_.getMessage.contains(cfg.storage.silver(t))),
        s"$broken: no failure names ${cfg.storage.silver(t)}: $failures")
      otherGold.foreach { g =>
        assert(AtomicLayer.latestCommitted(spark, cfg.storage.gold(g)).nonEmpty,
          s"$broken: run threw before $g committed")
      }
      assert(AtomicLayer.latestCommitted(spark, cfg.storage.gold("power_price_daily")).isEmpty)
    }
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

  test("dates: inclusive range + validation") {
    assert(Dates.dateRange("2025-01-01", "2025-01-07").size == 7)
    assert(Dates.dateRange("2025-01-01", "2025-01-01").size == 1)
    intercept[IllegalArgumentException] {
      Dates.dateRange("2025-01-02", "2025-01-01")
    }
  }
}
