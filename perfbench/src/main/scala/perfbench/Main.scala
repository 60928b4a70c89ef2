package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Command-line options of one benchmark run. */
final case class Opts(
    workload: String, seed: Long, seconds: Double, trace: Boolean,
    runDir: String, dataDir: String, digests: String, traceOut: String)

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("run-dir"), need("data"), need("digests"), need("trace-out"))
  }
}

/** Result of one pass: its wall and CPU time, the wall time of each
  * query it ran (registry passes), the failures it met and, when traced,
  * its per-layer metrics.
  */
final case class PassOut(
    wallS: Double, cpuS: Double, ops: Seq[Double], attempted: Int,
    failures: Seq[String], layers: Map[String, Double])

/** A workload: set-up work that is repeated and timed as `setup_s`, the
  * pass that is timed, and the check of the outputs.
  */
trait Workload {
  /** Build the inputs for a fresh set-up; runs once per set-up. */
  def prepare(spark: SparkSession): Unit
  /** The untimed pass that ends a set-up. */
  def warm(spark: SparkSession): PassOut = pass(spark, None)
  /** One pass of the workload; `tracer` is set on traced passes. */
  def pass(spark: SparkSession, tracer: Option[(Tracer, Long)]): PassOut
  /** Check the outputs of the last pass; returns (attempted, failures)
    * and the measured layer metrics that come from the check.
    */
  def check(spark: SparkSession): (Int, Seq[String], Map[String, Double])
  /** Layer metrics describing the state the passes left (storage). */
  def endState(): Map[String, Double] = Map.empty
}

object Main {

  /** Every per-layer metric and its unit; a workload that does not run a
    * layer reports 0 for it.
    */
  val LayerMetrics: Seq[(String, String)] = Seq(
    "queries.build_s" -> "s", "queries.build_jobs" -> "count", "queries.p50_s" -> "s",
    "queries.tail_s" -> "s", "queries.tail_pct" -> "%", "queries.samples" -> "count",
    "tables.read_jobs" -> "count", "tables.read_job_s" -> "s",
    "catalyst.plan_s" -> "s",
    "exec.s" -> "s", "exec.jobs" -> "count", "exec.tasks" -> "count",
    "exec.task_run_s" -> "s", "exec.task_cpu_s" -> "s", "exec.shuffle_bytes" -> "bytes",
    "exec.spill_bytes" -> "bytes", "exec.gc_s" -> "s", "exec.core_busy_ratio" -> "ratio",
    "exec.uncovered_s" -> "s",
    "streaming.drain_s" -> "s", "streaming.overhead_s" -> "s",
    "source.s" -> "s", "source.calls" -> "count", "source.payload_bytes" -> "bytes",
    "bronze.s" -> "s", "bronze.jobs" -> "count", "bronze.tasks" -> "count",
    "bronze.rows" -> "count", "bronze.files" -> "count", "bronze.bytes" -> "bytes",
    "silver.s" -> "s", "silver.tasks" -> "count", "silver.task_cpu_s" -> "s",
    "silver.rows" -> "count", "silver.files" -> "count", "silver.bytes" -> "bytes",
    "silver.dropped_malformed" -> "count", "silver.dropped_null" -> "count",
    "silver.dropped_misaligned" -> "count", "silver.yield" -> "ratio",
    "gold.s" -> "s", "gold.tasks" -> "count", "gold.shuffle_bytes" -> "bytes", "gold.rows" -> "count",
    "pipeline.result_s" -> "s",
    "atomic.versions_retained" -> "count", "atomic.files_retained" -> "count",
    "atomic.bytes_retained" -> "bytes", "atomic.stored_bytes_per_input_byte" -> "ratio",
    "trace.overhead_ratio" -> "ratio",
  )

  val SetUps = 3
  val MinPasses = 3

  def workload(o: Opts): Workload = o.workload match {
    case "registry_sample" => new RegistryWorkload(o.dataDir, o.digests, o.seed)
    case "backfill_days" =>
      new MedallionWorkload(o.seed, MedallionShape(days = 64, types = 4, powerPoints = 96, pricePoints = 24),
        new File(o.runDir, "store").getPath)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs: Long = osBean.getProcessCpuTime

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val localDir = new File(o.runDir, "spark-local").getPath
    val wl = workload(o)
    val failures = mutable.ArrayBuffer[String]()
    var attempted = 0

    // Set-up, repeated so its median is stable: a new session, the
    // workload's inputs, and one untimed pass.
    var spark: SparkSession = null
    val setups = (1 to SetUps).map { _ =>
      if (spark != null) Session.stop(spark)
      val t0 = System.nanoTime()
      spark = Session.start(localDir)
      wl.prepare(spark)
      val warm = wl.warm(spark)
      attempted += warm.attempted
      failures ++= warm.failures
      val t = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] set-up $t%.3f s")
      t
    }

    // Timed passes, closed loop: each starts when the last one ends.
    // A traced run alternates untraced and traced passes, so the
    // difference between the two is the tracing overhead.
    val tracer = new Tracer(s"${o.workload}-${o.seed}-${System.currentTimeMillis()}")
    val plain = mutable.ArrayBuffer[PassOut]()
    val traced = mutable.ArrayBuffer[PassOut]()
    val t0 = System.nanoTime()
    var i = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (elapsed < o.seconds || plain.size < MinPasses || (o.trace && traced.size < MinPasses)) {
      val out =
        if (o.trace && i % 2 == 1) {
          val (p, _) = tracer.span(s"pass.$i", 0L)(id => wl.pass(spark, Some((tracer, id))))
          traced += p; p
        } else {
          val p = wl.pass(spark, None)
          plain += p; p
        }
      attempted += out.attempted
      failures ++= out.failures
      System.err.println(f"[perfbench] pass $i wall ${out.wallS}%.3f s cpu ${out.cpuS}%.3f s" +
        (if (out.ops.isEmpty) "" else out.ops.map(o => f"$o%.3f").mkString(" ops ", " ", "")))
      i += 1
    }

    // Spark's context cleaner drops broadcast and shuffle blocks only
    // after their owners are collected, asynchronously; collect again
    // once it has had time to run.
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val (checked, checkFailures, checkLayers) = wl.check(spark)
    attempted += checked
    failures ++= checkFailures
    val endState = wl.endState()
    Session.stop(spark)

    failures.foreach(f => System.err.println(s"[perfbench] FAILED $f"))
    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) {
        Seq(
          ("setup_s", Stats.median(setups), "s"),
          ("run_s", Stats.median(plain.map(_.wallS).toSeq), "s"),
          ("cpu_s", Stats.median(plain.map(_.cpuS).toSeq), "s"),
          ("retained_heap_mb", heapMb, "MB"))
      } else {
        // query times are the harness's own and need no listener, so
        // they come from the untraced passes
        val ops = plain.flatMap(_.ops).toSeq
        val tail = Stats.tailPercentile(ops.size)
        val derived = Map(
          "queries.samples" -> ops.size.toDouble,
          "queries.p50_s" -> (if (ops.isEmpty) 0.0 else Stats.median(ops)),
          "queries.tail_pct" -> tail.getOrElse(0.0),
          "queries.tail_s" -> tail.map(Stats.percentile(ops, _)).getOrElse(0.0),
          "trace.overhead_ratio" ->
            (Stats.median(traced.map(_.wallS).toSeq) / Stats.median(plain.map(_.wallS).toSeq) - 1.0))
        val perPass = LayerMetrics.map(_._1).map { k =>
          k -> Stats.median(traced.map(_.layers.getOrElse(k, 0.0)).toSeq)
        }.toMap
        val all = perPass ++ checkLayers ++ endState ++ derived
        LayerMetrics.map { case (k, u) => (k, all.getOrElse(k, 0.0), u) }
      }
    Files.write(o.traceOut, tracer.render +
      failures.map(f => Json.obj(Seq("failure" -> Json.str(f)))).mkString("", "\n", "\n") +
      Json.obj(metrics.map { case (k, v, u) => k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }) + "\n")
    val line = Json.obj(Seq(
      "correct" -> (failures.isEmpty).toString,
      "attempted" -> attempted.toString,
      "failed" -> failures.size.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
    println(line)
  }

  /** Per-layer metrics of one traced pass from the Spark collector,
    * for the whole pass: jobs, tasks and the time no task was running.
    */
  def execMetrics(c: Collector, passStartMs: Double, passEndMs: Double): Map[String, Double] = {
    val ts = c.tasks.asScala.toSeq
    val js = c.jobs.values.asScala.toSeq
    val wallMs = passEndMs - passStartMs
    val taskMs = ts.map(t => (t.finishMs - t.launchMs).toDouble).sum
    Map(
      "exec.s" -> Trace.coveredMs(js.map(j => (j.startMs.toDouble, j.endMs.toDouble)), passStartMs, passEndMs) / 1000.0,
      "exec.jobs" -> js.size.toDouble,
      "exec.tasks" -> ts.size.toDouble,
      "exec.task_run_s" -> ts.map(_.runMs).sum / 1000.0,
      "exec.task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "exec.shuffle_bytes" -> ts.map(_.shuffleWriteBytes).sum.toDouble,
      "exec.spill_bytes" -> ts.map(_.spillBytes).sum.toDouble,
      "exec.gc_s" -> ts.map(_.gcMs).sum / 1000.0,
      "exec.core_busy_ratio" -> (if (wallMs > 0) taskMs / (wallMs * Session.cores) else 0.0),
      "exec.uncovered_s" ->
        (wallMs - Trace.coveredMs(ts.map(t => (t.launchMs.toDouble, t.finishMs.toDouble)), passStartMs, passEndMs)) / 1000.0,
    )
  }

  def describe(e: Throwable): String =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")}"
}

/** The query registry, sampled by seed. */
final class RegistryWorkload(dataDir: String, digestsPath: String, seed: Long) extends Workload {
  private val rows = Registry.load(digestsPath).map(r => r.name -> r).toMap
  val names: Seq[String] = Registry.sample(seed)
  names.filterNot(n => rows.get(n).exists(_.status == "ok")).foreach { n =>
    throw new IllegalStateException(s"sampled query $n is not recorded ok in $digestsPath")
  }
  private def queries = graft.SparkEntry.queries

  def prepare(spark: SparkSession): Unit = ()

  def pass(spark: SparkSession, tracer: Option[(Tracer, Long)]): PassOut = {
    val sc = spark.sparkContext
    val collector = tracer.map(_ => new Collector(spark))
    collector.foreach(_.attach())
    val wall0 = System.currentTimeMillis().toDouble
    val t0 = System.nanoTime()
    val c0 = Main.cpuNs
    val failures = mutable.ArrayBuffer[String]()
    val times = mutable.ArrayBuffer[Double]()
    val layer = mutable.Map[String, Double]().withDefaultValue(0.0)
    val phaseSpans = mutable.Map[Long, String]()
    names.foreach { name =>
      graft.streaming.StreamRun.resetStats()
      val q0 = System.nanoTime()
      def phase[T](label: String, parent: Long)(body: => T): T = tracer match {
        case None => body
        case Some((tr, _)) =>
          val (out, s) = tr.span(label, parent) { id =>
            sc.setLocalProperty(Collector.SpanProp, id.toString)
            try body finally sc.setLocalProperty(Collector.SpanProp, null)
          }
          phaseSpans(s.id) = label
          if (label == "build") layer("queries.build_s") += s.durS
          if (label == "plan") layer("catalyst.plan_s") += s.durS
          out
      }
      def run(parent: Long): Unit = {
        val df: DataFrame = phase("build", parent)(queries(name)(spark, dataDir))
        phase("plan", parent)(df.queryExecution.executedPlan)
        phase("write", parent)(df.write.format("noop").mode("overwrite").save())
      }
      try {
        tracer match {
          case Some((tr, passId)) => tr.span(s"query:$name", passId)(run)
          case None => run(0L)
        }
        times += (System.nanoTime() - q0) / 1e9
      } catch {
        case e: Throwable => failures += s"$name: ${Main.describe(e)}"
      }
      val drives = graft.streaming.StreamRun.drainedStats()
      layer("streaming.drain_s") += drives.map(_.drainS).sum
      layer("streaming.overhead_s") += drives.map(_.overheadS).sum
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val cpuS = (Main.cpuNs - c0) / 1e9
    val layers = collector.map { c =>
      c.detach()
      val js = c.jobs.values.asScala.toSeq
      val reads = js.filter(_.stageName.contains("Tables.scala"))
      layer.toMap ++ Main.execMetrics(c, wall0, wall0 + wallS * 1000) ++ Map(
        "queries.build_jobs" -> js.count(_.span.exists(phaseSpans.get(_).contains("build"))).toDouble,
        "tables.read_jobs" -> reads.size.toDouble,
        "tables.read_job_s" -> reads.map(j => (j.endMs - j.startMs).toDouble).sum / 1000.0)
    }.getOrElse(Map.empty)
    PassOut(wallS, cpuS, times.toSeq, names.size, failures.toSeq, layers)
  }

  /** The set-up pass collects each query and checks its digest, so every
    * set-up checks the outputs.
    */
  override def warm(spark: SparkSession): PassOut = {
    val t0 = System.nanoTime()
    val failures = names.flatMap { name =>
      val got = try Digest.of(queries(name)(spark, dataDir)) catch {
        case e: Throwable => s"error ${Main.describe(e)}"
      }
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      Registry.verify(name, rows(name).digest, got)
    }
    PassOut((System.nanoTime() - t0) / 1e9, 0.0, Nil, names.size, failures, Map.empty)
  }

  def check(spark: SparkSession): (Int, Seq[String], Map[String, Double]) = (0, Nil, Map.empty)
}

/** `EnergyPipeline.run` over generated input, re-run into one storage
  * root like a daily overwrite.
  */
final class MedallionWorkload(seed: Long, shape: MedallionShape, storeRoot: String) extends Workload {
  private var input: MedallionInput = _
  private var source: TimedSource = _
  private var last: graft.energy.PipelineResult = _
  private def config: graft.energy.EnergyConfig =
    graft.energy.EnergyConfig.default(storeRoot)
      .copy(backfill = graft.energy.BackfillConfig(input.dates.head, input.dates.last))

  def prepare(spark: SparkSession): Unit = {
    Files.deleteRecursive(new File(storeRoot))
    input = new MedallionInput(seed, shape)
    source = new TimedSource(input.source)
  }

  def pass(spark: SparkSession, tracer: Option[(Tracer, Long)]): PassOut = {
    val collector = tracer.map(_ => new Collector(spark))
    collector.foreach(_.attach())
    source.reset()
    source.onCall = tracer.map { case (tr, passId) => (name: String, a: Double, b: Double) => tr.add(name, passId, a, b): Unit }
    val wall0 = System.currentTimeMillis().toDouble
    val t0 = System.nanoTime()
    val c0 = Main.cpuNs
    val failures = mutable.ArrayBuffer[String]()
    try {
      last = graft.energy.EnergyPipeline.run(spark, config, source)
    } catch {
      case e: Throwable => failures += s"EnergyPipeline.run: ${Main.describe(e)}"; last = null
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val cpuS = (Main.cpuNs - c0) / 1e9
    val layers = collector.zip(tracer).map { case (c, (tr, passId)) =>
      c.detach()
      val runSpan = tr.add("pipeline.run", passId, wall0, wall0 + wallS * 1000)
      layerMetrics(c, tr, runSpan.id) ++ Main.execMetrics(c, wall0, wall0 + wallS * 1000) ++ Map(
        "source.s" -> source.nanos / 1e9,
        "source.calls" -> source.calls.toDouble,
        "source.payload_bytes" -> source.bytes.toDouble)
    }.getOrElse(Map.empty)
    source.onCall = None
    PassOut(wallS, cpuS, Nil, 1, failures.toSeq, layers)
  }

  /** Time, jobs, tasks and write metrics per medallion layer, assigning
    * each SQL execution to a layer by the storage path it writes.
    */
  private def layerMetrics(c: Collector, tr: Tracer, parent: Long): Map[String, Double] = {
    val roots = c.execs.values.asScala.toSeq.filter(e => e.id == e.root && e.endMs >= 0)
    val layerOf = roots.map(e => e.id -> c.layerOfExec(e.id)).toMap
    roots.foreach(e => tr.add(layerOf(e.id), parent, e.startMs.toDouble, e.endMs.toDouble))
    val rootOf = c.execs.values.asScala.map(e => e.id -> e.root).toMap
    val jobLayer = c.jobs.values.asScala.toSeq.flatMap(j =>
      j.executionId.map(id => j -> layerOf.getOrElse(rootOf.getOrElse(id, id), "other")))
    val stageLayer = jobLayer.flatMap { case (j, l) => j.stages.map(_ -> l) }.toMap
    val tasksBy = c.tasks.asScala.toSeq.groupBy(t => stageLayer.getOrElse(t.stageId, "none"))
    def sumS(l: String) = roots.filter(e => layerOf(e.id) == l).map(e => (e.endMs - e.startMs).toDouble).sum / 1000.0
    def writes(l: String) = roots.filter(e => layerOf(e.id) == l).map(e => c.written(e.id))
    def tasks(l: String) = tasksBy.getOrElse(l, Nil)
    Seq("bronze", "silver", "gold").flatMap { l =>
      val w = writes(l)
      Seq(
        s"$l.s" -> sumS(l),
        s"$l.jobs" -> jobLayer.count(_._2 == l).toDouble,
        s"$l.tasks" -> tasks(l).size.toDouble,
        s"$l.task_cpu_s" -> tasks(l).map(_.cpuNs).sum / 1e9,
        s"$l.shuffle_bytes" -> tasks(l).map(_.shuffleWriteBytes).sum.toDouble,
        s"$l.rows" -> w.map(_._1).sum.toDouble,
        s"$l.files" -> w.map(_._2).sum.toDouble,
        s"$l.bytes" -> w.map(_._3).sum.toDouble)
    }.toMap + ("pipeline.result_s" -> sumS("pipeline.result"))
  }

  /** Gold against plain Scala, Silver row counts, and drops by reason
    * against the planted counts.
    */
  def check(spark: SparkSession): (Int, Seq[String], Map[String, Double]) = {
    if (last == null) return (1, Seq("no pipeline result to check"), Map.empty)
    import org.apache.spark.sql.functions.{col, to_date}
    def str(v: Any) = v.toString
    val observed = Gold(
      last.goldPowerDaily.collect().map(r => (str(r.getAs[Any]("date")), r.getAs[String]("production_type")) ->
        r.getAs[Double]("daily_net_production")).toMap,
      last.goldPriceDaily.collect().map(r => str(r.getAs[Any]("date")) -> r.getAs[Double]("avg_price_eur_mwh")).toMap,
      last.goldJoin.collect().map(r => str(r.getAs[Any]("date")) ->
        (r.getAs[Double]("offshore_wind_daily"), r.getAs[Double]("avg_price_eur_mwh"))).toMap)
    val goldFailures = Gold.compare(input.expectedGold, observed)

    val (expPower, expPrice) = input.expectedSilverRows
    val countFailures = Seq(
      ("silver power rows", expPower, last.silverPowerRows),
      ("silver price rows", expPrice, last.silverPriceRows),
      ("bronze power rows", shape.days.toLong, last.bronzePowerRows),
      ("bronze price rows", shape.days.toLong, last.bronzePriceRows),
    ).collect { case (what, e, g) if e != g => s"$what: expected $e got $g" }

    // Silver rows per series, read from the committed Silver snapshots.
    val power = spark.read.parquet(committed(s"$storeRoot/silver/power"))
      .groupBy(col("date").cast("string"), col("production_type")).count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val price = spark.read.parquet(committed(s"$storeRoot/silver/price"))
      .groupBy(to_date(col("timestamp")).cast("string")).count().collect()
      .map(r => (r.getString(0), MedallionInput.Bzn) -> r.getLong(1)).toMap
    val measured = Gold.measuredDrops(input.allSeries, power ++ price)
    val planted = input.plantedDrops.toSeq.groupBy(kv => Gold.reason(kv._1))
      .map { case (r, kvs) => r -> kvs.map(_._2).sum }
    val dropFailures = (measured.keySet ++ planted.keySet).toSeq.sorted.collect {
      case r if measured.getOrElse(r, 0L) != planted.getOrElse(r, 0L) =>
        s"silver dropped_$r: planted ${planted.getOrElse(r, 0L)} measured ${measured.getOrElse(r, 0L)}"
    }
    val layers = Map(
      "silver.dropped_malformed" -> measured.getOrElse("malformed", 0L).toDouble,
      "silver.dropped_null" -> measured.getOrElse("null", 0L).toDouble,
      "silver.dropped_misaligned" -> measured.getOrElse("misaligned", 0L).toDouble,
      "silver.yield" -> (last.silverPowerRows + last.silverPriceRows).toDouble / input.entries)
    (1, goldFailures ++ countFailures ++ dropFailures, layers)
  }

  /** Latest committed snapshot directory of a layer table. */
  private def committed(root: String): String = {
    val V = "v(\\d+)".r
    Option(new File(root).listFiles()).getOrElse(Array.empty).toSeq
      .flatMap(f => f.getName match {
        case V(n) if new File(f, "_SUCCESS").exists() => Some(n.toInt -> f.getPath)
        case _ => None
      }).maxByOption(_._1).map(_._2).getOrElse(root)
  }

  override def endState(): Map[String, Double] = {
    val root = new File(storeRoot)
    val (files, bytes) = Files.usage(root)
    def tables(d: File, depth: Int): Seq[File] =
      if (depth == 0) Seq(d)
      else Option(d.listFiles()).getOrElse(Array.empty).toSeq.filter(_.isDirectory).flatMap(tables(_, depth - 1))
    val versions = tables(root, 2).flatMap(t => Option(t.listFiles()).getOrElse(Array.empty).toSeq)
      .count(v => v.getName.matches("v\\d+") && new File(v, "_SUCCESS").exists())
    Map(
      "atomic.versions_retained" -> versions.toDouble,
      "atomic.files_retained" -> files.toDouble,
      "atomic.bytes_retained" -> bytes.toDouble,
      "atomic.stored_bytes_per_input_byte" -> bytes.toDouble / input.payloadBytes)
  }
}
