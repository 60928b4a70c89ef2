package perfbench

import java.time.LocalDate
import scala.util.Random
import graft.energy.{EnergySource, FixtureEnergySource}

/** What was planted in one series (one production type of one day, or
  * one day of prices).
  */
object Fault extends Enumeration {
  val None, Malformed, Nulls, Misaligned, Drift = Value
}

/** One generated series as the benchmark intends it: timestamps and
  * values (`None` is a JSON null), before rendering to a payload.
  */
final case class Series(
    date: LocalDate, key: String, ts: Vector[Long], values: Vector[Option[Double]],
    fault: Fault.Value) {

  /** Array entries the source hands over for this series. */
  def entries: Int = math.max(ts.size, values.size)

  /** The (timestamp, value) points that should reach Silver: pairs
    * matched by position, minus nulls; none for a malformed payload.
    */
  def kept: Vector[(Long, Double)] =
    if (fault == Fault.Malformed) Vector.empty
    else ts.zip(values).collect { case (t, Some(v)) => (t, v) }

  def dropped: Int = entries - kept.size
}

/** Shape of a medallion workload's generated input. */
final case class MedallionShape(
    days: Int, types: Int, powerPoints: Int, pricePoints: Int)

/** Seeded Energy-Charts input with planted faults, in the payload shape
  * of `graft.energy.SyntheticPayloads`. Every payload is a pure function
  * of (seed, shape), so the same seed gives byte-identical inputs.
  *
  * Rates, per series: a malformed payload (the whole day, per table)
  * 2%; JSON nulls among the points 1.5%; value and timestamp arrays of
  * different lengths 1.5%; and, for prices, the value array under the
  * drifted names `prices` or `data` 6%. A series carries at most one
  * fault, so every dropped point has exactly one reason.
  */
final class MedallionInput(val seed: Long, val shape: MedallionShape) {
  import MedallionInput._

  val start: LocalDate = LocalDate.of(2020, 1, 1).plusDays(math.floorMod(seed, 365L))
  val dates: Vector[LocalDate] = Vector.tabulate(shape.days)(i => start.plusDays(i.toLong))
  val typeNames: Vector[String] = AllTypes.take(shape.types)

  private def stamps(d: LocalDate, n: Int): Vector[Long] =
    Vector.tabulate(n)(i => d.toEpochDay * 86400L + i * 86400L / n)

  private def values(rng: Random, n: Int): Vector[Option[Double]] =
    Vector.fill(n)(Some(rng.nextInt(200000) / 100.0))

  /** Apply a non-malformed fault to one series' arrays. */
  private def plant(
      rng: Random, d: LocalDate, key: String, ts: Vector[Long],
      vs: Vector[Option[Double]], driftAllowed: Boolean): Series = {
    val u = rng.nextDouble()
    if (u < NullRate) {
      val k = 1 + rng.nextInt(3)
      val idx = rng.shuffle(vs.indices.toVector).take(k).toSet
      Series(d, key, ts, vs.zipWithIndex.map { case (v, i) => if (idx(i)) None else v }, Fault.Nulls)
    } else if (u < NullRate + MisalignRate) {
      val m = 1 + rng.nextInt(4)
      if (rng.nextBoolean()) Series(d, key, ts, vs.dropRight(m), Fault.Misaligned)
      else Series(d, key, ts, vs ++ Vector.fill(m)(Some(rng.nextInt(200000) / 100.0)), Fault.Misaligned)
    } else if (driftAllowed && u < NullRate + MisalignRate + DriftRate)
      Series(d, key, ts, vs, Fault.Drift)
    else Series(d, key, ts, vs, Fault.None)
  }

  /** Power series per day (one per production type). */
  val power: Vector[Vector[Series]] = dates.zipWithIndex.map { case (d, di) =>
    val rng = new Random(seed * 1000003L + di * 2L)
    val ts = stamps(d, shape.powerPoints)
    val malformed = rng.nextDouble() < MalformedRate
    typeNames.map { t =>
      val vs = values(rng, shape.powerPoints)
      if (malformed) Series(d, t, ts, vs, Fault.Malformed)
      else plant(rng, d, t, ts, vs, driftAllowed = false)
    }
  }

  /** Price series per day. */
  val price: Vector[Series] = dates.zipWithIndex.map { case (d, di) =>
    val rng = new Random(seed * 1000003L + di * 2L + 1L)
    val ts = stamps(d, shape.pricePoints)
    val vs = values(rng, shape.pricePoints)
    if (rng.nextDouble() < MalformedRate) Series(d, Bzn, ts, vs, Fault.Malformed)
    else plant(rng, d, Bzn, ts, vs, driftAllowed = true)
  }

  private def arr(xs: Seq[String]) = xs.mkString("[", ",", "]")
  private def num(v: Option[Double]) =
    v.fold("null")(x => String.format(java.util.Locale.ROOT, "%.2f", Double.box(x)))

  /** A malformed payload is a valid one cut short inside its first
    * array, so no field of it can be extracted.
    */
  private def cut(json: String): String = json.take(json.indexOf("unix_seconds") + 24)

  val powerPayloads: Map[LocalDate, String] = power.map { day =>
    val d = day.head.date
    val types = day.map(s => s"""{"name": "${s.key}", "data": ${arr(s.values.map(num))}}""")
    val json = s"""{"unix_seconds": ${arr(day.head.ts.map(_.toString))}, "production_types": ${arr(types)}, "deprecated": null}"""
    d -> (if (day.head.fault == Fault.Malformed) cut(json) else json)
  }.toMap

  val pricePayloads: Map[LocalDate, String] = price.map { s =>
    val field = if (s.fault != Fault.Drift) "price"
      else if (math.floorMod(s.date.toEpochDay + seed, 2L) == 0) "prices" else "data"
    val json = s"""{"license_info": "CC BY 4.0", "unix_seconds": ${arr(s.ts.map(_.toString))}, "$field": ${arr(s.values.map(num))}, "unit": "EUR / MWh", "deprecated": false}"""
    s.date -> (if (s.fault == Fault.Malformed) cut(json) else json)
  }.toMap

  def payloadBytes: Long =
    (powerPayloads.valuesIterator ++ pricePayloads.valuesIterator)
      .map(_.getBytes("UTF-8").length.toLong).sum

  def source: FixtureEnergySource = new FixtureEnergySource(powerPayloads, pricePayloads)

  def allSeries: Seq[Series] = power.flatten ++ price

  /** Points dropped between the payloads and Silver, by planted reason. */
  def plantedDrops: Map[Fault.Value, Long] =
    allSeries.groupBy(_.fault).map { case (f, ss) => f -> ss.map(_.dropped.toLong).sum }

  def entries: Long = allSeries.map(_.entries.toLong).sum

  /** Gold as plain Scala computes it from the generated series. */
  def expectedGold: Gold = {
    val powerDaily = power.flatten.filter(_.kept.nonEmpty)
      .map(s => (s.date.toString, s.key) -> s.kept.map(_._2).sum).toMap
    val priceDaily = price.filter(_.kept.nonEmpty)
      .map(s => s.date.toString -> s.kept.map(_._2).sum / s.kept.size).toMap
    val join = powerDaily.collect {
      case ((d, t), v) if t == "Wind offshore" && priceDaily.contains(d) => d -> (v, priceDaily(d))
    }
    Gold(powerDaily, priceDaily, join)
  }

  def expectedSilverRows: (Long, Long) =
    (power.flatten.map(_.kept.size.toLong).sum, price.map(_.kept.size.toLong).sum)
}

object MedallionInput {
  val MalformedRate = 0.02
  val NullRate = 0.015
  val MisalignRate = 0.015
  val DriftRate = 0.06
  val Bzn = "DE-LU"

  /** Production types in the order a shape takes them; "Wind offshore"
    * comes first so every shape feeds the Gold join.
    */
  val AllTypes: Vector[String] = Vector(
    "Wind offshore", "Wind onshore", "Solar", "Biomass", "Hydro Run-of-River",
    "Hydro water reservoir", "Hydro pumped storage", "Fossil brown coal / lignite",
    "Fossil hard coal", "Fossil oil", "Fossil gas", "Geothermal", "Nuclear", "Waste",
    "Others", "Load", "Residual load", "Renewable share of load",
    "Renewable share of generation", "Cross border electricity trading")
}

/** Gold tables keyed for comparison: power by (date, type), price by
  * date, the join by date as (offshore, price).
  */
final case class Gold(
    powerDaily: Map[(String, String), Double],
    priceDaily: Map[String, Double],
    join: Map[String, (Double, Double)])

object Gold {

  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  private def diffMap[K](table: String, exp: Map[K, Double], got: Map[K, Double]): Seq[String] = {
    val missing = (exp.keySet -- got.keySet).toSeq.map(k => s"$table: missing $k")
    val extra = (got.keySet -- exp.keySet).toSeq.map(k => s"$table: unexpected $k")
    val wrong = exp.keySet.intersect(got.keySet).toSeq.collect {
      case k if !close(exp(k), got(k)) => s"$table: $k expected ${exp(k)} got ${got(k)}"
    }
    (missing ++ extra ++ wrong).sorted
  }

  /** Every difference between the expected and the observed Gold. */
  def compare(expected: Gold, observed: Gold): Seq[String] =
    diffMap("power_daily_by_type", expected.powerDaily, observed.powerDaily) ++
      diffMap("price_daily", expected.priceDaily, observed.priceDaily) ++
      diffMap("power_price_daily.offshore", expected.join.map { case (k, v) => k -> v._1 },
        observed.join.map { case (k, v) => k -> v._1 }) ++
      diffMap("power_price_daily.price", expected.join.map { case (k, v) => k -> v._2 },
        observed.join.map { case (k, v) => k -> v._2 })

  /** Measured drops by reason: each series' entries minus the Silver
    * rows observed for it, credited to the fault planted in it. A drop
    * in a series with no fault that loses points is reported under
    * `unexplained`.
    */
  def measuredDrops(series: Seq[Series], observedRows: Map[(String, String), Long]): Map[String, Long] =
    series.groupBy(s => reason(s.fault)).map { case (r, ss) =>
      r -> ss.map(s => s.entries - observedRows.getOrElse((s.date.toString, s.key), 0L)).sum
    }

  def reason(f: Fault.Value): String = f match {
    case Fault.Malformed => "malformed"
    case Fault.Nulls => "null"
    case Fault.Misaligned => "misaligned"
    case _ => "unexplained"
  }
}

/** Wraps the generated source to time and count the pipeline's fetches. */
final class TimedSource(inner: EnergySource) extends EnergySource {
  @volatile var calls = 0L
  @volatile var nanos = 0L
  @volatile var bytes = 0L
  /** Called with (span name, start ms, end ms) after each fetch on a
    * traced pass.
    */
  @volatile var onCall: Option[(String, Double, Double) => Unit] = None

  def reset(): Unit = { calls = 0; nanos = 0; bytes = 0 }

  private def timed(name: String)(body: => String): String = {
    val wall0 = System.currentTimeMillis().toDouble
    val t0 = System.nanoTime()
    val out = body
    val ns = System.nanoTime() - t0
    nanos += ns
    calls += 1
    bytes += out.getBytes("UTF-8").length
    onCall.foreach(_(name, wall0, wall0 + ns / 1e6))
    out
  }

  override def publicPower(country: String, date: LocalDate): String =
    timed("source.power")(inner.publicPower(country, date))
  override def price(bzn: String, date: LocalDate): String =
    timed("source.price")(inner.price(bzn, date))
}
