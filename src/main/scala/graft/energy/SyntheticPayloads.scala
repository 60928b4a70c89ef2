package graft.energy

import java.time.LocalDate

/** Deterministic Energy-Charts payload generator (FIXTURES.md A1/A2
  * shapes) behind [[FixtureEnergySource.synthetic]]: each payload is a
  * pure function of its date, so a backfill of any width needs no
  * checked-in files.
  */
object SyntheticPayloads {
  val DefaultProductionTypes: Seq[String] =
    Seq("Wind offshore", "Wind onshore", "Solar", "Biomass")

  private def epoch(d: LocalDate): Long = d.toEpochDay * 86400L

  def powerPayload(
      d: LocalDate,
      productionTypes: Seq[String] = DefaultProductionTypes,
      pointsPerDay: Int = 96,
  ): String = {
    val ts = (0 until pointsPerDay).map(i => epoch(d) + i * 86400L / pointsPerDay)
    val types = productionTypes.zipWithIndex
      .map { case (name, ti) =>
        val data = ts.indices
          .map(i => BigDecimal(100.0 * (ti + 1) + i * 0.25).setScale(2))
          .mkString("[", ",", "]")
        s"""{"name": "$name", "data": $data}"""
      }
      .mkString("[", ",", "]")
    s"""{"unix_seconds": ${ts.mkString("[", ",", "]")}, "production_types": $types, "deprecated": null}"""
  }

  def pricePayload(d: LocalDate, pointsPerDay: Int = 24): String = {
    val ts = (0 until pointsPerDay).map(i => epoch(d) + i * 86400L / pointsPerDay)
    val prices = ts.indices
      .map(i => BigDecimal(50.0 + (i % 7) * 3.5).setScale(2))
      .mkString("[", ",", "]")
    s"""{"license_info": "CC BY 4.0", "unix_seconds": ${ts.mkString("[", ",", "]")}, "price": $prices, "unit": "EUR / MWh", "deprecated": false}"""
  }
}
