package perfbench

import org.scalatest.funsuite.AnyFunSuite

class MedallionInputSpec extends AnyFunSuite {
  private val shape = MedallionShape(days = 400, types = 4, powerPoints = 96, pricePoints = 24)

  test("the same seed gives the same inputs") {
    val a = new MedallionInput(7, shape)
    val b = new MedallionInput(7, shape)
    assert(a.powerPayloads == b.powerPayloads)
    assert(a.pricePayloads == b.pricePayloads)
    assert(a.plantedDrops == b.plantedDrops)
  }

  test("another seed gives other inputs") {
    val a = new MedallionInput(7, shape)
    val b = new MedallionInput(8, shape)
    assert(a.powerPayloads.values.toSet != b.powerPayloads.values.toSet)
  }

  test("every fault is planted, and each drops what it should") {
    val in = new MedallionInput(3, shape)
    val faults = in.allSeries.groupBy(_.fault)
    Seq(Fault.Malformed, Fault.Nulls, Fault.Misaligned, Fault.Drift).foreach { f =>
      assert(faults.contains(f), s"no $f series")
    }
    faults(Fault.Malformed).foreach(s => assert(s.kept.isEmpty))
    faults(Fault.Nulls).foreach(s => assert(s.dropped == s.values.count(_.isEmpty)))
    faults(Fault.Misaligned).foreach(s => assert(s.dropped == math.abs(s.ts.size - s.values.size)))
    (faults(Fault.None) ++ faults(Fault.Drift)).foreach(s => assert(s.dropped == 0))
    assert(in.pricePayloads.values.exists(_.contains("\"prices\":")))
    assert(in.pricePayloads.values.exists(_.contains("\"data\":")))
  }

  test("payloads keep the Energy-Charts shape") {
    val in = new MedallionInput(1, shape)
    val ok = in.power.find(_.head.fault != Fault.Malformed).get.head.date
    assert(in.powerPayloads(ok).startsWith("{\"unix_seconds\": ["))
    assert(in.powerPayloads(ok).contains("\"production_types\": [{\"name\": \"Wind offshore\""))
    assert(in.pricePayloads(ok).startsWith("{\"license_info\": \"CC BY 4.0\""))
  }
}
