package perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** The checks must report wrong outputs, not only accept right ones. */
class CheckSpec extends AnyFunSuite {
  private val in = new MedallionInput(5, MedallionShape(days = 60, types = 4, powerPoints = 96, pricePoints = 24))

  test("the expected gold compares equal to itself") {
    assert(Gold.compare(in.expectedGold, in.expectedGold).isEmpty)
  }

  test("a corrupted gold value is reported") {
    val exp = in.expectedGold
    val (k, v) = exp.powerDaily.head
    val bad = exp.copy(powerDaily = exp.powerDaily.updated(k, v + 0.01))
    val failures = Gold.compare(exp, bad)
    assert(failures.size == 1 && failures.head.contains("power_daily_by_type"))
    val (d, (off, price)) = exp.join.head
    assert(Gold.compare(exp, exp.copy(join = exp.join.updated(d, (off, price * 1.001)))).nonEmpty)
    assert(Gold.compare(exp, exp.copy(priceDaily = exp.priceDaily - exp.priceDaily.head._1)).nonEmpty)
  }

  test("a corrupted digest is reported") {
    val rows = Seq(Row(1L, "a"), Row(2L, "b"))
    val recorded = Digest.of(rows.iterator)
    assert(Registry.verify("q", recorded, Digest.of(rows.reverseIterator)).isEmpty)
    assert(Registry.verify("q", recorded, Digest.of(Iterator(Row(1L, "a"), Row(2L, "c")))).nonEmpty)
    assert(Registry.verify("q", recorded, Digest.of(Iterator(Row(1, "a"), Row(2, "b")))).nonEmpty)
    assert(Registry.verify("q", recorded, Digest.of(rows.iterator ++ rows.iterator)).nonEmpty)
  }

  test("drops are measured per planted reason, and a lost clean row is unexplained") {
    val observed = in.allSeries.map(s => (s.date.toString, s.key) -> s.kept.size.toLong).toMap
    val measured = Gold.measuredDrops(in.allSeries, observed)
    val planted = in.plantedDrops.toSeq.groupBy(kv => Gold.reason(kv._1)).map { case (r, kvs) => r -> kvs.map(_._2).sum }
    assert(measured == planted)
    val clean = in.allSeries.find(_.fault == Fault.None).get
    val lossy = observed.updated((clean.date.toString, clean.key), clean.kept.size - 1L)
    assert(Gold.measuredDrops(in.allSeries, lossy)("unexplained") == 1L)
  }

  test("every seed runs the frozen sample, in its own order") {
    assert(Registry.sample(3).sorted == Registry.Sample.sorted)
    assert(Registry.sample(3) == Registry.sample(3))
    assert(Registry.sample(3) != Registry.sample(4))
    assert(Registry.Sample.exists(_.startsWith("st")), "no streaming query sampled")
  }

  test("every sampled query is recorded ok, with a digest") {
    val rows = Registry.load("registry/digests.tsv").map(r => r.name -> r).toMap
    Registry.Sample.foreach { n =>
      assert(rows.get(n).exists(r => r.status == "ok" && r.digest.contains(":")), n)
      assert(!Registry.Excluded(n), n)
    }
  }
}
