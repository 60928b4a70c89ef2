package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  test("executions are assigned to layers by the storage path they write") {
    assert(Trace.layerOf(Some("file:/w/store/bronze/power/v3")) == "bronze")
    assert(Trace.layerOf(Some("file:/w/store/silver/price/v0")) == "silver")
    assert(Trace.layerOf(Some("/w/store/gold/power_price_daily/v12")) == "gold")
    assert(Trace.layerOf(None) == "pipeline.result")
  }

  test("a layer name must be a whole path segment") {
    assert(Trace.layerOf(Some("file:/w/goldfish/bronzeage/x")) == "other")
  }

  test("self time is the duration minus the union of the children") {
    val parent = Span(1, 0, "p", 0.0, 1000.0, "r")
    val kids = Seq(Span(2, 1, "a", 100.0, 400.0, "r"), Span(3, 1, "b", 300.0, 500.0, "r"),
      Span(4, 1, "c", 900.0, 1200.0, "r"))
    assert(math.abs(Trace.selfTimeS(parent, kids) - 0.5) < 1e-12)
    assert(Trace.selfTimeS(parent, Nil) == 1.0)
  }
}
