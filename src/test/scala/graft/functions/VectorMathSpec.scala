package graft.functions

import graft.OwnerScan
import org.scalatest.funsuite.AnyFunSuite

/** [[VectorMath]] is the one owner of the 2^20 fixed-point scale. */
class VectorMathSpec extends AnyFunSuite {

  test("no source under src/main outside VectorMath.scala spells the 2^20 scale") {
    // oracle SQL text (the `|` margin lines of the registry queries) is
    // the other engine's copy of the contract and may spell it
    val copies = OwnerScan.sitesOutside(OwnerScan.literal("1048576.0"), "VectorMath.scala",
      tree = "src/main/scala", oracleMargin = true)
    assert(copies.isEmpty,
      s"the 2^20 scale spelled outside VectorMath: $copies — use VectorMath.quantize / Scale")
  }
}
