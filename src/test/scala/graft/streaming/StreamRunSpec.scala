package graft.streaming

import graft.OwnerScan
import org.scalatest.funsuite.AnyFunSuite

/** Every streaming drive reads its input through
  * [[StreamRun.parquetSource]]: the schema cache and the table glob
  * filter live in one place (hand-copied sources had repeated them at
  * 13 sites).
  */
class StreamRunSpec extends AnyFunSuite {

  test("no source under src/main outside StreamRun.scala calls readStream") {
    val readers = OwnerScan.sitesOutside(OwnerScan.literal("readStream"), "StreamRun.scala")
    assert(readers.isEmpty, s"readStream outside StreamRun: $readers")
  }
}
