package graft.streaming

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every streaming drive reads its input through
  * [[StreamRun.parquetSource]]: the schema cache and the table glob
  * filter live in one place (hand-copied sources had repeated them at
  * 13 sites).
  */
class StreamRunSpec extends AnyFunSuite {

  test("no source under src/main outside StreamRun.scala calls readStream") {
    val readers = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter((p: Path) => Files.readString(p).contains("readStream"))
      .map(_.getFileName.toString).toList
    // the scan must see the one legitimate source, or it proves nothing
    assert(readers.contains("StreamRun.scala"))
    assert(readers.filterNot(_ == "StreamRun.scala").isEmpty,
      s"readStream outside StreamRun: $readers")
  }
}
