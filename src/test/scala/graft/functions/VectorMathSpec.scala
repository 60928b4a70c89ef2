package graft.functions

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** [[VectorMath]] is the one owner of the 2^20 fixed-point scale. */
class VectorMathSpec extends AnyFunSuite {

  test("no source under src/main outside VectorMath.scala spells the 2^20 scale") {
    // oracle SQL text (the `|` margin lines of the registry queries) is
    // the other engine's copy of the contract and may spell it
    val repoRoot = Paths.get(sys.props("user.dir"))
    assert(Files.exists(repoRoot.resolve("build.sbt")), s"cwd $repoRoot is not the repo root")
    val sources = Files.walk(repoRoot.resolve("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    val owner = sources.filter(_.getFileName.toString == "VectorMath.scala")
    assert(owner.exists(p => Files.readString(p).contains("1048576.0")),
      "the owner no longer spells the scale, so the scan proves nothing")
    val copies = for {
      p <- sources if p.getFileName.toString != "VectorMath.scala"
      rel = repoRoot.relativize(p).toString
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if line.contains("1048576.0")
      if !(rel.contains("/graft/queries/") && line.trim.startsWith("|"))
    } yield s"$rel:${i + 1}"
    assert(copies.isEmpty,
      s"the 2^20 scale spelled outside VectorMath: $copies — use VectorMath.quantize / Scale")
  }
}
