package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** The source walk behind every one-owner guard spec: a pattern may
  * appear in its owner's source file and nowhere else under a tree.
  */
object OwnerScan {

  /** The repository root: the test JVM's working directory, which must
    * hold `build.sbt`. A bare relative path walks the wrong tree (a
    * vacuous pass) or throws when the cwd is not the repo root.
    */
  lazy val repoRoot: Path = {
    val root = Paths.get(sys.props("user.dir")).toAbsolutePath
    assert(Files.exists(root.resolve("build.sbt")),
      s"test cwd $root is not the repo root (no build.sbt)")
    root
  }

  /** `text` as a pattern that matches it literally. */
  def literal(text: String): Regex = Regex.quote(text).r

  /** Every match of `pattern` in the Scala sources under `tree` (a path
    * relative to the repo root) outside `owner` and `exempt` (suffixes
    * of a source's relative path), as `path:line`. Fails unless
    * `owner` itself matches `ownerMark` (by default the pattern), so an
    * empty or misdirected scan cannot pass. With `oracleMargin`, the
    * `|` margin lines of the registry queries (their oracle SQL, the
    * other engine's copy of a contract) are not scanned.
    */
  def sitesOutside(pattern: Regex, owner: String, tree: String = "src/main",
      exempt: Seq[String] = Nil, oracleMargin: Boolean = false,
      ownerMark: Option[Regex] = None): Seq[String] = {
    val sources = Files.walk(repoRoot.resolve(tree)).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => repoRoot.relativize(p).toString -> Files.readString(p))
      .toList
    def sites(rel: String, text: String, p: Regex): Seq[String] = {
      val scanned =
        if (oracleMargin && rel.contains("/graft/queries/"))
          text.split("\n", -1).map(l => if (l.trim.startsWith("|")) "" else l).mkString("\n")
        else text
      p.findAllMatchIn(scanned).map { m =>
        s"$rel:${scanned.substring(0, m.start).count(_ == '\n') + 1}"
      }.toSeq
    }
    def is(rel: String, suffix: String): Boolean =
      rel == suffix || rel.endsWith("/" + suffix)
    val mark = ownerMark.getOrElse(pattern)
    assert(sources.exists { case (rel, text) => is(rel, owner) && sites(rel, text, mark).nonEmpty },
      s"the owner $owner no longer matches $mark under $tree, so the scan proves nothing")
    sources
      .filterNot { case (rel, _) => (owner +: exempt).exists(is(rel, _)) }
      .flatMap { case (rel, text) => sites(rel, text, pattern) }
  }
}
