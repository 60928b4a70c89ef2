package graft.tools

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** Scratch owns run-local space: every dir shares one per-run root that
  * the exit hook deletes, and its recursive delete is the only one under
  * `src/main`. The global root is never deleted mid-run here: other
  * suites are still reading dirs inside it.
  */
class ScratchSpec extends AnyFunSuite {

  test("deleteRecursively removes a nested tree; dirs share one run root") {
    val d1 = Scratch.dir("scratch-spec")
    val d2 = Scratch.dir("scratch-spec")
    assert(d1 != d2)
    assert(d1.getParent == d2.getParent, "both dirs must sit in the run root")
    assert(d1.getParent.getFileName.toString.startsWith("graft-run-"))

    val nested = d1.resolve("a/b")
    Files.createDirectories(nested)
    Files.write(nested.resolve("f.txt"), "x".getBytes)
    Files.write(d1.resolve("g.txt"), "y".getBytes)
    // a link out of the tree is removed, its target is not
    val outside = d2.resolve("keep.txt")
    Files.write(outside, "z".getBytes)
    Files.createSymbolicLink(nested.resolve("link"), d2)

    Scratch.deleteRecursively(d1)
    assert(!Files.exists(d1), "nested tree should be deleted")
    assert(Files.exists(outside), "a symlink target must survive")
    // idempotent: deleting a missing path is a no-op
    Scratch.deleteRecursively(d1)
    Scratch.deleteRecursively(d2)
    assert(!Files.exists(d2))
  }

  test("no unmanaged temp dirs outside the registry") {
    // Scratch alone decides where run-local files go: no other source
    // creates a temp dir, and no other main source names java.io.tmpdir
    import graft.OwnerScan
    val scratch = "src/main/scala/graft/tools/Scratch.scala"
    val leaky =
      OwnerScan.sitesOutside(OwnerScan.literal("createTempDirectory"), scratch, tree = "src",
        exempt = Seq("src/test/scala/graft/tools/ScratchSpec.scala")) ++
        OwnerScan.sitesOutside(OwnerScan.literal("java.io.tmpdir"), scratch)
    assert(leaky.isEmpty,
      s"unmanaged temp dirs in: ${leaky.mkString(", ")} — use Scratch.dir")
  }
}
