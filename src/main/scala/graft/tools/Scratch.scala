package graft.tools

import java.nio.file.{Files, LinkOption, Path}

/** The one owner of run-local scratch space. Every query, stream drive
  * and tool that materializes a throwaway artifact takes its directory
  * from [[dir]]; [[deleteRecursively]] is the only recursive delete
  * under `src/main`.
  *
  * All directories live under ONE per-run root, `graft-run-*` under
  * `java.io.tmpdir`, created on first use. A single JVM shutdown hook
  * deletes that root, so a bench, verify or test run leaves no new
  * tmpdir entry after exit, and a killed run leaves one directory, not
  * scattered per-query roots. Two JVMs sharing one tmpdir never share a
  * path.
  *
  * Deletion is exit-time, not per call: queries such as gdpr1, se1,
  * pw1 and the streamed quality gate hand back a DataFrame that reads
  * their directory LAZILY, so it cannot be deleted inside the query
  * function, and a latest-only per-tag rotation would delete the first
  * result while a second invocation still holds it lazily unconsumed.
  * In-run accumulation is one directory per query invocation; the nine
  * write-round-trip queries (bkt1, bkt2, tt1, pw1, orc1, jsonl1, cmp1,
  * src1, csv1) leave 82 MB in 36 dirs in the root after a warm pass
  * plus 3 reps at sf0.1 (`graft.Bench` filtered to them; bkt1 and bkt2
  * hold 40 MB of it).
  *
  * Fixed paths that deliberately do NOT come through here:
  *  - `/tmp/graft_imv` and `/tmp/graft_imv2`, the imv1/imv2
  *    materialized-view caches: their point is cross-run persistence,
  *    and their keys carry source (size, mtime) fingerprints;
  *  - the persisted ANN and graph indexes, under the fixed roots of
  *    [[graft.operators.IndexStore]], which the oracle SQL reads after
  *    the JVM exits;
  *  - `/dev/shm/graft-stream-ckpt`, the RAM-disk checkpoint root of
  *    `StreamRun`, whose every checkpoint has a UUID name and is
  *    deleted when its drive ends.
  */
object Scratch {

  private lazy val runRoot: Path = {
    val root = Files.createTempDirectory("graft-run-")
    Runtime.getRuntime.addShutdownHook(
      new Thread(() => deleteRecursively(root), "graft-scratch-sweep"))
    root
  }

  /** A fresh directory inside this run's root, deleted at exit. */
  def dir(prefix: String): Path = Files.createTempDirectory(runRoot, prefix)

  /** Best-effort recursive delete of `p`. Symbolic links are removed,
    * never followed, so a link out of the tree cannot widen the delete.
    */
  def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p, LinkOption.NOFOLLOW_LINKS))
      Option(p.toFile.listFiles).foreach(_.foreach(c => deleteRecursively(c.toPath)))
    p.toFile.delete(): Unit
  }
}
