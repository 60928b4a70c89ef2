package graft.energy

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Atomic overwrite for the medallion layer tables: snapshot-versioned
  * Parquet with a commit marker, so a reader NEVER sees a half-written
  * layer.
  *
  * The reference stores layers in Delta and relies on its log for
  * atomic `mode("overwrite")` (`src/utils/spark_session.py:77-78`,
  * `power_ingestion.py:76`); this environment ships no Delta jars
  * (SURVEY.md §1), and a plain Parquet overwrite has a window where the
  * old files are deleted and the new ones half-moved — a concurrent
  * reader sees a torn table. Same protocol as
  * [[graft.streaming.UpsertSink]]: each write lands in a fresh
  * `v<n>` directory inside the table root, the commit marker is Spark's
  * own `_SUCCESS` file (written by the job committer only after every
  * task file is in place), and readers resolve the highest version
  * whose marker exists. A crashed write leaves an uncommitted directory
  * that readers skip and the next write supersedes.
  *
  * All file ops go through the Hadoop FileSystem API, so the protocol
  * works unchanged on HDFS/object stores; it relies only on marker
  * VISIBILITY (create-after-data), never on rename atomicity. Committed
  * versions beyond `keepVersions` are pruned after each successful
  * commit — keeping 2 gives in-flight readers of the previous snapshot
  * a grace window, the same reasoning as Delta's default retention,
  * scaled down.
  */
object AtomicLayer {

  private val V = "v(\\d+)".r

  private def fsFor(spark: SparkSession, root: String): (FileSystem, Path) = {
    val p = new Path(root)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** (version, dir, committed) for every `v<n>` child of `root`,
    * version-ascending.
    */
  private def versionDirs(spark: SparkSession, root: String): Seq[(Int, Path, Boolean)] = {
    val (fs, p) = fsFor(spark, root)
    if (!fs.exists(p)) return Seq.empty
    fs.listStatus(p).toSeq
      .filter(_.isDirectory)
      .flatMap { st =>
        st.getPath.getName match {
          case V(n) =>
            Some((n.toInt, st.getPath, fs.exists(new Path(st.getPath, "_SUCCESS"))))
          case _ => None
        }
      }
      .sortBy(_._1)
  }

  /** Highest committed snapshot directory, if any. */
  def latestCommitted(spark: SparkSession, root: String): Option[String] =
    versionDirs(spark, root).filter(_._3).lastOption.map(_._2.toString)

  /** All committed (version, dir) pairs, ascending — the TIME-TRAVEL
    * surface: any snapshot inside the retention window can be read by
    * version, exactly like Delta's `versionAsOf` scaled down to the
    * commit-marker protocol. `keepVersions` bounds how far back.
    */
  def committedVersions(spark: SparkSession, root: String): Seq[(Int, String)] =
    versionDirs(spark, root).filter(_._3).map { case (n, p, _) => (n, p.toString) }

  /** Atomically claim version number `n` by creating `v<n>.claim` with
    * overwrite=false — create-no-overwrite is atomic on the local FS
    * and HDFS, so exactly ONE of any number of concurrent writers wins
    * a given number; losers advance and retry. The claim covers the
    * window before the `v<n>` directory itself becomes visible to
    * [[versionDirs]]; it is deleted once the snapshot commits. A
    * claimant that DIES mid-write leaves its claim (and possibly an
    * uncommitted dir) in place — later writers skip past it, and the
    * prune step reclaims it only once the claim file's age exceeds
    * `claimLeaseMs` (a lease: while it could still belong to a live,
    * slow writer it is never unseated).
    */
  private def claimVersion(fs: FileSystem, root: Path, from: Int): Int = {
    var n = from
    while (true) {
      val claim = new Path(root, s"v$n.claim")
      val dir = new Path(root, s"v$n")
      if (!fs.exists(dir) && tryClaim(fs, claim)) return n
      n += 1
    }
    n // unreachable
  }

  /** Atomic create-if-absent of the claim file. The exclusive-create
    * guarantee holds on the LOCAL filesystem (routed through
    * `java.io.File.createNewFile` — O_CREAT|O_EXCL — because Hadoop's
    * local `create(overwrite=false)` is a non-atomic exists-then-create)
    * and on HDFS (enforced server-side by the NameNode). It does NOT
    * hold on S3A, whose create(overwrite=false) is an exists-then-PUT:
    * two racers can both "win" there. So the concurrent-writer
    * guarantee is scoped to local FS and HDFS; on S3 a deployment
    * should route claims through a conditional PUT (If-None-Match,
    * supported by S3 since 2024 but not by this Hadoop client's default
    * path) or an external lock. Single-writer use — the pipeline's
    * actual shape — is safe on every store, since the claim only
    * arbitrates among CONCURRENT writers.
    */
  private def tryClaim(fs: FileSystem, claim: Path): Boolean =
    if (fs.getScheme == "file")
      new java.io.File(claim.toUri.getPath).createNewFile()
    else
      try { fs.create(claim, false).close(); true }
      catch { case _: java.io.IOException => false }

  /** Daemon thread refreshing `claim`'s mtime every `leaseMs / 4`
    * (floored at 50 ms) so a LIVE slow writer never looks
    * lease-expired to a concurrent writer's sweep — expiry then means
    * the owner truly died (no process left to heartbeat). Interrupt to
    * stop; refresh errors are swallowed (the claim may already be
    * deleted by our own commit path, and a missed beat only matters if
    * EVERY beat in a whole lease is missed) — but the FIRST failure is
    * logged once: on a FileSystem where setTimes is unsupported or
    * persistently failing (some object-store connectors), silence
    * would mean lease protection degraded to nothing with zero signal,
    * and a live long-running writer would become reclaimable as dead
    * after `leaseMs`.
    */
  private[graft] def startHeartbeat(
      fs: FileSystem, claim: Path, leaseMs: Long): Thread = {
    val period = math.max(50L, leaseMs / 4)
    val warned = new java.util.concurrent.atomic.AtomicBoolean(false)
    val t = new Thread(
      () =>
        try {
          while (!Thread.currentThread().isInterrupted) {
            Thread.sleep(period)
            // swallow ANY non-fatal failure, not just IOException: a
            // connector whose setTimes throws UnsupportedOperation/
            // RuntimeException would otherwise kill the daemon on the
            // first beat and silently remove lease protection mid-write
            try fs.setTimes(claim, System.currentTimeMillis(), -1)
            catch {
              case scala.util.control.NonFatal(e) =>
                if (warned.compareAndSet(false, true))
                  System.err.println(
                    s"[AtomicLayer] heartbeat setTimes failed on $claim " +
                      s"(${e.getClass.getSimpleName}: ${e.getMessage}); if this " +
                      "persists the lease contract is NOT in effect and a " +
                      s"concurrent sweep may reclaim this claim after ${leaseMs}ms")
            }
          }
        } catch { case _: InterruptedException => () },
      s"atomiclayer-heartbeat-${claim.getName}")
    t.setDaemon(true)
    t.start()
    t
  }

  /** Write `df` as the next snapshot version of the table at `root`.
    * The version counter advances past uncommitted (crashed) attempts
    * rather than reusing their directories, and the number itself is
    * taken via an atomic claim file, so CONCURRENT writers can never
    * interleave task files inside one version directory — each commit
    * is some single writer's complete snapshot (last committer's
    * version is the one readers resolve). Returns the committed dir.
    *
    * LEASE CONTRACT: `claimLeaseMs` is how long a claim may sit
    * uncommitted AND unrefreshed before a concurrent writer's sweep
    * presumes its owner dead and reclaims the number. A live writer is
    * protected for arbitrarily long jobs by a daemon HEARTBEAT that
    * refreshes the claim's mtime every `claimLeaseMs / 4` while the
    * snapshot write runs, so expiry requires the owner JVM to actually
    * be gone (or wedged for a full lease with zero heartbeats — e.g. a
    * stop-the-world pause longer than the lease; size the lease above
    * any plausible pause, not above the job duration). As a second
    * fence, the sweep re-reads the claim's mtime and re-checks
    * `_SUCCESS` absence immediately before the recursive dir delete,
    * so a heartbeat or commit landing between the listing and the
    * delete aborts the reclaim.
    *
    * SAME-LEASE REQUIREMENT: every writer AND every [[vacuum]] touching
    * one table root must use the same `claimLeaseMs`. The heartbeat
    * period is the OWNER's lease / 4, so a sweeper configured with a
    * smaller lease than the owner's could observe a heartbeating live
    * writer as expired (beats land every ownerLease/4 > sweeperLease)
    * and reclaim it. Treat the lease as a per-table constant, not a
    * per-call tunable.
    */
  def write(
      df: DataFrame,
      root: String,
      partitionCols: Seq[String] = Nil,
      keepVersions: Int = 2,
      claimLeaseMs: Long = 60L * 60 * 1000,
  ): String = {
    require(keepVersions >= 1, s"keepVersions must be >= 1, got $keepVersions")
    val spark = df.sparkSession
    val (fs, rootPath) = fsFor(spark, root)
    fs.mkdirs(rootPath)
    val all = versionDirs(spark, root)
    val next = claimVersion(fs, rootPath,
      all.map(_._1).maxOption.getOrElse(-1) + 1)
    val dir = s"$root/v$next"
    val claimPath = new Path(rootPath, s"v$next.claim")
    val heartbeat = startHeartbeat(fs, claimPath, claimLeaseMs)
    try {
      val w = df.write.mode(SaveMode.Overwrite)
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(dir)
    } finally heartbeat.interrupt()
    fs.delete(claimPath, false)
    // prune: committed versions beyond the retention window, any
    // uncommitted debris older than the new snapshot (crashed writes),
    // and orphaned claim files whose directory is COMMITTED (the owner
    // definitely finished writing; it crashed between its commit and
    // its own claim delete). Claims whose dir is absent or still
    // uncommitted may belong to an in-flight writer and must never be
    // swept: unseating one would let a later writer re-claim the number
    // and interleave files — the exact race the claim protocol exists
    // to prevent.
    val after = versionDirs(spark, root)
    val staleCommitted = after.filter(_._3).dropRight(keepVersions)
    // an uncommitted dir WITH a live claim may be a concurrent writer
    // mid-job (its committer hasn't placed _SUCCESS yet) — only sweep
    // uncommitted dirs whose claim is gone (genuinely crashed/legacy)
    val crashed = after.filter { case (v, _, committed) =>
      !committed && v < next &&
        !fs.exists(new Path(rootPath, s"v$v.claim"))
    }
    staleCommitted.foreach { case (_, p, _) => fs.delete(p, true) }
    // second fence (same as the lease path): the `committed` flag above
    // is a stale listing — a concurrent writer may have committed and
    // dropped its claim between the listing and here. Re-check _SUCCESS
    // immediately before the recursive delete so a freshly committed
    // snapshot is never destroyed.
    crashed.foreach { case (_, p, _) =>
      if (!fs.exists(new Path(p, "_SUCCESS"))) fs.delete(p, true): Unit
    }
    fs.listStatus(rootPath).toSeq
      .filter(st => !st.isDirectory)
      .foreach { st =>
        st.getPath.getName match {
          case StaleClaim(n) if n.toInt < next =>
            val vDir = new Path(rootPath, s"v$n")
            if (fs.exists(new Path(vDir, "_SUCCESS")))
              // owner definitely finished (crashed between its commit
              // and its own claim delete) — the claim is pure debris
              fs.delete(st.getPath, false)
            else if (System.currentTimeMillis() - st.getModificationTime > claimLeaseMs) {
              // LEASE EXPIRY: claim older than the lease with no commit
              // — the claimant is presumed dead; reclaim its number.
              // Dir first, claim second: after the dir delete the claim
              // still blocks re-claimants, and only once the claim is
              // gone can a later writer take the number against an
              // empty dir — never interleaving with stale task files.
              // (A crash between the two deletes leaves just the claim,
              // which the next write's sweep retries.)
              // SECOND FENCE: re-read the claim's mtime and re-check
              // _SUCCESS right before the recursive delete — the owner
              // may have heartbeated or committed since listStatus
              // snapshotted its age; either aborts the reclaim. (The
              // listing's mtime can be minutes stale under a long
              // sweep; a heartbeating live writer always looks fresh
              // here.)
              val stillExpired =
                try System.currentTimeMillis() -
                  fs.getFileStatus(st.getPath).getModificationTime > claimLeaseMs
                catch { case _: java.io.FileNotFoundException => false }
              if (stillExpired && !fs.exists(new Path(vDir, "_SUCCESS"))) {
                if (fs.exists(vDir)) fs.delete(vDir, true)
                fs.delete(st.getPath, false)
              }
            }
          case _ => ()
        }
      }
    dir
  }

  private val StaleClaim = "v(\\d+)\\.claim".r

  final case class VacuumStats(
      prunedCommitted: Int,
      sweptUncommittedDirs: Int,
      sweptClaims: Int,
  )

  /** Standalone maintenance GC (the protocol's VACUUM): prunes committed
    * snapshots beyond `keepVersions`, sweeps crashed writers' debris —
    * uncommitted version dirs with no claim (a live writer's claim
    * always outlives its dir, so claimless uncommitted dirs are
    * ownerless at ANY version number — with `_SUCCESS` re-checked
    * immediately before the recursive delete, because the listing's
    * committed flag is stale and the owner may have committed since),
    * committed dirs' leftover claims
    * (the owner provably finished), and lease-expired claims together
    * with their uncommitted dirs (same second fence as [[write]]'s
    * sweep: the claim's mtime is re-read and `_SUCCESS` re-checked
    * immediately before the recursive delete, so heartbeating live
    * writers are never unseated). [[write]] runs the same hygiene
    * incrementally on every commit; vacuum is for read-mostly tables
    * and scheduled maintenance, like Delta's VACUUM scaled down to the
    * commit-marker protocol. Returns what was swept. `claimLeaseMs`
    * must equal the writers' (see [[write]]'s SAME-LEASE REQUIREMENT):
    * a vacuum run with a smaller lease than the writers' heartbeat
    * period would reclaim live claims.
    */
  def vacuum(
      spark: SparkSession,
      root: String,
      keepVersions: Int = 2,
      claimLeaseMs: Long = 60L * 60 * 1000,
  ): VacuumStats = {
    require(keepVersions >= 1, s"keepVersions must be >= 1, got $keepVersions")
    val (fs, rootPath) = fsFor(spark, root)
    if (!fs.exists(rootPath)) return VacuumStats(0, 0, 0)
    val all = versionDirs(spark, root)
    var (pruned, sweptDirs, sweptClaims) = (0, 0, 0)
    all.filter(_._3).dropRight(keepVersions).foreach { case (_, p, _) =>
      fs.delete(p, true); pruned += 1
    }
    all.filter { case (v, _, committed) =>
      !committed && !fs.exists(new Path(rootPath, s"v$v.claim"))
    }.foreach { case (_, p, _) =>
      // second fence: the listing's committed flag is stale — the owner
      // may have committed (and dropped its claim) since. Re-check
      // _SUCCESS immediately before the recursive delete.
      if (!fs.exists(new Path(p, "_SUCCESS"))) {
        fs.delete(p, true); sweptDirs += 1
      }
    }
    fs.listStatus(rootPath).toSeq
      .filter(st => !st.isDirectory)
      .foreach { st =>
        st.getPath.getName match {
          case StaleClaim(n) =>
            val vDir = new Path(rootPath, s"v$n")
            if (fs.exists(new Path(vDir, "_SUCCESS"))) {
              fs.delete(st.getPath, false); sweptClaims += 1
            } else if (System.currentTimeMillis() - st.getModificationTime > claimLeaseMs) {
              val stillExpired =
                try System.currentTimeMillis() -
                  fs.getFileStatus(st.getPath).getModificationTime > claimLeaseMs
                catch { case _: java.io.FileNotFoundException => false }
              if (stillExpired && !fs.exists(new Path(vDir, "_SUCCESS"))) {
                if (fs.exists(vDir)) { fs.delete(vDir, true); sweptDirs += 1 }
                fs.delete(st.getPath, false); sweptClaims += 1
              }
            }
          case _ => ()
        }
      }
    VacuumStats(pruned, sweptDirs, sweptClaims)
  }

  /** Read the highest committed snapshot. Falls back to reading `root`
    * directly when no version directories exist (pre-atomic layouts and
    * external tables stay readable).
    */
  def read(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(latestCommitted(spark, root).getOrElse(root))

  /** [[read]] with the table's schema already known — typically the
    * schema of the DataFrame just written to `root`. Parquet then runs
    * no schema-inference job and the columns keep the writer's order and
    * types.
    */
  def read(spark: SparkSession, root: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(latestCommitted(spark, root).getOrElse(root))

  /** Highest `_merged_batch_id` folded into the committed snapshot at
    * `root`, or -1 when no snapshot exists or it is empty (an empty
    * first micro-batch commits a 0-row snapshot whose max is NULL) —
    * THE foreachBatch retry guard shared by every streaming merge: a
    * batch at-or-below this value must be a no-op. One definition, so
    * a guard fix can never be applied to three of four copies.
    */
  def lastMergedBatch(spark: SparkSession, root: String): Long =
    if (latestCommitted(spark, root).isEmpty) -1L
    else {
      val row = read(spark, root)
        .agg(org.apache.spark.sql.functions.max(
          org.apache.spark.sql.functions.col("_merged_batch_id"))).head
      if (row.isNullAt(0)) -1L else row.getLong(0)
    }
}
