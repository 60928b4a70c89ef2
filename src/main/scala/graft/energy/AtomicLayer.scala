package graft.energy

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, lit, max}

/** Atomic overwrite for the medallion layer tables: snapshot-versioned
  * Parquet with a commit marker, so a reader NEVER sees a half-written
  * layer.
  *
  * The reference stores layers in Delta and relies on its log for
  * atomic `mode("overwrite")` (`src/utils/spark_session.py:77-78`,
  * `power_ingestion.py:76`); this environment ships no Delta jars
  * (SURVEY.md §1), and a plain Parquet overwrite has a window where the
  * old files are deleted and the new ones half-moved — a concurrent
  * reader sees a torn table. Here each write lands in a fresh
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
  private val StaleClaim = "v(\\d+)\\.claim".r

  private def fsFor(spark: SparkSession, root: String): (FileSystem, Path) = {
    val p = new Path(root)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** (version, dir, committed) for every `v<n>` child of `root`,
    * version-ascending.
    */
  private def versionDirs(fs: FileSystem, p: Path): Seq[(Int, Path, Boolean)] = {
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
    committedVersions(spark, root).lastOption.map(_._2)

  /** All committed (version, dir) pairs, ascending — the TIME-TRAVEL
    * surface: any snapshot inside the retention window can be read by
    * version, exactly like Delta's `versionAsOf` scaled down to the
    * commit-marker protocol. `keepVersions` bounds how far back.
    */
  def committedVersions(spark: SparkSession, root: String): Seq[(Int, String)] = {
    val (fs, p) = fsFor(spark, root)
    versionDirs(fs, p).filter(_._3).map { case (n, dir, _) => (n, dir.toString) }
  }

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
    * After its commit, `write` runs the same [[sweep]] as [[vacuum]],
    * over every version number, including numbers above its own: a
    * concurrent writer's claim exists before its directory and outlives
    * it, so a bound on the version number would protect nothing that
    * the claim does not already protect.
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
    val next = claimVersion(fs, rootPath,
      versionDirs(fs, rootPath).map(_._1).maxOption.getOrElse(-1) + 1)
    val dir = s"$root/v$next"
    val claimPath = new Path(rootPath, s"v$next.claim")
    val heartbeat = startHeartbeat(fs, claimPath, claimLeaseMs)
    try {
      val w = df.write.mode(SaveMode.Overwrite)
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(dir)
    } finally heartbeat.interrupt()
    fs.delete(claimPath, false)
    sweep(fs, rootPath, keepVersions, claimLeaseMs): Unit
    dir
  }

  final case class VacuumStats(
      prunedCommitted: Int,
      sweptUncommittedDirs: Int,
      sweptClaims: Int,
  )

  /** Standalone maintenance GC (the protocol's VACUUM), the same
    * [[sweep]] that [[write]] runs after every commit. It is for
    * read-mostly tables and scheduled maintenance, like Delta's VACUUM
    * scaled down to the commit-marker protocol. Returns what was swept.
    * `claimLeaseMs` must equal the writers' (see [[write]]'s SAME-LEASE
    * REQUIREMENT): a vacuum run with a smaller lease than the writers'
    * heartbeat period would reclaim live claims.
    */
  def vacuum(
      spark: SparkSession,
      root: String,
      keepVersions: Int = 2,
      claimLeaseMs: Long = 60L * 60 * 1000,
  ): VacuumStats = {
    require(keepVersions >= 1, s"keepVersions must be >= 1, got $keepVersions")
    val (fs, rootPath) = fsFor(spark, root)
    if (!fs.exists(rootPath)) VacuumStats(0, 0, 0)
    else sweep(fs, rootPath, keepVersions, claimLeaseMs)
  }

  /** The protocol's one set of GC rules, for [[write]] and [[vacuum]]:
    *   - committed snapshots beyond the newest `keepVersions` are pruned;
    *   - an uncommitted version dir with no claim is a crashed writer's
    *     debris, at ANY version number: a live writer's claim exists
    *     before its dir and outlives it (it is deleted only after
    *     `_SUCCESS`), so a claimless uncommitted dir has no owner;
    *   - a claim whose dir is committed is debris (its owner crashed
    *     between its commit and its own claim delete);
    *   - a claim older than `claimLeaseMs` with no commit is presumed
    *     dead (LEASE EXPIRY), and its uncommitted dir goes with it. Dir
    *     first, claim second: after the dir delete the claim still
    *     blocks re-claimants, so a later writer can only take the number
    *     against an empty dir. (A crash between the two deletes leaves
    *     just the claim, which the next sweep retries.)
    * Claims whose dir is absent or uncommitted within the lease may
    * belong to an in-flight writer and are never swept: unseating one
    * would let a later writer re-claim the number and interleave files,
    * the exact race the claim protocol exists to prevent.
    *
    * SECOND FENCE: the listing is stale by the time each delete runs, so
    * `_SUCCESS` is re-checked immediately before every recursive delete,
    * and on the lease path the claim's mtime is read from the file then,
    * never taken from the listing. A commit or a heartbeat landing after
    * the listing aborts that delete.
    */
  private def sweep(
      fs: FileSystem,
      rootPath: Path,
      keepVersions: Int,
      claimLeaseMs: Long,
  ): VacuumStats = {
    def committed(dir: Path) = fs.exists(new Path(dir, "_SUCCESS"))
    def expired(claim: Path) =
      try System.currentTimeMillis() -
        fs.getFileStatus(claim).getModificationTime > claimLeaseMs
      catch { case _: java.io.FileNotFoundException => false }
    val all = versionDirs(fs, rootPath)
    var (pruned, sweptDirs, sweptClaims) = (0, 0, 0)
    all.filter(_._3).dropRight(keepVersions).foreach { case (_, p, _) =>
      fs.delete(p, true); pruned += 1
    }
    all.filter { case (v, _, isCommitted) =>
      !isCommitted && !fs.exists(new Path(rootPath, s"v$v.claim"))
    }.foreach { case (_, p, _) =>
      if (!committed(p)) { fs.delete(p, true); sweptDirs += 1 }
    }
    fs.listStatus(rootPath).toSeq
      .filter(st => !st.isDirectory)
      .foreach { st =>
        st.getPath.getName match {
          case StaleClaim(n) =>
            val vDir = new Path(rootPath, s"v$n")
            if (committed(vDir)) {
              fs.delete(st.getPath, false); sweptClaims += 1
            } else if (expired(st.getPath) && !committed(vDir)) {
              if (fs.exists(vDir)) { fs.delete(vDir, true); sweptDirs += 1 }
              fs.delete(st.getPath, false); sweptClaims += 1
            }
          case _ => ()
        }
      }
    VacuumStats(pruned, sweptDirs, sweptClaims)
  }

  /** Read the highest committed snapshot. Falls back to reading `root`
    * directly only when it has no `v<n>` child at all (pre-atomic
    * layouts and external tables stay readable). A root whose version
    * directories are all uncommitted — a first write that crashed or is
    * still running — fails instead: reading `root` would list that torn
    * version's part files.
    */
  def read(spark: SparkSession, root: String): DataFrame = {
    val (fs, p) = fsFor(spark, root)
    val versions = versionDirs(fs, p)
    versions.filter(_._3).lastOption match {
      case Some((_, dir, _)) => spark.read.parquet(dir.toString)
      case None if versions.isEmpty => spark.read.parquet(root)
      case None => throw new IllegalStateException(
        s"no committed snapshot under $root: its ${versions.size} version " +
          "director(y/ies) all lack _SUCCESS (a first write crashed or is in flight)")
    }
  }

  /** Highest `_merged_batch_id` folded into the committed snapshot at
    * `root`, or -1 when no snapshot exists or it is empty (an empty
    * first micro-batch commits a 0-row snapshot whose max is NULL): a
    * batch at or below this value has already been merged.
    */
  def lastMergedBatch(spark: SparkSession, root: String): Long =
    latestCommitted(spark, root).fold(-1L)(dir => maxMergedBatch(spark.read.parquet(dir)))

  private def maxMergedBatch(snapshot: DataFrame): Long = {
    val row = snapshot.agg(max(col("_merged_batch_id"))).head()
    if (row.isNullAt(0)) -1L else row.getLong(0)
  }

  /** THE foreachBatch retry guard shared by every streaming merge, so a
    * guard fix can never be applied to three of four copies. Resolves
    * the committed snapshot at `root` once; when its `_merged_batch_id`
    * is at or above `batchId` the batch is a retry and nothing is
    * written (false). Otherwise `fold` gets the snapshot without its tag
    * column (None before the first commit), and its result is committed
    * tagged with `batchId`, keeping one version (true).
    */
  def mergeBatch(spark: SparkSession, root: String, batchId: Long)(
      fold: Option[DataFrame] => DataFrame): Boolean = {
    val snapshot = latestCommitted(spark, root).map(spark.read.parquet(_))
    if (snapshot.exists(maxMergedBatch(_) >= batchId)) false
    else {
      write(fold(snapshot.map(_.drop("_merged_batch_id")))
        .withColumn("_merged_batch_id", lit(batchId)), root, keepVersions = 1)
      true
    }
  }
}
