package graft.energy

import graft.SparkSpec
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._

/** AtomicLayer: snapshot-versioned Parquet overwrite with a commit
  * marker — readers see only complete snapshots, crashed writes are
  * invisible and superseded.
  */
class AtomicLayerSpec extends SparkSpec {
  import spark.implicits._

  private def tmpTable(): String =
    graft.tools.Scratch.dir("atomic_layer").resolve("t").toString

  private def df(vals: Int*) = vals.toSeq.toDF("x")

  test("reader sees the previous snapshot while a torn write sits uncommitted") {
    val root = tmpTable()
    AtomicLayer.write(df(1, 2, 3), root)
    assert(AtomicLayer.read(spark, root).as[Int].collect().sorted === Array(1, 2, 3))

    // simulate a write killed mid-flight: a version directory with data
    // files but NO _SUCCESS marker (the job committer died before commit)
    val torn = Paths.get(root, "v1")
    Files.createDirectories(torn)
    df(9, 9, 9).write.mode("overwrite").parquet(torn.resolve("tmp").toString)
    Files.move(
      torn.resolve("tmp").resolve(
        Files.list(torn.resolve("tmp")).filter(_.toString.endsWith(".parquet"))
          .findFirst().get().getFileName.toString),
      torn.resolve("part-00000.parquet"))
    Files.walk(torn.resolve("tmp")).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.deleteIfExists(p))
    assert(!Files.exists(torn.resolve("_SUCCESS")))

    // the torn snapshot is invisible
    assert(AtomicLayer.read(spark, root).as[Int].collect().sorted === Array(1, 2, 3))

    // the next write supersedes it (never reuses the crashed dir) and wins
    AtomicLayer.write(df(4, 5), root)
    assert(AtomicLayer.read(spark, root).as[Int].collect().sorted === Array(4, 5))
    assert(!Files.exists(torn), "crashed debris should be pruned after a commit")
  }

  test("overwrite keeps the previous committed snapshot as a grace window") {
    val root = tmpTable()
    AtomicLayer.write(df(1), root)
    AtomicLayer.write(df(2), root)
    AtomicLayer.write(df(3), root)
    assert(AtomicLayer.read(spark, root).as[Int].collect() === Array(3))
    // keepVersions = 2: v2 (current) + v1 (grace) remain, v0 pruned
    val vs = Files.list(Paths.get(root)).map(_.getFileName.toString)
      .toArray.map(_.toString).sorted
    assert(vs === Array("v1", "v2"), vs.mkString(","))
  }

  test("partitioned writes commit atomically too") {
    val root = tmpTable()
    val d = Seq((1, "a"), (2, "b")).toDF("x", "p")
    AtomicLayer.write(d, root, partitionCols = Seq("p"))
    val back = AtomicLayer.read(spark, root)
    assert(back.select("x").as[Int].collect().sorted === Array(1, 2))
    assert(back.columns.toSet === Set("x", "p"))
  }

  test("expired-lease orphaned claim (crashed mid-write) is reclaimed; live lease is not") {
    val root = tmpTable()
    AtomicLayer.write(df(1), root)
    // simulate a claimant that died mid-write: claim file + uncommitted dir
    val claim = Paths.get(root, "v1.claim")
    Files.createFile(claim)
    val deadDir = Paths.get(root, "v1")
    Files.createDirectories(deadDir)
    Files.createFile(deadDir.resolve("part-00000.parquet"))

    // within the lease the claimant might still be alive: never unseated
    AtomicLayer.write(df(2), root)
    assert(Files.exists(claim), "live-lease claim must survive the sweep")
    assert(Files.exists(deadDir), "live-lease dir must survive the sweep")

    // lease expired (claimLeaseMs=0): both the claim and its uncommitted
    // dir are swept, and the version counter can move past the debris
    AtomicLayer.write(df(3), root, claimLeaseMs = 0L)
    assert(!Files.exists(claim), "expired claim should be reclaimed")
    assert(!Files.exists(deadDir), "expired claimant's dir should be swept")
    assert(AtomicLayer.read(spark, root).as[Int].collect() === Array(3))
  }

  test("heartbeat keeps a live slow writer's claim fresh past the lease") {
    val root = tmpTable()
    AtomicLayer.write(df(1), root)
    // simulate a LIVE writer mid-job: claim + uncommitted dir, with the
    // heartbeat running (what write() itself does around the parquet job)
    val claim = Paths.get(root, "v1.claim")
    Files.createFile(claim)
    val liveDir = Paths.get(root, "v1")
    Files.createDirectories(liveDir)
    Files.createFile(liveDir.resolve("part-00000.parquet"))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // lease 800 ms -> heartbeat every 200 ms: a scheduling hiccup must
    // stall ALL of several beats for a spurious expiry (keeps the test
    // honest under GC pauses on a loaded box)
    val hb = AtomicLayer.startHeartbeat(fs,
      new org.apache.hadoop.fs.Path(root, "v1.claim"), leaseMs = 800L)
    try {
      Thread.sleep(1200) // claim is now OLDER than the lease by wall age,
      // but the heartbeat has refreshed its mtime several times
      AtomicLayer.write(df(2), root, claimLeaseMs = 800L)
      assert(Files.exists(claim),
        "heartbeating live writer must not be unseated by lease expiry")
      assert(Files.exists(liveDir.resolve("part-00000.parquet")),
        "live writer's in-progress files must survive the sweep")
    } finally hb.interrupt()
    // once the writer dies (heartbeat stops), the lease expires normally
    Thread.sleep(1000)
    AtomicLayer.write(df(3), root, claimLeaseMs = 800L)
    assert(!Files.exists(claim), "dead claimant reclaimed after lease")
    assert(AtomicLayer.read(spark, root).as[Int].collect() === Array(3))
  }

  test("vacuum sweeps crashed-writer debris, never live claims or retained snapshots") {
    val root = tmpTable()
    AtomicLayer.write(df(1), root) // v0
    AtomicLayer.write(df(2), root) // v1 (current)
    // debris: v2 = crashed mid-write (dir + claim, will lease-expire);
    // v1.claim = crashed between commit and claim delete; v3 = claimless
    Files.createDirectories(Paths.get(root, "v2"))
    Files.createFile(Paths.get(root, "v2", "part-00000.parquet"))
    Files.createFile(Paths.get(root, "v2.claim"))
    Files.createFile(Paths.get(root, "v1.claim"))
    Files.createDirectories(Paths.get(root, "v3"))
    Files.createFile(Paths.get(root, "v3", "part-00000.parquet"))
    Thread.sleep(300) // expire v2.claim under the 200 ms lease
    // LIVE concurrent writer: fresh claim + in-progress dir
    Files.createFile(Paths.get(root, "v4.claim"))
    Files.createDirectories(Paths.get(root, "v4"))
    Files.createFile(Paths.get(root, "v4", "part-00000.parquet"))

    val stats = AtomicLayer.vacuum(spark, root,
      keepVersions = 1, claimLeaseMs = 200L)
    assert(stats.prunedCommitted === 1, "v0 beyond retention")
    assert(stats.sweptUncommittedDirs === 2, "v2 (expired) + v3 (claimless)")
    assert(stats.sweptClaims === 2, "v1.claim (committed) + v2.claim (expired)")
    assert(!Files.exists(Paths.get(root, "v0")))
    assert(!Files.exists(Paths.get(root, "v2")))
    assert(!Files.exists(Paths.get(root, "v2.claim")))
    assert(!Files.exists(Paths.get(root, "v1.claim")))
    assert(!Files.exists(Paths.get(root, "v3")))
    assert(Files.exists(Paths.get(root, "v4.claim")), "live claim survives")
    assert(Files.exists(Paths.get(root, "v4", "part-00000.parquet")),
      "live writer's in-progress dir survives")
    assert(AtomicLayer.read(spark, root).as[Int].collect() === Array(2))
  }

  test("read falls back to a plain (pre-atomic) parquet layout") {
    val root = tmpTable()
    df(7, 8).write.parquet(root)
    assert(AtomicLayer.read(spark, root).as[Int].collect().sorted === Array(7, 8))
  }

  test("medallion write helpers route through the protocol") {
    val root = tmpTable()
    val power = Seq(("de", "2024-01-01", "wind offshore",
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0))
      .toDF("country", "date", "production_type", "timestamp", "value")
    Silver.write(power, root)
    Silver.write(power.withColumn("value", lit(2.0)), root)
    val got = Silver.read(spark, root)
    assert(got.select("value").as[Double].collect() === Array(2.0))
    assert(Files.exists(Paths.get(root, "v1", "_SUCCESS")))
  }
}
