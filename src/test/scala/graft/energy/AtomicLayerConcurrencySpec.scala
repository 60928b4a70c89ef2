package graft.energy

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Concurrent-writer safety of the snapshot protocol: before the claim
  * file (r7), two writers could both compute `next = max + 1` and
  * interleave task files inside ONE version directory — a torn commit
  * wearing a valid _SUCCESS marker. The atomic claim (create with
  * overwrite=false) guarantees each version number has exactly one
  * owner, so every committed snapshot is some single writer's COMPLETE
  * dataframe.
  */
class AtomicLayerConcurrencySpec extends SparkSpec {
  import spark.implicits._

  test("concurrent writers land complete, homogeneous, distinct versions") {
    val root = graft.tools.Scratch.dir("alc").toString + "/t"
    val writers = 6
    val rowsPer = 50
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dirs = Await.result(
      Future.sequence((0 until writers).map { w =>
        Future {
          AtomicLayer.write(
            (0 until rowsPer).map(i => (w.toLong, i.toLong)).toDF("writer", "i"),
            root, keepVersions = writers + 1)
        }
      }),
      5.minutes)

    // every writer got its own version directory
    assert(dirs.toSet.size == writers,
      s"version collision: ${dirs.sorted.mkString(", ")}")

    // every committed snapshot is ONE writer's complete data — no
    // interleaving, no partial commits
    val committed = AtomicLayer.committedVersions(spark, root)
    assert(committed.size == writers)
    for ((_, dir) <- committed) {
      val df = spark.read.parquet(dir)
      val writersIn = df.select("writer").distinct().collect().map(_.getLong(0))
      assert(writersIn.length == 1,
        s"$dir interleaves writers ${writersIn.mkString(",")}")
      assert(df.count() == rowsPer, s"$dir is a partial snapshot")
    }

    // no claim debris survives a clean concurrent run... except possibly
    // the highest version's (swept only by LATER writes); anything below
    // the max committed version must be gone
    val maxV = committed.map(_._1).max
    val claims = new java.io.File(root).listFiles()
      .filter(_.getName.endsWith(".claim")).map(_.getName)
    assert(claims.forall(c => c.stripPrefix("v").stripSuffix(".claim").toInt >= maxV),
      s"stale claims below the frontier: ${claims.mkString(",")}")

    // and a subsequent single write still works and becomes latest
    val after = AtomicLayer.write(Seq((99L, 0L)).toDF("writer", "i"), root,
      keepVersions = writers + 2)
    // latestCommitted returns the fs-qualified URI ("file:/tmp/...")
    val latest = AtomicLayer.latestCommitted(spark, root).get
    assert(latest.endsWith(after.stripPrefix("file:")),
      s"$latest is not the new write $after")
  }

  test("a reader running alongside concurrent writers only opens whole snapshots") {
    val root = graft.tools.Scratch.dir("alc_read").toString + "/t"
    val writers = 4
    val rounds = 3
    val rowsPer = 50
    // several files per snapshot, so a reader that opened a half-committed
    // directory would see part of one writer's rows
    def snapshot(w: Long) =
      (0 until rowsPer).map(i => (w, i.toLong)).toDF("writer", "i").repartition(4)
    // retention above every write this test makes, so no snapshot is
    // pruned while the reader has it open
    val keep = writers * rounds + 2
    AtomicLayer.write(snapshot(-1L), root, keepVersions = keep)
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    // one thread per writer plus the reader, so every party runs at once
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers + 1)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = Future {
      var seen = Vector.empty[Array[Long]]
      while (!done.get) {
        // one scan per snapshot: a shuffle would queue each read behind
        // the writers' jobs and leave few reads inside the write window
        seen :+= AtomicLayer.read(spark, root).select("writer").as[Long].collect()
      }
      seen
    }
    val writes = Future.sequence((0 until writers).map { w =>
      Future((0 until rounds).foreach { _ =>
        AtomicLayer.write(snapshot(w.toLong), root, keepVersions = keep)
      })
    })
    val seen =
      try {
        try Await.result(writes, 5.minutes) finally done.set(true)
        Await.result(reader, 5.minutes)
      } finally pool.shutdown()

    info(s"the reader opened ${seen.size} snapshots")
    assert(seen.nonEmpty)
    for (ws <- seen)
      assert(ws.distinct.length == 1 && ws.length == rowsPer,
        s"torn snapshot: writers ${ws.distinct.mkString(",")}, ${ws.length} rows")
    assert(AtomicLayer.committedVersions(spark, root).size == writers * rounds + 1)
  }
}
