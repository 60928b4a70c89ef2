package graft.tools

import org.apache.spark.sql.SparkSession

/** JVM-LIFETIME degradation probe (VERDICT r11 #1): replay the bench's
  * sorted query order N times in ONE JVM — 1 rep per query per pass,
  * pass 0 doubling as warmup — and diff per-query seconds across
  * passes. A clean engine repeats each reading; a resource that decays
  * with JVM lifetime (the ImageIO file-cache class of bug: cost grows
  * monotonically over the process) shows as a consistent pass-over-pass
  * climb on the affected queries, which separates a REAL leak from the
  * box-level degradation windows the driver runs keep hitting
  * (box windows move the canary; JVM leaks move only the victims).
  *
  * Per pass it also prints JVM health: GC time/count, post-GC heap,
  * metaspace, loaded classes, and the on-disk size of this JVM's spark
  * scratch (blockmgr/spark-*) — the usual suspects for a second leak.
  *
  * Usage: SPARK_GRAFT_SF_DIR=… [SPARK_GRAFT_BENCH_PASSES=2]
  *        [SPARK_GRAFT_BENCH_FILTER=regex] runMain graft.tools.BenchReplay
  */
object BenchReplay {
  private def gcStats(): (Long, Long) = {
    import scala.jdk.CollectionConverters._
    val beans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionCount).sum, beans.map(_.getCollectionTime).sum)
  }

  private def metaspaceMb(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .find(_.getName.contains("Metaspace"))
      .map(_.getUsage.getUsed / 1024 / 1024).getOrElse(-1L)
  }

  private def duMb(dir: java.io.File): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
      else f.length()
    if (dir.exists()) walk(dir) / 1024 / 1024 else 0L
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes = sys.env.get("SPARK_GRAFT_BENCH_PASSES").map(_.toInt).getOrElse(2)
    val nameFilter = sys.env.get("SPARK_GRAFT_BENCH_FILTER").map(_.r)
    val spark = graft.GraftSession.builder(graft.GraftSession.cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def run(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    def dropPinned(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    val names = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(kv => nameFilter.forall(_.findFirstIn(kv._1).isDefined))
    // this JVM's spark scratch dirs (blockmgr + spark-local) under java.io.tmpdir
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def scratchMb(): Long =
      Option(tmp.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.startsWith("blockmgr-") ||
          f.getName.startsWith("spark-"))
        .map(duMb).sum
    val perPass = Array.fill(passes)(scala.collection.mutable.Map[String, Double]())
    for (p <- 0 until passes) {
      val (gc0, gct0) = gcStats()
      val t0 = System.nanoTime()
      names.foreach { case (name, fn) =>
        if (p == 0) { try run(fn) catch { case _: Throwable => () }; dropPinned() }
        val s0 = System.nanoTime()
        val t = try { run(fn); (System.nanoTime() - s0) / 1e9 }
                catch { case _: Throwable => -1.0 }
        dropPinned()
        perPass(p)(name) = t
      }
      val (gc1, gct1) = gcStats()
      val totalS = (System.nanoTime() - t0) / 1e9
      val passTotal = perPass(p).values.filter(_ >= 0).sum
      println(f"""{"replay_pass":$p,"timed_s":$passTotal%.1f,"wall_s":$totalS%.1f,"gc_n":${gc1 - gc0},"gc_ms":${gct1 - gct0},"metaspace_mb":${metaspaceMb()},"classes":${java.lang.management.ManagementFactory.getClassLoadingMXBean.getLoadedClassCount},"scratch_mb":${scratchMb()},"sf":"$sfDir"}""")
    }
    // per-query drift report: worst pass-over-pass climbers
    val drift = names.map(_._1).flatMap { n =>
      val ts = (0 until passes).map(p => perPass(p).getOrElse(n, -1.0))
      if (ts.exists(_ < 0)) None
      else Some((n, ts, ts.last / math.max(ts.head, 1e-9)))
    }
    val fmt = drift.sortBy(-_._3).take(25).map { case (n, ts, r) =>
      f""""$n":{"passes":[${ts.map(t => f"$t%.3f").mkString(",")}],"ratio":$r%.2f}"""
    }.mkString("{", ",", "}")
    println(s"""{"replay_drift_top25":$fmt}""")
    val climbed = drift.count(d => d._3 > 1.3 && d._2.head > 0.3)
    println(s"""{"replay_summary":{"queries":${drift.size},"climbed_30pct":$climbed}}""")
    spark.stop()
  }
}
