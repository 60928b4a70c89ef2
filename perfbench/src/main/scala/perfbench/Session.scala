package perfbench

import org.apache.spark.sql.SparkSession

/** The session every workload runs in: the registry bench's settings
  * (UTC, ANSI off, `nanosAsLong`, AQE, a 5000-entry codegen cache) on
  * `local[<cores>]`, with Spark's scratch space under the run's own
  * directory.
  */
object Session {
  def cores: Int = Runtime.getRuntime.availableProcessors()

  def start(localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Stop the session and forget it, so the next [[start]] builds a new
    * one (set-up is timed more than once per run).
    */
  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}
