package graft

import org.apache.spark.sql.SparkSession

/** The engine's session contract, written once. Every entry point builds
  * its session here; callers add only deployment settings (master URL,
  * app name, warehouse dir, a configured time zone).
  *
  *  - UTC session time zone: collected TIMESTAMP/DATE values and date
  *    arithmetic must not depend on the machine's zone.
  *  - ANSI off: keeps the reference's null-on-error cast/parse semantics
  *    (SURVEY.md §2.3 P6, §4).
  *  - `nanosAsLong`: TIMESTAMP(NANOS) columns (events.parquet) read as
  *    long nanos; `Tables.normalizeEventTs` accepts either encoding.
  *  - a generated-class cache of [[CodegenCacheEntries]] entries.
  *  - [[GraftExtensions]]: the engine's SQL functions and planner rules.
  */
object GraftSession {

  /** CODEGEN-CACHE THRASH (VERDICT r11 #1, found by BenchReplay's
    * twice-through experiment): Spark's generated-class cache holds 100
    * entries by default while the 423-query registry generates thousands
    * of fragments, so any JVM serving the whole registry more than once
    * Janino-recompiles every fragment every pass and re-enters JIT warmup
    * on the fresh classes — measured +15% total, +30..200% on 141 small
    * queries, flat metaspace (pass totals 614.5 / 703.7 / 706.4 s at
    * sf1.0 with the default). SCALE.md records the r12 adjudication
    * (100 vs 5000); to reproduce the thrash, edit this constant.
    */
  val CodegenCacheEntries = 5000

  /** `SPARK_GRAFT_CPUS`, else every available processor. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A builder carrying the contract on `local[cores]` with one shuffle
    * partition per core; settings added after this call win.
    */
  def builder(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.ui.enabled", "false")
}
