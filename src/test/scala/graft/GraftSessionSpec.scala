package graft

/** The session contract lives in [[GraftSession]] alone: the shared test
  * session carries all of it, and no other source builds a session (the
  * hand-copied builders had drifted apart).
  */
class GraftSessionSpec extends SparkSpec {

  test("the shared test session carries every contract setting") {
    val contract = Map(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.ansi.enabled" -> "false",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.codegen.cache.maxEntries" -> "5000",
      "spark.ui.enabled" -> "false",
      "spark.sql.adaptive.enabled" -> "true")
    contract.foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
    // GraftExtensions registered its SQL functions
    assert(spark.catalog.functionExists("quantized_cosine"))
  }

  test("no source outside GraftSession.scala builds a SparkSession") {
    val builderCall = """SparkSession\s*\.\s*builder|\.builder\(\)|new\s+SparkSession\.Builder""".r
    val builders = OwnerScan.sitesOutside(builderCall, "GraftSession.scala", tree = "src")
    assert(builders.isEmpty, s"session builders outside GraftSession: $builders")
  }
}
