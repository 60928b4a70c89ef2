package graft

import java.nio.file.Files

/** Verify records why a query failed next to the dumps it wrote. */
class VerifySpec extends SparkSpec {

  test("a failed query leaves no dump and its class and message in failures.json") {
    val out = graft.tools.Scratch.dir("verify-spec")
    val missing = out.resolve("no-such-sf").toString
    val failures = Verify.run(spark, missing, out.toString,
      Some("^(bfs1_hops|tri1_triangle_census)$".r))
    assert(failures.keySet === Set("bfs1_hops", "tri1_triangle_census"))
    failures.values.foreach(e =>
      assert(e.isInstanceOf[org.apache.spark.sql.AnalysisException] &&
        e.getMessage.contains("no-such-sf"), e))
    assert(!Files.exists(out.resolve("bfs1_hops")))
    val json = Files.readString(out.resolve("failures.json"))
    for (name <- failures.keys)
      assert(json.contains(
        s""""$name": {"class": "org.apache.spark.sql.AnalysisException", "message": """"),
        json)
    // a filtered run owns no manifest
    assert(!Files.exists(out.resolve("query_names.json")))

    // a query that runs writes its dump and leaves failures.json empty
    assert(Verify.run(spark, sf0001, out.toString,
      Some("^tri1_triangle_census$".r)).isEmpty)
    assert(Files.exists(out.resolve("tri1_triangle_census/_SUCCESS")))
    assert(Files.readString(out.resolve("failures.json")) === "{}")
  }
}
