package graft

import org.scalatest.funsuite.AnyFunSuite

/** The persisted-index oracles read the index of the corpus they are
  * built for: their `read_parquet` paths come from
  * [[graft.operators.IndexStore]], as a function of the sf directory.
  * String checks only, no Spark session.
  */
class IndexOracleSpec extends AnyFunSuite {

  private val ReadParquet = """read_parquet\('([^']*)'""".r

  private def indexPaths(oracles: Map[String, String]): Map[String, Seq[String]] =
    oracles.map { case (name, sql) =>
      name -> ReadParquet.findAllMatchIn(sql).map(_.group(1)).filter(_.startsWith("/tmp/graft_")).toSeq
    }.filter(_._2.nonEmpty)

  private def ann(r: String, a: String) = s"/tmp/graft_ann_index/$r/$a.parquet/v*/*.parquet"
  private def graph(r: String, a: String) = s"/tmp/graft_graph_index/$r/$a.parquet/v*/*.parquet"

  // the 23 index paths of the sf0.01 oracle SQL, whose text the
  // correctness gate runs unchanged, in order of appearance per query
  private val Golden: Map[String, Seq[String]] = Map(
    "scont2_semantic_contamination_ivf" -> Seq(ann("sf0.01_scont", "centroids"),
      "/tmp/graft_ann_index/sf0.01_scont/lists.parquet/v*/*/*.parquet"),
    "st16_stream_ann_index" -> Seq("centroids", "codebook", "index").map(ann("sf0.01", _)),
    "st21_stream_index_append" ->
      Seq("centroids", "codebook", "index").map(ann("sf0.01_stream", _)),
    "st29_stream_graph_append" -> Seq(graph("sf0.01_stream", "edges")),
    "st30_graph_reconcile" -> Seq(graph("sf0.01_rec", "edges")),
    "x23_ann_ivfpq_persisted" -> Seq("centroids", "codebook", "index").map(ann("sf0.01", _)),
    "x29_ann_index_upsert" -> Seq("centroids", "codebook", "index").map(ann("sf0.01_b400", _)),
    "x30_ann_index_delete" ->
      Seq("centroids", "codebook", "tombstones", "index").map(ann("sf0.01_del", _)),
    "x37_graph_index_persisted" -> Seq(graph("sf0.01", "edges")),
    "x38_graph_index_delete" -> Seq(graph("sf0.01_gd", "tombstones"), graph("sf0.01_gd", "edges")),
  )

  test("at sf0.01 the index oracles read exactly the 23 golden paths") {
    assert(Golden.values.map(_.size).sum == 23)
    assert(indexPaths(SparkEntry.oracleSql) == Golden)
    assert(SparkEntry.oracleSqlFor("/data/sf0.01") == SparkEntry.oracleSql)
  }

  test("at another sf directory every index path names that directory") {
    val paths = indexPaths(SparkEntry.oracleSqlFor("/data/sf0.001"))
    assert(paths.keySet == Golden.keySet)
    for ((name, ps) <- paths; p <- ps) {
      assert(p.contains("/sf0.001"), s"$name reads $p")
      assert(!p.contains("sf0.01"), s"$name reads $p")
    }
  }
}
