package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates one named query per implemented operator
  * (SURVEY.md §2 reference inventory + the large-scale extension set);
  * `oracleSql` carries the DuckDB-equivalent SQL for every query whose
  * semantics are ANSI-SQL-expressible (same column aliases on both sides —
  * the driver sorts columns by name before hashing).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's A1 shape (daily net production by type) phrased over
    * lineitem: revenue by return flag and ship day.
    */
  def entry(spark: SparkSession): DataFrame =
    Tables.lineitem(spark, "/root/testdata/sf0.001")
      .withColumn("ship_date", to_date(col("l_shipdate")))
      .groupBy(col("l_returnflag"), col("ship_date"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
      )
      .orderBy("l_returnflag", "ship_date")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.ReferenceQueries.queries ++ graft.queries.ExtensionQueries.queries ++
      graft.queries.AnalyticsQueries.queries ++ graft.queries.PipelineQueries.queries ++
      graft.queries.SurfaceQueries.queries ++ graft.queries.TrainingDataQueries.queries ++
      graft.queries.ScaleOpsQueries.queries ++ graft.queries.WorkloadQueries.queries ++
      graft.queries.DecisionQueries.queries ++
      graft.queries.ExperimentQueries.queries

  /** The oracle SQL of the correctness gate, which runs at sf0.01. */
  def oracleSql: Map[String, String] = oracleSqlFor("sf0.01")

  /** The oracle SQL for the corpus at `sfDir`: the persisted-index
    * replays read that corpus's index roots (only the directory's
    * basename counts, see [[graft.operators.IndexStore.root]]).
    */
  def oracleSqlFor(sfDir: String): Map[String, String] =
    graft.queries.ReferenceQueries.oracles ++ graft.queries.ExtensionQueries.oracles ++
      graft.queries.AnalyticsQueries.oracles ++ graft.queries.PipelineQueries.oracles ++
      graft.queries.SurfaceQueries.oracles ++ graft.queries.TrainingDataQueries.oracles ++
      graft.queries.ScaleOpsQueries.oracles ++ graft.queries.WorkloadQueries.oracles ++
      graft.queries.DecisionQueries.oracles ++
      graft.queries.ExperimentQueries.oracles ++
      graft.queries.ExtensionQueries.indexOracles(sfDir) ++
      graft.queries.SurfaceQueries.indexOracles(sfDir)
}
