package graft.operators

import graft.energy.AtomicLayer
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The one owner of the persisted ANN and graph indexes' lifecycle:
  * where an index lives ([[root]]), the file glob the oracle SQL reads
  * an artifact by ([[glob]]), how an artifact is written and read
  * ([[put]] / [[get]]), build once / serve many ([[buildOnce]]), and the
  * pending-delete set ([[tombstones]], [[delete]], [[clearOnAdd]]).
  *
  * Every artifact is an [[AtomicLayer]] table kept at exactly one
  * committed snapshot, so `<root>/<artifact>/v*` resolves one version
  * for a reader that globs instead of resolving the commit marker (the
  * DuckDB oracle). The roots are fixed paths under `/tmp`, outside the
  * per-run scratch root, because the oracle reads them after the JVM
  * exits; they are keyed on the corpus directory's basename only.
  */
object IndexStore {

  /** Base of the IVF / IVF-PQ (ANN) index family. */
  val Ann = "/tmp/graft_ann_index"

  /** Base of the NN-descent graph index family. */
  val Graph = "/tmp/graft_graph_index"

  /** Root of one persisted index over the corpus at `dir`:
    * `<family>/<basename of dir><suffix>`, e.g. `root(Ann, ".../sf0.01",
    * "_del")` is `/tmp/graft_ann_index/sf0.01_del`.
    */
  def root(family: String, dir: String, suffix: String = ""): String =
    s"$family/${new java.io.File(dir).getName}$suffix"

  /** The parquet files of `artifact`'s committed snapshot under `root`,
    * as the glob a reader without the commit protocol uses: every
    * `*.parquet` file in the `v*` directories of `<root>/<artifact>`,
    * one `*` directory level deeper per partition column.
    */
  def glob(root: String, artifact: String, partitionLevels: Int = 0): String =
    s"$root/$artifact/v*/" + "*/" * partitionLevels + "*.parquet"

  /** Commit `df` as the one snapshot of `artifact` under `root`; the
    * previous snapshot is pruned after the commit.
    */
  def put(df: DataFrame, root: String, artifact: String,
      partitionCols: Seq[String] = Nil): Unit =
    AtomicLayer.write(df, s"$root/$artifact", partitionCols = partitionCols,
      keepVersions = 1): Unit

  /** The committed snapshot of `artifact` under `root`. */
  def get(spark: SparkSession, root: String, artifact: String): DataFrame =
    AtomicLayer.read(spark, s"$root/$artifact")

  /** Build once, serve many: runs `build` unless every one of
    * `artifacts` under `root` has a committed snapshot. All or nothing:
    * when only some are committed (a build that died between two
    * commits), `build` runs again and must rewrite every artifact.
    */
  def buildOnce(spark: SparkSession, root: String, artifacts: String*)(
      build: => Unit): Unit =
    if (!artifacts.forall(a => AtomicLayer.latestCommitted(spark, s"$root/$a").isDefined))
      build

  /** The pending-delete set of the index at `root`: every id (`c_vec`)
    * deleted and not re-added since. Empty when no delete has run.
    */
  def tombstones(spark: SparkSession, root: String): DataFrame =
    if (AtomicLayer.latestCommitted(spark, s"$root/tombstones.parquet").isDefined)
      get(spark, root, "tombstones.parquet")
    else
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType(Seq(StructField("c_vec", LongType))))

  /** DELETE ids from the persisted index at `root`, for either family:
    * the ids join a small side artifact `tombstones.parquet` instead of
    * a rewrite of the index, so a delete costs O(batch) at any corpus
    * size, and serving anti-joins the (broadcast) set. Nothing folds
    * tombstones into the index, so the set grows with the delete
    * volume, never the corpus. `ids` is a single id column of any name.
    * Idempotent: deleting an id twice keeps one tombstone row. Unknown
    * ids are fine (a tombstone for a never-indexed id filters nothing).
    */
  def delete(ids: DataFrame, root: String): Unit = {
    require(ids.columns.length == 1,
      s"delete batch must be a single id column, got: ${ids.columns.mkString(", ")}")
    val newTombs = ids.select(col(ids.columns.head).as("c_vec"))
    // one distinct over the union dedups batch-internal repeats AND
    // already-tombstoned ids in the same exchange
    put(tombstones(ids.sparkSession, root).unionByName(newTombs).distinct(),
      root, "tombstones.parquet")
  }

  /** Re-adding a deleted id RESURRECTS it: drop the tombstones of the
    * re-added `ids` (a `c_vec` column). The add is the later operation,
    * so it wins (the st19 CDC rule). Writes nothing when no tombstone
    * exists.
    */
  def clearOnAdd(ids: DataFrame, root: String): Unit = {
    val tombs = tombstones(ids.sparkSession, root)
    if (!tombs.isEmpty)
      put(tombs.join(ids, Seq("c_vec"), "left_anti"), root, "tombstones.parquet")
  }
}
