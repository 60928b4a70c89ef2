package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Sequence packing: assign documents to fixed-capacity "context window"
  * bins for LLM training-data preparation — the step that turns a
  * deduplicated, filtered corpus into training rows of ~N tokens each.
  *
  * The bin function is cumulative-offset packing: documents are laid out
  * in a deterministic total order and document d goes to bin
  * `floor(prefixSum_before(d) / target)`. Every bin except possibly the
  * last holds at least `target` tokens once its boundary document lands,
  * and the assignment is a pure function of the corpus — independent of
  * partitioning, parallelism, and rerun (unlike first-fit packing, whose
  * sequential bin state makes it order-dependent AND non-relational).
  *
  * The prefix sum itself is the scale-critical part: the naive
  * `SUM(w) OVER (ORDER BY id)` is a GLOBAL window — Catalyst plans a
  * single-partition sort and 100 TB funnels through one task. We reuse
  * the [[Ids]] two-pass shape instead: range-repartition by the ordering
  * key, partition-local running sums, then a tiny per-partition total
  * vector collected to the driver, turned into cumulative offsets, and
  * broadcast back. Driver traffic is numPartitions longs; everything
  * else is distributed.
  */
object Packing {

  /** `outCol` = running total of `weightCol` over `orderCols` order,
    * INCLUDING the current row — distributed ROW_NUMBER-style prefix sum
    * without the single-partition global window. `orderCols` must be a
    * total order for a deterministic result; weights are summed as
    * BIGINT (cast first).
    */
  def prefixSum(
      df: DataFrame,
      orderCols: Seq[Column],
      weightCol: Column,
      outCol: String,
      numPartitions: Int = 0,
  ): DataFrame = {
    val n = if (numPartitions > 0) numPartitions
      else df.sparkSession.sparkContext.defaultParallelism
    val ranged = df
      .withColumn("__w", weightCol.cast(LongType))
      .repartitionByRange(n, orderCols: _*)
      .withColumn("__pid", spark_partition_id())
    val w = Window.partitionBy(col("__pid")).orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // localCheckpoint pins the sampled range boundaries: the totals job
    // and the final job must see the SAME partition assignment (see Ids).
    val local = ranged.withColumn("__lcum", sum(col("__w")).over(w))
      .localCheckpoint()
    // coalesce: an all-NULL-weight partition sums to NULL, which must
    // read as "contributes 0 to downstream offsets", not an NPE here
    val totals = local.groupBy("__pid")
      .agg(coalesce(sum(col("__w")), lit(0L)).as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = totals.scanLeft(0 -> 0L) {
      case ((_, acc), (pid, t)) => pid -> (acc + t)
    }
    // The (pid, offset) vector is numPartitions rows — ship it back as a
    // BROADCAST join, not a when-chain expression: folding thousands of
    // partitions into nested when/otherwise blows up the expression tree
    // and codegen at exactly the partition counts 100 TB implies.
    val spark = df.sparkSession
    import spark.implicits._
    val offsetRows = totals.map(_._1).zip(offsets.map(_._2))
    val offsetsDf = broadcast(offsetRows.toSeq.toDF("__pid", "__off"))
    local
      .join(offsetsDf, Seq("__pid"))
      .withColumn(outCol, col("__off") + col("__lcum"))
      .drop("__pid", "__off", "__lcum", "__w")
  }

  /** Within-group rank without a per-group window: adds `rn` (1-based
    * position in `orderCols` order inside the row's `groupCol` group)
    * and `n` (the group's size). `row_number() OVER (PARTITION BY
    * group)` sorts each group on one task, so a low-cardinality group
    * key caps the sort's parallelism at the number of groups. Here the
    * global row number comes from [[prefixSum]] over (group,
    * orderCols), minus the group's start offset: a window over the
    * per-group count relation, whose size is the number of groups, not
    * of rows. `orderCols` must make the order total within a group;
    * rows with a NULL group are dropped.
    */
  def groupRank(df: DataFrame, groupCol: String, orderCols: Seq[Column]): DataFrame = {
    val ranked = prefixSum(df, col(groupCol) +: orderCols, lit(1L), "__grn")
    val wGroup = Window.orderBy(groupCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bounds = df.groupBy(groupCol)
      .agg(count(lit(1)).as("n"))
      .withColumn("__start", sum(col("n")).over(wGroup) - col("n"))
    ranked.join(broadcast(bounds), Seq(groupCol))
      .withColumn("rn", col("__grn") - col("__start"))
      .drop("__grn", "__start")
  }

  /** Cumulative-offset packing: adds `binCol` =
    * `floor((prefixSum - weight) / targetPerBin)` — the bin each row
    * STARTS in when rows are laid out consecutively in `orderCols`
    * order. Weights must be non-negative.
    */
  def packBins(
      df: DataFrame,
      orderCols: Seq[Column],
      weightCol: Column,
      targetPerBin: Long,
      binCol: String = "bin_id",
  ): DataFrame = {
    require(targetPerBin > 0, s"targetPerBin must be positive, got $targetPerBin")
    // Enforce the documented precondition instead of silently emitting
    // non-monotonic bin ids: assert_true raises on the first negative
    // weight (NULL weights pass — they carry no mass). The coalesce
    // keeps the assert itself null-safe.
    val guarded = df
      .withColumn("__pw", weightCol.cast(LongType))
      .where(coalesce(
        assert_true(coalesce(col("__pw"), lit(0L)) >= 0,
          lit("packBins: weights must be non-negative")),
        lit(true)))
    prefixSum(guarded, orderCols, col("__pw"), "__cum")
      // exact BIGINT floor-div (`div`), never a rounded double division —
      // prefix sums at corpus scale clear 2^53 long before they clear 2^63
      .withColumn(binCol, expr(s"(__cum - __pw) div ${targetPerBin}L"))
      .drop("__cum", "__pw")
  }
}
