package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, BaseOrdering, Descending, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Whole-operator extension: top-k rows per key as ONE first-class plan
  * node, planned as a two-phase bounded-heap operator.
  *
  * The composed alternative (window `row_number` + filter, or a LATERAL
  * subquery) must shuffle and sort EVERY row of the child: at 100 TB the
  * exchange carries the full table and each reducer sorts its whole
  * partition just to throw away all but k rows per key. This operator
  * plans as
  *
  *   TopKPerKey(final) <- Exchange(hash by key) <- TopKPerKey(partial)
  *
  * — the partial phase caps each map-side partition at k rows PER KEY
  * with a bounded heap (no sort, O(n log k) comparisons, O(keys·k)
  * memory), so the shuffle moves at most partitions·keys·k rows instead
  * of n. Same shape as Spark's partial aggregation, applied to order
  * statistics. Ties: the sort order should be made total (append a
  * unique tiebreak column) for deterministic output, exactly as a
  * window-function formulation requires.
  *
  * The final phase can additionally EMIT the rank ordinal (`rankAttr`):
  * the surviving k rows per key pop off the heap already ordered, so the
  * 1..k numbering is free — no sort, no window. This is what lets
  * [[RewriteRankFilterToTopK]] fire even when the query projects the
  * `row_number()` column itself (the ANN top-k surface does: it returns
  * `(q_vec, rank, c_vec, cosine)`).
  *
  * Registered via `GraftExtensions` (`injectPlannerStrategy`); the
  * logical node is built already-resolved against the child's output, so
  * it passes analysis untouched and opaquely through the optimizer.
  */
object TopKPerKey {

  /** Top `k` rows of `df` per `keyCols` group, first in `orderCols`
    * order ((name, ascending) pairs). Row order within the result is
    * unspecified, as with any unsorted DataFrame.
    *
    * `dedupCols` (optional): rows that tie another row already HELD in
    * the group's heap on these columns are skipped — the heap keeps top-k
    * over DISTINCT dedup keys. PRECONDITION: any two rows sharing a
    * dedup key must be identical under the sort order (the operator
    * keeps the first seen; with non-identical duplicates the survivor
    * would be arrival-order-dependent). This is the NN-descent fold
    * (optimization r16, VERDICT r15 #4): a candidate pair that is
    * already a settled graph edge re-arrives with the SAME deterministic
    * cosine, so deduping inside the heap replaces a per-round
    * settled-edge anti-join (one full exchange of the candidate set)
    * with an O(1) set probe — and ranks cannot shift, because the
    * ordinal is assigned after dedup.
    *
    * `rankCol` (optional): emit the 1-based per-group ordinal under this
    * name (the final heap pops its survivors ordered, so the numbering
    * is free — same contract as the rewrite's rank emission).
    */
  def topKPerKey(df: DataFrame, keyCols: Seq[String],
                 orderCols: Seq[(String, Boolean)], k: Int,
                 dedupCols: Seq[String] = Nil,
                 rankCol: Option[String] = None): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(keyCols.nonEmpty && orderCols.nonEmpty)
    val analyzed = df.queryExecution.analyzed
    def attr(n: String): Attribute = analyzed.output
      .find(_.name == n)
      .getOrElse(throw new IllegalArgumentException(
        s"column '$n' not among ${analyzed.output.map(_.name).mkString(", ")}"))
    val order = orderCols.map { case (n, asc) =>
      SortOrder(attr(n), if (asc) Ascending else Descending)
    }
    val rankAttr = rankCol.map(n =>
      AttributeReference(n, org.apache.spark.sql.types.IntegerType,
        nullable = false)())
    GraftSqlBridge.ofRows(df.sparkSession,
      TopKPerKeyPlan(keyCols.map(attr), order, k, analyzed, rankAttr,
        dedupCols.map(attr)))
  }
}

case class TopKPerKeyPlan(
    keys: Seq[Attribute],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan,
    rankAttr: Option[Attribute] = None,
    dedup: Seq[Attribute] = Nil) extends UnaryNode {
  override def output: Seq[Attribute] = child.output ++ rankAttr
  // the rank ordinal is INTRODUCED here (not read from the child) — the
  // analyzer's missing-attribute check needs that declared explicitly
  // when the node is built via the public API (the optimizer-injected
  // path never re-runs analysis)
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(rankAttr.toSeq)
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyPlan =
    copy(child = newChild)
}

object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyPlan(keys, order, k, child, rankAttr, dedup) =>
      // Only the final phase numbers rows: partial survivors are a
      // superset of the true top-k, so any rank assigned map-side would
      // be provisional and discarded anyway. Dedup applies in BOTH
      // phases: map-side it thins the shuffle, reduce-side it is what
      // makes the distinct-rows contract hold across partitions.
      val partial = TopKPerKeyExec(keys, order, k, partial = true, None, dedup, planLater(child))
      TopKPerKeyExec(keys, order, k, partial = false, rankAttr, dedup, partial) :: Nil
    case _ => Nil
  }
}

/** Bounded-heap top-k per key. `partial = true` runs map-side on
  * whatever partitioning the child has; the final phase declares
  * `ClusteredDistribution(keys)` so EnsureRequirements plants the hash
  * exchange between the two — which then carries only the partial
  * survivors. When `rankAttr` is set (final phase only), each group's
  * survivors are emitted best-first with the 1-based ordinal appended —
  * the heap pops in reverse sort order, so the numbering costs nothing.
  */
case class TopKPerKeyExec(
    keys: Seq[Attribute],
    order: Seq[SortOrder],
    k: Int,
    partial: Boolean,
    rankAttr: Option[Attribute],
    dedup: Seq[Attribute],
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output ++ rankAttr
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(rankAttr.toSeq)
  override def outputPartitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) Seq(UnspecifiedDistribution) else Seq(ClusteredDistribution(keys))
  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)

  protected override def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val keyExprs = keys
    val sortOrder = order
    val dedupExprs = dedup
    val limit = k
    val emitRank = rankAttr.isDefined
    val outputTypes = output.map(_.dataType).toArray
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val ordering: BaseOrdering = RowOrdering.create(sortOrder, childOutput)
      val dedupProj =
        if (dedupExprs.isEmpty) null
        else UnsafeProjection.create(dedupExprs, childOutput)
      // Per key a max-heap under the sort order: head = worst kept row.
      // A new row displaces the head iff it sorts strictly before it, so
      // each heap holds the k first rows in sort order seen so far.
      // With dedup: a row whose dedup key is already HELD is skipped
      // (the contract requires such rows to be identical, see
      // [[TopKPerKey.topKPerKey]]); evictions release their key, so a
      // re-arriving duplicate of an evicted row competes normally.
      val heaps = new java.util.HashMap[UnsafeRow, TopKPerKeyExec.Group]()
      while (iter.hasNext) {
        val row = iter.next()
        val key = keyProj(row)
        var group = heaps.get(key)
        if (group == null) {
          group = new TopKPerKeyExec.Group(ordering, dedupProj != null)
          heaps.put(key.copy(), group)
        }
        val heap = group.heap
        // dedupProj reuses its output buffer: membership is checked
        // first, and the key is re-projected (then copied) at insertion
        // time because the eviction path projects the evicted row in
        // between.
        if (dedupProj == null || !group.held.contains(dedupProj(row))) {
          if (heap.size < limit) {
            heap.enqueue(row.copy())
            if (dedupProj != null) group.held.add(dedupProj(row).copy())
          } else if (ordering.compare(row, heap.head) < 0) {
            val evicted = heap.dequeue()
            if (dedupProj != null) {
              group.held.remove(dedupProj(evicted))
              group.held.add(dedupProj(row).copy())
            }
            heap.enqueue(row.copy())
          }
        }
      }
      import scala.jdk.CollectionConverters._
      val groups = heaps.values().iterator().asScala.map(_.heap)
      if (!emitRank) {
        groups.flatMap(_.iterator)
      } else {
        // dequeueAll pops worst-first (the heap is a max-heap under the
        // sort order); reversing gives the group best-first, so element
        // i carries rank i + 1 — identical to row_number() over a window
        // with the same (possibly tie-arbitrary) order.
        val proj = UnsafeProjection.create(outputTypes)
        val joined = new JoinedRow
        val rankRow = new GenericInternalRow(1)
        groups.flatMap { heap =>
          val sorted = new Array[InternalRow](heap.size)
          var j = sorted.length - 1
          while (j >= 0) { sorted(j) = heap.dequeue(); j -= 1 }
          sorted.iterator.zipWithIndex.map { case (row, i) =>
            rankRow.update(0, i + 1)
            proj(joined(row, rankRow))
          }
        }
      }
    }, preservesPartitioning = true)
  }
}

object TopKPerKeyExec {

  /** A group's bounded heap plus (when deduping) the set of dedup keys
    * currently held in it — membership is an O(1) byte-equality probe.
    * Lives in the companion, not the exec: an inner class would capture
    * the exec (and with it the physical subtree) in every task closure
    * that builds one.
    */
  private final class Group(ordering: BaseOrdering, withDedup: Boolean) {
    val heap: scala.collection.mutable.PriorityQueue[InternalRow] =
      scala.collection.mutable.PriorityQueue.empty[InternalRow](ordering)
    val held: java.util.HashSet[UnsafeRow] =
      if (withDedup) new java.util.HashSet[UnsafeRow]() else null
  }
}
