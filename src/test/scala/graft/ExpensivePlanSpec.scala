package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Plan-shape regression guard for the BENCH TOP-10 (r7 ranking) — the
  * queries where a silent shape regression costs the most wall time.
  * st15's r6 3.2× drift went unnoticed because only its timing was
  * tracked; these assertions pin the load-bearing physical properties so
  * a shape regression fails the build even when timing noise masks it.
  *
  * The top-10 sweep here checks the EXECUTED (post-AQE) plan — the plan
  * that actually ran; [[RegistryPlanSweepSpec]] applies the same two
  * generic assertions (no CartesianProduct, no unallowlisted global
  * Window) to ALL registry queries at the pre-adaptive level.
  * Query-specific tests add the property that makes THAT query scale.
  */
class ExpensivePlanSpec extends SparkSpec {

  private def executedString(df: DataFrame): String = executed(df).toString

  private def executed(df: DataFrame): SparkPlan = {
    df.count()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p: SparkPlan => p
    }
  }

  private def q(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sf0001)

  // The bench top-10 batch members, r9 full-registry ranking (cal1
  // displaced hist1 at #10; st22/st15 are streaming — their join shape
  // is pinned below). Kept as an explicit list, not derived from a
  // bench artifact, so the guard is hermetic; the registry-wide sweep
  // (RegistryPlanSweepSpec) covers everything else.
  // r9-continuation final re-rank (402-query bench): card2/rnn2/d12
  // entered the top-10 alongside dr1; mod1/bkt1/cal1/d6 slid out but
  // stay pinned — former members whose shapes still matter.
  private val top10Batch = Seq(
    "tm2_clean_corpus", "tm1_training_funnel", "d11_containment_join",
    "ssj1_prefix_jaccard", "d7_dedup_pipeline", "d6_dedup_clusters",
    "d10_incremental_dedup", "bkt1_bucketed_join",
    "bkt2_partitioned_bucketed", "cal1_gate_agreement",
    "dr1_dedup_recall", "mod1_community_modularity",
    "card2_drift_scorecard", "rnn2_mutual_knn_clusters",
    "d12_quality_canonical",
    // r10 top-10 entrants: the graph-ANN lifecycle (x36 8.2 s is the
    // new #1 — build + beam + refinement composed)
    "x34_nn_descent", "x35_graph_ann_nnd", "x36_nnd_upsert",
    // r11 entrants (VERDICT r10 #6: the adjudicated r10 expensive set —
    // dr1/hist1/hits1 — plus the new persisted-graph lifecycle tier)
    "hist1_equidepth", "hits1_hubs_authorities",
    "x37_graph_index_persisted", "x38_graph_index_delete",
    "sd3_semantic_dedup_lsh",
    // r12 entrants: the refreshed sf1.0 top-10 residents that were not
    // yet pinned (scont1 is the declared exact quadratic census — its
    // scale path scont2 serves from the persisted IVF artifact; win1/
    // wcont1 are the winnowing fingerprint tier; ppl1 the LM scorer)
    "scont1_semantic_contamination", "wcont1_winnowed_contamination",
    "win1_winnowing", "ppl1_lm_doc_score",
    // r15 entrant: nov1 joined the sf1.0 top-10 (flat vs r13 itself —
    // 4.95→5.27 s — it rose by others getting faster; ppl1, the other
    // new resident, was already pinned above)
    "nov1_ngram_novelty")

  test("bench top-10: no cartesian, no partition-less window anywhere") {
    for (name <- top10Batch) {
      val plan = executed(q(name))
      assert(!plan.toString.contains("CartesianProduct"),
        s"$name plans a CartesianProduct")
      val global = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
      }
      assert(global.isEmpty,
        s"$name has a partition-less Window (single-task sort of the world)")
    }
  }

  test("tm1: one conditional aggregation pass; gate joins key on doc_id, never text") {
    // Optimization r15 shape: stage membership is a conjunction of
    // per-doc flags, so the WHOLE funnel is one global conditional
    // aggregate (exactly one partial+final pair, stages exploded from
    // its single row) — the r14 shape ran five per-stage aggregations
    // over four eagerly-materialized stage snapshots. (The old pin here
    // asserted "no Join" on a plan those checkpoints had truncated to
    // the final fragment — it was vacuous.) The gate-verdict joins are
    // corpus-sized and doc_id-keyed — cal1's documented correct shape —
    // and no exchange may ever key on raw text.
    val plan = executed(q("tm1_training_funnel"))
    val globalAggs = plan.collect {
      case h: org.apache.spark.sql.execution.aggregate.HashAggregateExec
        if h.groupingExpressions.isEmpty => h
    }
    assert(globalAggs.size == 2,
      s"tm1 must compute all five stages in ONE partial+final global " +
        s"aggregate pair, found ${globalAggs.size}")
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    for (e <- exchanges)
      assert(!e.outputPartitioning.toString.toLowerCase.contains("text"),
        s"tm1 shuffles on a raw text column: ${e.outputPartitioning}")
  }

  test("cal1: weight table broadcasts; doc-keyed joins shuffle on doc_id, never text") {
    // The two gate verdicts are corpus-sized (one row per doc), so their
    // doc_id sort-merge join is the CORRECT shape; the scale property is
    // (a) the 4096-row classifier weight table reaches the feature
    // stream broadcast and (b) no exchange ever keys on raw text.
    val plan = executed(q("cal1_gate_agreement"))
    assert(plan.toString.contains("BroadcastHashJoin"),
      "cal1: the weight table stopped broadcasting")
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    for (e <- exchanges)
      assert(!e.outputPartitioning.toString.toLowerCase.contains("text"),
        s"cal1 shuffles on a raw text column: ${e.outputPartitioning}")
  }

  test("ts10: percentile aggregates partially before the exchange") {
    val plan = executedString(q("ts10_daily_percentiles"))
    assert(plan.contains("partial_"),
      s"ts10 lost map-side partial aggregation:\n${plan.take(500)}")
  }

  test("d7/d10: dedup pipelines key every exchange on hash/id columns, never text") {
    for (name <- Seq("d7_dedup_pipeline", "d10_incremental_dedup")) {
      val plan = executed(q(name))
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      for (e <- exchanges) {
        val cols = e.outputPartitioning.toString.toLowerCase
        assert(!cols.contains("text"),
          s"$name shuffles on a raw text column: $cols")
      }
    }
  }

  test("st15: stream-stream left join keeps watermarks on BOTH sides and a time-range bound") {
    // The streaming plan is not inspectable after the drive stops, so
    // assert the ANALYZED logical shape of the exact join the drive
    // runs (the production code's own builder): bounded state requires
    // (a) an event-time watermark on each input and (b) a two-sided
    // time-range condition — lose either and state grows without bound.
    for (joinType <- Seq("inner", "leftOuter", "fullOuter")) {
      val joined = graft.streaming.EventsStream.clickPurchaseJoin(spark, sf0001, joinType)
      val analyzed = joined.queryExecution.analyzed
      val watermarks = analyzed.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark => w
      }
      assert(watermarks.length == 2,
        s"expected a watermark on each join input, found ${watermarks.length}")
      val join = analyzed.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.head
      val cond = join.condition.map(_.toString).getOrElse("")
      assert(cond.contains(">=") && cond.contains("<="),
        s"join condition lost its two-sided time-range bound: $cond")
    }
  }
}
