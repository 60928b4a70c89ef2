package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Physical-plan guardrails: the scale properties SCALE.md claims are
  * asserted here so a future refactor that silently loses a pushdown, a
  * broadcast, or map-side partial aggregation fails the build instead of
  * the benchmark.
  */
class PlanSpec extends SparkSpec {

  private def planString(df: DataFrame): String = {
    val executed = df.queryExecution.executedPlan
    val finalPlan = executed match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p: SparkPlan => p
    }
    finalPlan.toString
  }

  private def q(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sf0001)

  test("p1_project: scan reads only the projected columns") {
    val plan = planString(q("p1_project"))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse(plan)
    assert(readSchema.contains("l_orderkey") && !readSchema.contains("l_extendedprice"),
      s"expected pruned scan, got: $readSchema")
  }

  test("j1_join_inner: small side broadcasts, filters pushed to scan") {
    val df = q("j1_join_inner")
    df.count() // let AQE finalize
    val plan = planString(df)
    assert(plan.contains("BroadcastHashJoin"), plan.take(400))
    assert(plan.contains("PushedFilters: [IsNotNull"), plan.take(400))
  }

  test("a1_groupby_sum: map-side partial aggregation before the exchange") {
    val plan = planString(q("a1_groupby_sum"))
    assert(plan.contains("partial_sum"), plan.take(400))
  }

  test("silver flatten is shuffle-free (narrow generate pipeline)") {
    import graft.energy._
    val bronze = Bronze.bronzeDf(spark, "country", "de", Seq(
      java.time.LocalDate.parse("2025-01-01") ->
        """{"unix_seconds": [1735689600], "production_types": [{"name": "Solar", "data": [1.0]}]}"""))
    val plan = planString(Silver.powerToSilver(bronze))
    assert(!plan.contains("Exchange"), s"silver should not shuffle:\n${plan.take(500)}")
  }

  test("x1_ann_bruteforce: query side broadcasts; corpus is not shuffled for scoring") {
    val df = q("x1_ann_bruteforce")
    df.count()
    val plan = planString(df)
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      plan.take(500))
  }

  test("j8_snowflake_join: dimension chain broadcasts; revenue aggregates map-side") {
    val df = q("j8_snowflake_join")
    df.collect() // executes THIS QueryExecution, so AQE finalizes df's own plan
    val plan = planString(df)
    assert(plan.contains("BroadcastHashJoin"), plan.take(500))
    assert(plan.contains("partial_sum"), plan.take(500))
  }

  test("d8_minhash_portable: signature mins combine map-side before the shuffle") {
    val plan = planString(q("d8_minhash_portable"))
    assert(plan.contains("partial_min"), plan.take(500))
  }

  test("ts2_interpolate: no shrinking window frames (the O(n²) formulation)") {
    // Both next-/prev-observation lookups must be running frames
    // (UnboundedPreceding→CurrentRow); a CurrentRow→UnboundedFollowing
    // frame is re-evaluated from scratch per row by WindowExec.
    val plan = planString(q("ts2_interpolate"))
    assert(plan.contains("specifiedwindowframe"), plan.take(500))
    // Any frame ENDING at UnboundedFollowing that doesn't also START at
    // UnboundedPreceding shrinks as rows advance — the O(n²) class; the
    // full-partition (unboundedpreceding, unboundedfollowing) form is the
    // only constant-per-partition exception.
    val shrinking = plan
      .replace("unboundedpreceding$(), unboundedfollowing$()", "FULLFRAME")
      .contains("unboundedfollowing$()")
    assert(!shrinking, s"shrinking frame found:\n${plan.take(800)}")
  }

  test("partition pruning: a partition predicate reads only matching dirs' files") {
    // NOTE what this proves: pruning bounds the READ set (PartitionFilters
    // + numFiles), not the initial directory LISTING — path-based reads
    // still list all partitions at discovery; bounding listing cost needs
    // a catalog table. The read-set bound is the part that moves bytes.
    import org.apache.spark.sql.functions._
    val dir = graft.tools.Scratch.dir("ppart").toString + "/data"
    spark.range(1000)
      .select(col("id"), (col("id") % 10).as("day"))
      .write.partitionBy("day").parquet(dir)
    val totalFiles = spark.read.parquet(dir)
      .select(input_file_name()).distinct().count()
    val filtered = spark.read.parquet(dir).where(col("day") === 3)
    filtered.collect()
    val scan = (filtered.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }).collectLeaves().collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.get
    assert(scan.toString.contains("PartitionFilters"), scan.toString.take(400))
    // read set is the selected day's share (1 of 10 partitions), however
    // many files the writer's parallelism produced per partition
    val read = scan.metrics("numFiles").value
    assert(read > 0 && read * 5 < totalFiles,
      s"expected a pruned read set, got $read of $totalFiles files")
    assert(filtered.count() == 100)
  }

  test("dynamic partition pruning: a dim-side filter prunes the fact scan at runtime") {
    // The selective predicate lives on a NON-partition dim column, so
    // static pruning can't see it; DPP plants a runtime subquery on the
    // fact's partition column (reusing the broadcast), and the scan
    // reads only the surviving partitions' files.
    import org.apache.spark.sql.functions._
    val dir = graft.tools.Scratch.dir("dpp").toString + "/fact"
    spark.range(1000)
      .select(col("id"), (col("id") % 10).cast("int").as("day"))
      .write.partitionBy("day").parquet(dir)
    val fact = spark.read.parquet(dir)
    val totalFiles = fact.select(input_file_name()).distinct().count()
    val dim = spark.range(10)
      .select(col("id").cast("int").as("day"),
        concat(lit("name_"), col("id")).as("name"))
    // AQE wraps each stage's scan in QueryStageExec leaves, which hides
    // the fact scan from plan introspection; DPP itself is orthogonal
    // to AQE, so pin it off for a readable executed plan.
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val executed = try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val q = fact.join(dim, Seq("day")).where(col("name") === "name_3")
      q.collect()
      assert(q.count() == 100)
      q.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    assert(executed.toString.toLowerCase.contains("dynamicpruning"),
      s"no DPP subquery in plan:\n${executed.toString.take(800)}")
    val scan = executed.collectLeaves().collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toString.contains("/fact")) => s
    }.get
    val read = scan.metrics("numFiles").value
    assert(read > 0 && read * 5 < totalFiles,
      s"expected DPP-pruned read set, got $read of $totalFiles files")
  }

  test("tq5: region filter pushed to scan; no cartesian anywhere in the snowflake") {
    val df = q("tq5_local_supplier")
    df.count() // let AQE finalize
    val plan = planString(df)
    assert(plan.contains("PushedFilters: [IsNotNull(r_name), EqualTo(r_name,EUROPE)]") ||
      plan.contains("EqualTo(r_name,EUROPE)"), plan.take(600))
    assert(!plan.contains("CartesianProduct"), "snowflake join degenerated to a cartesian")
  }

  test("ssj1: candidate generation never crosses the full token relation with itself") {
    val df = q("ssj1_prefix_jaccard")
    df.count()
    val executed = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p: SparkPlan => p
    }
    assert(!executed.toString.contains("CartesianProduct"),
      "prefix join degenerated to a cartesian")
    // prefix ranking is a per-doc aggregate (local sort of one doc's
    // token set) — any WindowExec here means the formulation regressed
    // to the join-sizes + row_number shape (extra exchange + sort pass),
    // and a partition-less window would be the full scale bug
    val windows = executed.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty,
      "prefix ranking regressed to a window formulation")
  }

  test("fs1/fs2/fs3: per-group stats broadcast back onto the scan (no fact re-shuffle)") {
    for (name <- Seq("fs1_feature_scale", "fs2_robust_scale", "fs3_winsorize")) {
      val df = q(name)
      df.count()
      val plan = planString(df)
      assert(plan.contains("BroadcastHashJoin"), s"$name: stats join did not broadcast")
    }
  }

  test("smp5: per-group reservoir sample plans through TopKPerKeyExec (no window sort)") {
    val df = q("smp5_group_reservoir")
    val executed = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p: SparkPlan => p
    }
    assert(executed.toString.contains("TopKPerKey"),
      s"smp5 plan lacks TopKPerKeyExec:\n${executed.toString.take(500)}")
    // typed collect — plan strings strip the Exec suffix, so a string
    // match on "WindowExec" can never fire
    val windows = executed.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty, "sample fell back to a window sort")
  }

  test("st12: the corpus membership test reaches the stream as a broadcast anti-join") {
    import org.apache.spark.sql.functions.{col, sha2}
    // Stream plans are not inspectable after the drive stops, so apply
    // DocsStream's OWN plan builder (the exact code the stream runs) to a
    // batch frame and assert the join shape there.
    val corpus = Tables.documents(spark, sf0001)
      .where(col("doc_id") % 4 =!= 0)
      .select(sha2(col("text"), 256).as("content_hash"))
      .distinct()
    val newDocs = Tables.documents(spark, sf0001)
      .where(col("doc_id") % 4 === 0)
      .select(col("doc_id"), sha2(col("text"), 256).as("content_hash"))
    val screened = graft.streaming.DocsStream.screen(newDocs, corpus)
    screened.count()
    val p = planString(screened)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      "membership test is not a broadcast anti-join")
    assert(screened.columns.toSeq === Seq("content_hash", "keep_doc_id", "n_copies"))
  }

  test("a18_trimmed_mean: rank selection is distributed, not a 3-partition window sort") {
    // The trimmed-mean rank bounds must come from the prefix-sum rank
    // selection (range repartition + partition-local windows), never from
    // `row_number() OVER (PARTITION BY l_returnflag)` — that window hashes
    // the whole fact onto 3 tasks at any cluster size. The fact-side sort
    // must therefore be RANGE partitioned; the only acceptable hash
    // partitioning on bare l_returnflag is the final 3-row aggregate's.
    // Assert on the INITIAL physical plan (no collect): AQE's
    // post-execution rendering collapses materialized stages and hides
    // the checkpoint leaf; the initial plan shows the true shape.
    val df = q("a18_trimmed_mean")
    val plan = df.queryExecution.executedPlan.toString
    // The prefix-sum path ends in a localCheckpoint, so the fact-side
    // range partitioning is materialized behind a Scan ExistingRDD — its
    // presence (and the absence of any row_number window) is the
    // signature that the rank came from Packing.prefixSum.
    assert(plan.contains("Scan ExistingRDD"),
      s"expected checkpointed prefix-sum rank input:\n${plan.take(600)}")
    assert(!plan.contains("row_number"),
      "a18 must not rank via a per-flag global window")
    // Track the PROPERTY, not the plan-text signature: no Window node in
    // the visible plan may partition by bare l_returnflag — that is the
    // 3-task global sort this guard exists to forbid, and it stays red
    // even if some other checkpointed input later satisfies the
    // "Scan ExistingRDD" string match.
    val flagWindows = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.partitionSpec.exists(_.references.exists(_.name == "l_returnflag")) => w
    }
    assert(flagWindows.isEmpty,
      "a18 has a Window partitioned by l_returnflag (3-task global sort)")
  }

  test("x23: the serve path never re-encodes the corpus (no PqEncode past build)") {
    // The whole point of the persisted index: query time reads codes off
    // disk. A PqEncode expression anywhere in the SERVE plan means the
    // index is being rebuilt per query — the x22 inline shape leaking
    // back in. (The query fn builds the index as a side effect first;
    // the returned DataFrame is the serve plan.)
    val df = q("x23_ann_ivfpq_persisted")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("pq_encode"),
      "serve path re-encodes the corpus instead of reading persisted codes")
    assert(!plan.contains("CartesianProduct"))
    // contrast: the inline path DOES encode
    val inline = q("x22_ann_ivfpq").queryExecution.executedPlan.toString
    assert(inline.toLowerCase.contains("pq_encode"),
      "x22 should encode inline — if this fails the guard above is vacuous")
  }

  test("sdr1: span removal has no cartesian and only per-doc windows") {
    val df = q("sdr1_span_removal")
    df.count()
    val executed = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p: SparkPlan => p
    }
    assert(!executed.toString.contains("CartesianProduct"))
    // every Window must partition by doc_id: a partition-less (or
    // corpus-keyed) window here would be the single-task scale bug
    val windows = executed.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, "interval merge should use per-doc windows")
    for (w <- windows)
      assert(w.partitionSpec.exists(_.references.exists(_.name == "doc_id")),
        s"window not partitioned by doc_id: ${w.partitionSpec}")
  }

  test("bkt1: bucketed sort-merge join plans no shuffle on either input") {
    import org.apache.spark.sql.functions.col
    // Materialize the bucketed layout (bkt1 writes the tables as a side
    // effect), then prove the join itself — broadcast disabled so the
    // planner can't dodge the question — is exchange-free: the 100 TB
    // claim is that after one layout write the fact tables never
    // re-shuffle for this join key again.
    q("bkt1_bucketed_join").collect()
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("bkt1_lineitem")
        .join(spark.table("bkt1_orders"), col("l_orderkey") === col("o_orderkey"))
      joined.count()
      val plan = planString(joined)
      assert(plan.contains("SortMergeJoin"), plan.take(600))
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n${plan.take(600)}")
      assert(plan.contains("Bucketed: true"),
        s"scan did not report bucketed reading:\n${plan.take(600)}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bkt2: partition prunes AND the in-partition bucket join is exchange-free") {
    import org.apache.spark.sql.functions.col
    q("bkt2_partitioned_bucketed").collect()
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("bkt2_lineitem")
        .where(col("l_returnflag") === "R")
        .join(spark.table("bkt2_orders"),
          col("l_orderkey") === col("o_orderkey"))
      joined.count()
      val plan = planString(joined)
      assert(plan.contains("SortMergeJoin"), plan.take(600))
      assert(!plan.contains("Exchange"),
        s"partitioned+bucketed join must not shuffle:\n${plan.take(600)}")
      assert(plan.contains("PartitionFilters") && plan.contains("l_returnflag"),
        s"expected partition pruning on l_returnflag:\n${plan.take(800)}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("kw1: the gazetteer reaches the tokenized corpus as a broadcast join") {
    val df = q("kw1_keyword_tagging")
    df.count()
    val plan = planString(df)
    assert(plan.contains("BroadcastHashJoin"),
      s"dictionary should broadcast, never shuffle the token stream:\n${plan.take(500)}")
  }

  test("ns1: anchors broadcast; the corpus is never shuffled for scoring") {
    val df = q("ns1_hard_negatives")
    df.count()
    val plan = planString(df)
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(500))
  }

  test("pw1: the read-back scan partition-prunes on event_type") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val df = q("pw1_partitioned_sink")
    df.collect() // let AQE finalize; the scans sit inside query stages
    val scans = new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case f: FileSourceScanExec => f
    }
    assert(scans.nonEmpty, df.queryExecution.executedPlan.toString.take(600))
    scans.foreach { scan =>
      assert(scan.relation.partitionSchema.fieldNames.toSeq == Seq("event_type"))
      assert(scan.partitionFilters.nonEmpty, "the filter must reach the scan as a partition filter")
      assert(scan.relation.location.listFiles(
          scan.partitionFilters, scan.dataFilters).length == 1,
        "expected exactly the click partition to be read")
    }
  }

  test("withScanParallelism: multi-split input plans no Exchange; single-split repartitions") {
    // The 100 TB posture: a corpus arriving as many splits must take the
    // no-shuffle branch — the repartition exists only to rescue the
    // single-row-group local fixture.
    val dir = graft.tools.Scratch.dir("scanpar").toString
    spark.range(1000).repartition(4).write.parquet(s"$dir/many")
    spark.range(1000).coalesce(1).write.parquet(s"$dir/one")

    val many = Tables.withScanParallelism(spark, spark.read.parquet(s"$dir/many"))
    assert(!many.queryExecution.executedPlan.toString.contains("Exchange"),
      "multi-split input must not be reshuffled")

    val one = Tables.withScanParallelism(spark, spark.read.parquet(s"$dir/one"))
    assert(one.rdd.getNumPartitions == spark.sparkContext.defaultParallelism,
      "single-split fixture should be repartitioned to full parallelism")
  }

  test("withScanParallelism keyed: repartition is hash-by-key and is reused by a keyed groupBy") {
    // Optimization r15: the single-split rescue repartition, when given a
    // key, must (a) hash-partition (no sortBeforeRepartition local sort,
    // reusable partitioning) and (b) satisfy a downstream groupBy on the
    // same key with NO second Exchange. Round-robin stacked two full
    // exchanges of the text column under every doc_id-keyed join.
    val dir = graft.tools.Scratch.dir("scanparkey").toString
    spark.range(1000).coalesce(1).write.mode("overwrite").parquet(s"$dir/one")
    val keyed = Tables.withScanParallelism(
      spark, spark.read.parquet(s"$dir/one"),
      org.apache.spark.sql.functions.col("id"))
    val plan = keyed.queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(id"),
      s"expected a hash-by-key repartition, got: $plan")
    val grouped = keyed.groupBy("id").count()
    // Count actual ShuffleExchangeExec nodes (ADVICE r15): the old
    // substring count also matched ReusedExchange/BroadcastExchange
    // node names, making the pin brittle to unrelated plan changes.
    grouped.write.format("noop").mode("overwrite").save()
    val gexec = grouped.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val shuffles = gexec.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.length == 1,
      s"keyed groupBy over the keyed repartition must reuse its exchange, got: $gexec")
  }
}
