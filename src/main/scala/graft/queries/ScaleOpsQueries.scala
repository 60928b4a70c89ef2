package graft.queries

import graft.Tables
import graft.operators.{IndexStore, TextAnalysis, ZOrder}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Scale-operations surface: the queries an operator of a 100 TB
  * warehouse runs ABOUT the data layout itself — space-filling-curve
  * clustering keys, join-skew diagnostics, per-group mass cuts. All
  * exact integer math (bit ops, BIGINT sums, late single divisions), so
  * every query is DuckDB-recomputable bit for bit.
  */
object ScaleOpsQueries {
  type Q = (SparkSession, String) => DataFrame

  /** [[ZOrder.zValue]]'s Morton interleave as SQL text (for the DuckDB
    * oracle), over non-negative columns named `dx`/`dy`: bit i of `dx`
    * lands at position 2i, bit i of `dy` at 2i+1.
    */
  private def mortonSql(bits: Int): String =
    (0 until bits).map { i =>
      s"((dx & ${1L << i}) << $i) | ((dy & ${1L << i}) << ${i + 1})"
    }.mkString(" | ")

  /** Pre-partition count for a bucketed layout write (bkt1/bkt2),
    * DATA-DRIVEN (VERDICT r15 #1): one write task per ~32 MB of planned
    * input, rounded UP to a multiple of the bucket count (8) so hash
    * partitions nest into buckets (one file per task), floor 8, capped
    * at the core count rounded down to a multiple of 8. The size comes
    * from the optimized plan's statistics (file bytes × column pruning)
    * — no job runs. Local fixtures (MBs) land at 8; a warehouse-scale
    * relation saturates the cluster with ~input/cores per task.
    */
  private[graft] def bucketedWriteParts(
      spark: SparkSession, df: DataFrame): Int = {
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val coreCap = math.max(8, spark.sparkContext.defaultParallelism / 8 * 8)
    // all arithmetic in BigInt, clamped before narrowing (an absent
    // statistic defaults to a huge sizeInBytes — that must cap at the
    // core count, never overflow into a tiny partition count)
    val byData = (bytes + (32L << 20) - 1) / (32L << 20)
    val up8 = ((byData + 7) / 8 * 8).min(BigInt(coreCap)).toInt
    math.max(8, up8)
  }

  val queries: Map[String, Q] = Map(

    // Z-order layout audit — the clustering key behind multi-dimensional
    // scan pruning (Delta/Iceberg OPTIMIZE ZORDER): interleave customer
    // and order-day buckets into a 16-bit Morton value, split the curve
    // into 16 ranges, and report each range's bounding box. Tight
    // min/max boxes on BOTH dimensions are exactly what lets a reader
    // skip files for 2-D predicates. Bit ops only — fully codegen'd,
    // one scan, one small aggregate.
    "zord1_zorder_layout" -> { (spark, dir) =>
      Tables.orders(spark, dir)
        .select(
          (col("o_custkey") % 256).as("dx"),
          (datediff(to_date(col("o_orderdate")), lit("1992-01-01")) % 256)
            .cast(LongType).as("dy"))
        .withColumn("zval", ZOrder.zValue(col("dx"), col("dy"), 8))
        .withColumn("zrange", expr("zval div 4096"))
        .groupBy("zrange")
        .agg(
          count(lit(1)).as("n_rows"),
          min("dx").as("min_cust"), max("dx").as("max_cust"),
          min("dy").as("min_day"), max("dy").as("max_day"))
        .orderBy("zrange")
    },

    // Join-skew diagnostic — the statistic you compute BEFORE choosing a
    // salting factor: per-key frequencies of the orders→customer join
    // key, reduced to key count, max frequency, and the skew ratio
    // max_freq / mean_freq. Two map-side-partial aggregates; nothing
    // wide. skew ≈ 1 means uniform keys; the salting decision threshold
    // reads directly off this row.
    "skw1_skew_stats" -> { (spark, dir) =>
      Tables.orders(spark, dir)
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("freq"))
        .agg(
          count(lit(1)).as("n_keys"),
          sum("freq").as("n_rows"),
          max("freq").as("max_freq"))
        .select(
          col("n_keys"), col("n_rows"), col("max_freq"),
          (col("max_freq").cast(DoubleType) * col("n_keys").cast(DoubleType)
            / col("n_rows").cast(DoubleType)).as("skew_ratio"))
    },

    // Join-size estimation without running the join — the planner
    // statistic behind "will this self-join blow up": the exact output
    // cardinality of lineitem ⋈ lineitem on l_partkey is Σ freq(k)²,
    // computed from the per-key frequency table (|keys| rows, never the
    // |rows|² join). max_key_pairs names the worst key — the one
    // salting would split first.
    "est1_selfjoin_size" -> { (spark, dir) =>
      Tables.lineitem(spark, dir)
        .groupBy("l_partkey")
        .agg(count(lit(1)).as("freq"))
        .agg(
          count(lit(1)).as("n_keys"),
          sum("freq").as("n_rows"),
          sum(col("freq") * col("freq")).as("selfjoin_rows"),
          max(col("freq") * col("freq")).as("max_key_pairs"))
    },

    // Per-source top-p (nucleus) selection — keep each source's largest
    // documents until 80% of that source's token mass is covered: the
    // mass-based variant of the cap1 count-based domain cap. The
    // cumulative window is PARTITIONED by source (no global sort), and
    // the 80% test is exact integer cross-multiplication:
    // cum_before * 5 < total * 4.
    "tp1_top_p_per_source" -> { (spark, dir) =>
      val toks = Tables.documentsParallel(spark, dir)
        .select(col("doc_id"), col("source"),
          size(TextAnalysis.words(col("text"))).cast(LongType).as("n_tok"))
      val ord = Window.partitionBy("source")
        .orderBy(col("n_tok").desc, col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val all = Window.partitionBy("source")
      toks
        .withColumn("cum", sum("n_tok").over(ord))
        .withColumn("total", sum("n_tok").over(all))
        .where((col("cum") - col("n_tok")) * 5 < col("total") * 4)
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs_kept"),
          sum("n_tok").as("kept_tokens"),
          max("total").as("total_tokens"))
        .orderBy("source")
    },

    // Equi-depth histogram construction — the optimizer statistic behind
    // selectivity estimation (ANALYZE ... COMPUTE STATISTICS histogram):
    // 8 buckets of ~equal row mass over l_extendedprice. Boundaries come
    // from the ml2 pattern — group by distinct value (cents-exact),
    // DISTRIBUTED prefix sum of counts, threshold per rank bound — never
    // a global ntile sort of raw rows. Equal values always share a
    // bucket (a promise ntile cannot make), so depths are approximate
    // exactly where duplicate mass forces them to be.
    "hist1_equidepth" -> { (spark, dir) =>
      import graft.operators.Packing
      val g = Tables.lineitem(spark, dir)
        .groupBy(round(col("l_extendedprice") * 100).cast(LongType).as("c"))
        .agg(count(lit(1)).as("m"))
      val ranked = Packing.prefixSum(g, Seq(col("c")), col("m"), "crank")
        .localCheckpoint(eager = true) // thresholds + assignment share it
      val st = broadcast(ranked.agg(sum(col("m")).as("n_all")))
      val th = ranked.crossJoin(st)
        .select(col("c"), col("crank"),
          explode(sequence(lit(1L), lit(7L))).as("d"), col("n_all"))
        .where(col("crank") >= expr("(d * n_all + 7L) div 8L"))
        .groupBy("d").agg(min(col("c")).as("t"))
      ranked.crossJoin(broadcast(th))
        .groupBy("c", "m")
        .agg(sum(when(col("t") < col("c"), 1L).otherwise(0L)).as("bucket"))
        .groupBy("bucket")
        .agg(
          count(lit(1)).as("n_distinct"),
          sum(col("m")).as("depth"),
          (min(col("c")).cast(DoubleType) / 100.0).as("lo"),
          (max(col("c")).cast(DoubleType) / 100.0).as("hi"))
        .orderBy("bucket")
    },

    // Merkle-tree snapshot reconciliation (anti-entropy): compare two
    // replicas of a 100 TB table WITHOUT a full row-by-row diff. Each
    // side builds a two-level hash tree — leaf = md5 over the bucket's
    // row digests in key order, parent = md5 over 16 leaves in order —
    // and comparison descends ONLY into parents whose hashes differ,
    // touching a log-fraction of buckets. Here replica B is replica A
    // with deterministic in-query mutations (drops at %97, updates at
    // %101); the output is the dirty-leaf report an anti-entropy
    // repairer would fetch. Hashes are portable md5 over canonical
    // strings, so DuckDB rebuilds both trees bit for bit.
    "mk1_merkle_diff" -> { (spark, dir) =>
      def digested(df: DataFrame): DataFrame = df.select(
        expr("o_orderkey div 1000").as("leaf"),
        col("o_orderkey"),
        md5(concat_ws("|", col("o_orderkey"),
          round(col("o_totalprice") * 100).cast(LongType))).as("d"))
      def leaves(df: DataFrame): DataFrame = digested(df)
        .groupBy("leaf")
        .agg(
          count(lit(1)).as("n_rows"),
          md5(array_join(transform(
            sort_array(collect_list(struct(col("o_orderkey"), col("d")))),
            s => s.getField("d")), ",")).as("lh"))
      val a = Tables.orders(spark, dir)
      val b = a
        .where(col("o_orderkey") % 97 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 101 === 0, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")))
      val la = leaves(a).localCheckpoint(eager = true)
      val lb = leaves(b).localCheckpoint(eager = true)
      def parents(l: DataFrame): DataFrame = l
        .groupBy(expr("leaf div 16").as("parent"))
        .agg(md5(array_join(transform(
          sort_array(collect_list(struct(col("leaf"), col("lh")))),
          s => s.getField("lh")), ",")).as("ph"))
      val dirtyParents = parents(la).as("pa")
        .join(parents(lb).as("pb"), Seq("parent"), "full")
        .where(col("pa.ph").isNull || col("pb.ph").isNull ||
          col("pa.ph") =!= col("pb.ph"))
        .select("parent")
      // descend: leaf comparison ONLY under dirty parents
      la.as("a").join(lb.as("b"), Seq("leaf"), "full")
        .join(broadcast(dirtyParents),
          expr("coalesce(a.leaf, b.leaf) div 16") === col("parent"))
        .where(col("a.lh").isNull || col("b.lh").isNull ||
          col("a.lh") =!= col("b.lh"))
        .select(
          col("leaf"),
          coalesce(col("a.n_rows"), lit(0L)).as("n_rows_a"),
          coalesce(col("b.n_rows"), lit(0L)).as("n_rows_b"))
        .orderBy("leaf")
    },

    // Bucketed co-located join — the exchange-free join layout of a
    // 100 TB warehouse: both fact tables are WRITTEN hash-bucketed (and
    // in-bucket sorted) on the join key, so the sort-merge join reads
    // bucket i of each side in the same task and plans NO shuffle on
    // either input (`PlanSpec` "bucketed join plans no Exchange" proves
    // it with broadcast disabled). At scale this is the difference
    // between re-shuffling the fact table on every join and never
    // shuffling it again after one layout write. The driver-visible
    // result is the join itself — identical to the unbucketed plan,
    // which is the point: bucketing is pure physical layout. Revenue
    // rides QueryExprs.revQ exact-integer cents, sum_qty is summed as
    // LONG, so the rollup is bit-identical across engines.
    "bkt1_bucketed_join" -> { (spark, dir) =>
      val base = graft.tools.Scratch.dir("bkt1").toString
      // Keyed repartition before the bucketed write (optimization r15 +
      // r16, guide §6): bucket placement is pmod(murmur3(key), 8) — the
      // same function as HashPartitioning — and hash partitions NEST
      // into buckets when the partition count is a multiple of 8
      // (h mod N = p and 8 | N  ⇒  h mod 8 = p mod 8), so every write
      // task owns exactly ONE bucket and emits ONE file (N files total,
      // N/8 per bucket) instead of every scan task writing up to 8
      // (8×tasks tiny files). N is DATA-DRIVEN (VERDICT r15 #1: the r15
      // core-count N keyed a 32-way exchange to the wrong axis and
      // regressed bkt1 0.65x at sf0.1): planned input bytes at ~32 MB
      // per write task, rounded to a multiple of 8, floor 8, capped at
      // the core count — so the local fixture pays an 8-way exchange
      // that parallelizes the sort+write of its single-split scan
      // (A/B: bkt1 2.38→1.65 s, bkt2 2.70→1.40 s at sf0.1; flat within
      // noise at sf1.0), while a warehouse-scale relation still fans to
      // full cluster parallelism with O(cluster) files.
      def layOut(df: DataFrame, table: String, key: String): Unit = {
        spark.sql(s"DROP TABLE IF EXISTS $table")
        val pre = df.repartition(ScaleOpsQueries.bucketedWriteParts(spark, df), col(key))
        pre
          .write.mode("overwrite").format("parquet")
          .bucketBy(8, key).sortBy(key)
          .option("path", s"$base/$table")
          .saveAsTable(table)
      }
      layOut(Tables.orders(spark, dir).select("o_orderkey", "o_orderpriority"),
        "bkt1_orders", "o_orderkey")
      layOut(Tables.lineitem(spark, dir)
        .select("l_orderkey", "l_quantity", "l_extendedprice", "l_discount"),
        "bkt1_lineitem", "l_orderkey")
      spark.table("bkt1_lineitem")
        .join(spark.table("bkt1_orders"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
          count(lit(1)).as("n_lines"),
          sum(col("l_quantity").cast(LongType)).as("sum_qty"),
          (sum(QueryExprs.revQ).cast(DoubleType) / 1000000.0).as("revenue"))
        .orderBy("o_orderpriority")
    },

    // Snapshot time travel over the commit-marker table protocol: two
    // committed writes (filtered half, then full), then BOTH snapshots
    // read back BY VERSION — Delta's versionAsOf scaled down to
    // AtomicLayer's retention window. A reader of the old snapshot is
    // never torn by the new write (fresh v<n> dir + marker), which is
    // the property that makes concurrent refresh safe at any scale.
    "tt1_time_travel" -> { (spark, dir) =>
      val root = graft.tools.Scratch.dir("tt1").toString
      val orders = Tables.orders(spark, dir)
        .select("o_orderkey", "o_totalprice")
      graft.energy.AtomicLayer.write(
        orders.where(col("o_orderkey") % 2 === 0), root)
      graft.energy.AtomicLayer.write(orders, root)
      val vs = graft.energy.AtomicLayer.committedVersions(spark, root)
      def census(path: String, label: String): DataFrame =
        spark.read.parquet(path).agg(
          count(lit(1)).as("n_rows"),
          sum(floor(col("o_totalprice") * 100).cast(LongType)).as("cents"))
          .select(lit(label).as("snapshot"), col("n_rows"), col("cents"))
      census(vs.head._2, "v_prev")
        .unionByName(census(vs.last._2, "v_latest"))
        .orderBy("snapshot")
    },

    // Partitioned AND bucketed layout composed — the full warehouse
    // fact-table recipe: partition dirs give coarse pruning on the
    // filter dimension, in-partition buckets give exchange-free joins
    // on the key dimension. The 'R' read prunes to one partition, and
    // the join against the bucket-aligned orders table shuffles
    // NEITHER side.
    "bkt2_partitioned_bucketed" -> { (spark, dir) =>
      val base = graft.tools.Scratch.dir("bkt2").toString
      // same one-bucket-per-task, data-driven pre-partitioning as bkt1
      // (nested hash: h mod N = p and 8 | N ⇒ h mod 8 = p mod 8; a
      // partitioned table writes one file per (partition dir, task))
      def layOut(df: DataFrame, table: String, key: String,
          parts: Seq[String]): Unit = {
        spark.sql(s"DROP TABLE IF EXISTS $table")
        val pre = df.repartition(ScaleOpsQueries.bucketedWriteParts(spark, df), col(key))
        val w = pre
          .write.mode("overwrite").format("parquet")
          .bucketBy(8, key).sortBy(key)
          .option("path", s"$base/$table")
        (if (parts.nonEmpty) w.partitionBy(parts: _*) else w).saveAsTable(table)
      }
      layOut(Tables.lineitem(spark, dir)
        .select("l_orderkey", "l_returnflag", "l_quantity"),
        "bkt2_lineitem", "l_orderkey", Seq("l_returnflag"))
      layOut(Tables.orders(spark, dir).select("o_orderkey", "o_orderpriority"),
        "bkt2_orders", "o_orderkey", Nil)
      spark.table("bkt2_lineitem")
        .where(col("l_returnflag") === "R")
        .join(spark.table("bkt2_orders"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_quantity").cast(LongType)).as("sum_qty"))
        .orderBy("o_orderpriority")
    },

    // Delta-encoding efficiency audit — WHY sorted layouts compress:
    // within each "row group" the key column stores as base + deltas,
    // and a sorted layout makes deltas small (few bits) while a
    // scattered layout leaves them key-range-sized. Both layouts are
    // simulated with per-GROUP windows only (encoding resets per group,
    // exactly like parquet pages — no global sort anywhere): group =
    // key div 4096 for the sorted layout, a portable hash bucket for
    // the scattered one; first row of a group charges the 64-bit base.
    // bit cost = length(bin(delta)) — exact on both engines.
    "enc1_encoding_audit" -> { (spark, dir) =>
      val o = Tables.orders(spark, dir).select(col("o_orderkey").as("k"))
      val both = o.withColumn("layout", lit("sorted"))
        .withColumn("g", expr("k div 4096"))
        .unionByName(o.withColumn("layout", lit("scattered"))
          .withColumn("g", graft.operators.Dedup.portableHash60(
            concat(lit("enc1:"), col("k"))) % 147))
      val w = Window.partitionBy("layout", "g").orderBy("k")
      both
        .withColumn("prev", lag(col("k"), 1).over(w))
        .withColumn("bits", when(col("prev").isNull, lit(64L))
          .otherwise(length(bin(col("k") - col("prev"))).cast(LongType)))
        .groupBy("layout")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("g")).as("n_groups"),
          sum(col("bits")).as("total_bits"),
          (sum(col("bits")).cast(DoubleType) / count(lit(1)))
            .as("bits_per_value"))
        .orderBy("layout")
    },

    // File-skipping effectiveness audit — WHY a warehouse z-orders: for
    // the same file granularity (value-range splits of the sort key,
    // 16 files either way), a dx-major linear layout prunes dx
    // predicates perfectly and dy predicates not at all, while the
    // Morton layout prunes BOTH dimensions moderately. Files are
    // "scanned" iff their per-file min/max bounding box intersects the
    // predicate box — exactly the parquet row-group/Iceberg manifest
    // pruning rule. One scan, one small aggregate, exact integers.
    "skip1_skipping_stats" -> { (spark, dir) =>
      val d = Tables.orders(spark, dir)
        .select(
          (col("o_custkey") % 256).as("dx"),
          (datediff(to_date(col("o_orderdate")), lit("1992-01-01")) % 256)
            .cast(LongType).as("dy"))
        .withColumn("zval", ZOrder.zValue(col("dx"), col("dy"), 8))
        .withColumn("linkey", col("dx") * 256 + col("dy"))
      val files = d
        .select(lit("linear").as("layout"),
          expr("linkey div 4096").as("file"), col("dx"), col("dy"))
        .unionByName(d.select(lit("zorder").as("layout"),
          expr("zval div 4096").as("file"), col("dx"), col("dy")))
        .groupBy("layout", "file")
        .agg(count(lit(1)).as("n_rows"),
          min("dx").as("min_dx"), max("dx").as("max_dx"),
          min("dy").as("min_dy"), max("dy").as("max_dy"))
      val preds = explode(array(
        struct(lit("dx_16_47").as("pred"),
          lit(16L).as("lo_dx"), lit(47L).as("hi_dx"),
          lit(0L).as("lo_dy"), lit(255L).as("hi_dy")),
        struct(lit("dy_64_95").as("pred"),
          lit(0L).as("lo_dx"), lit(255L).as("hi_dx"),
          lit(64L).as("lo_dy"), lit(95L).as("hi_dy"))))
      val hit = col("max_dx") >= col("lo_dx") && col("min_dx") <= col("hi_dx") &&
        col("max_dy") >= col("lo_dy") && col("min_dy") <= col("hi_dy")
      files.withColumn("p", preds).select(col("*"), col("p.*")).drop("p")
        .groupBy("layout", "pred")
        .agg(
          count(lit(1)).as("n_files"),
          sum(when(hit, 1L).otherwise(0L)).as("files_hit"),
          sum(col("n_rows")).as("rows_total"),
          sum(when(hit, col("n_rows")).otherwise(0L)).as("rows_scanned"))
        .orderBy("layout", "pred")
    },

    // GDPR user ERASURE with read-back proof — the relational twin of
    // x30's ANN tombstones: the erasure set (user_id % 97 = 0, ~1% of
    // users) is excluded from the rewritten per-user rollup, the
    // snapshot lands via AtomicLayer, and the audit row counts the
    // purge AND re-reads the COMMITTED artifact to prove zero residual
    // rows for erased users — the oracle pins n_residual to literal 0,
    // so any leak (a partition missed, a stale snapshot resolved) is a
    // hash mismatch, not a silent success. Erasure cost is one rewrite
    // of the derived table; the audit adds two scans of the (small)
    // rollup.
    "gdpr1_user_erasure" -> { (spark, dir) =>
      import graft.energy.AtomicLayer
      val ev = Tables.events(spark, dir)
        .select(col("user_id"),
          floor(col("value") * 100).cast(LongType).as("cents"))
      val erase = col("user_id") % 97 === 0
      val out = graft.tools.Scratch.dir("graft-gdpr")
        .toString + "/user_rollup.parquet"
      AtomicLayer.write(
        ev.where(!erase).groupBy("user_id")
          .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("cents")),
        out)
      val back = AtomicLayer.read(spark, out)
        .localCheckpoint(eager = true) // feeds residual + kept stats
      ev.agg(
          countDistinct(when(erase, col("user_id"))).as("n_users_erased"),
          expr("count_if(user_id % 97 = 0)").as("n_rows_purged"),
          sum(when(erase, col("cents")).otherwise(0L)).as("cents_purged"))
        .crossJoin(broadcast(back.where(col("user_id") % 97 === 0)
          .agg(count(lit(1)).as("n_residual"))))
        .crossJoin(broadcast(back.agg(
          count(lit(1)).as("n_users_kept"),
          sum(col("cents")).as("cents_kept"))))
    },

    // Orphan-file GC with read-back proof — the VACUUM maintenance op:
    // a versioned table accumulates crashed-writer debris (an
    // uncommitted dir with its lease-expired claim, a committed
    // version's leftover claim, a claimless preempted dir), vacuum
    // sweeps all of it, and the census RE-READS the filesystem to prove
    // the committed snapshots survived intact and zero debris remains —
    // the oracle pins every after-count to a literal, so a GC that
    // deletes live data OR misses debris is a hash mismatch. Same
    // artifact-proof posture as gdpr1.
    "vac1_orphan_gc" -> { (spark, dir) =>
      import graft.energy.AtomicLayer
      import org.apache.hadoop.fs.Path
      val root = graft.tools.Scratch.dir("graft-vac1").toString + "/t"
      val nation = Tables.nation(spark, dir)
        .select("n_nationkey", "n_name", "n_regionkey")
      AtomicLayer.write(nation, root) // v0
      AtomicLayer.write(nation, root) // v1 current, v0 grace window
      val fs = new Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      // crashed mid-write: uncommitted v2 dir + its (expired) claim
      fs.mkdirs(new Path(root, "v2"))
      fs.create(new Path(root, "v2/part-00000.parquet"), true).close()
      fs.create(new Path(root, "v2.claim"), true).close()
      // crashed between commit and claim delete: v1 is committed
      fs.create(new Path(root, "v1.claim"), true).close()
      // preempted attempt: claimless uncommitted dir
      fs.mkdirs(new Path(root, "v3"))
      fs.create(new Path(root, "v3/part-00000.parquet"), true).close()
      Thread.sleep(5) // age the claims past the 0 ms test lease
      val stats = AtomicLayer.vacuum(spark, root,
        keepVersions = 2, claimLeaseMs = 0L)
      // read-back proof straight from the filesystem
      val back = AtomicLayer.read(spark, root)
      val nCommitted = AtomicLayer.committedVersions(spark, root).size
      val entries = fs.listStatus(new Path(root)).toSeq
      val nUncommitted = entries.count(st => st.isDirectory &&
        !fs.exists(new Path(st.getPath, "_SUCCESS")))
      val nClaims = entries.count(st =>
        !st.isDirectory && st.getPath.getName.endsWith(".claim"))
      back.agg(count(lit(1)).as("n_rows"),
          sum(col("n_nationkey")).as("sum_key"))
        .select(col("n_rows"), col("sum_key"),
          lit(nCommitted).as("n_committed_after"),
          lit(nUncommitted).as("n_uncommitted_after"),
          lit(nClaims).as("n_claims_after"),
          lit(stats.sweptUncommittedDirs).as("swept_dirs"),
          lit(stats.sweptClaims).as("swept_claims"))
    },

    // Schema EVOLUTION read — the lakehouse reality that a long-lived
    // table's early files lack columns added later: era-1 files carry
    // (day, event_type, n_events), era-2 files add sum_cents. One
    // mergeSchema read unifies them (missing columns surface as NULLs,
    // never errors), and the census proves both the union schema and
    // the per-era null accounting. The written layout is rebuilt in a
    // fresh temp dir per call (no cross-run cache to go stale); at
    // warehouse scale mergeSchema cost is footer-only and bounded by
    // file count, not rows.
    "se1_schema_evolution" -> { (spark, dir) =>
      val split = lit("2024-01-25").cast("date")
      val ev = Tables.events(spark, dir)
        .select(col("event_type"), to_date(col("ts_sec")).as("day"),
          floor(col("value") * 100).cast(LongType).as("cents"))
      val out = graft.tools.Scratch.dir("graft-se1")
        .toString + "/table"
      ev.where(col("day") < split)
        .groupBy("event_type", "day")
        .agg(count(lit(1)).as("n_events"))
        .write.mode("append").parquet(out)
      ev.where(col("day") >= split)
        .groupBy("event_type", "day")
        .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("sum_cents"))
        .write.mode("append").parquet(out)
      spark.read.option("mergeSchema", "true").parquet(out)
        .groupBy(col("sum_cents").isNull.as("legacy_era"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("n_events")).as("n_events_total"),
          sum(coalesce(col("sum_cents"), lit(0L))).as("cents_total"))
        .orderBy("legacy_era")
    },

    // Incremental materialized-view maintenance — the core loop of
    // every large-scale rollup pipeline: the daily revenue view is
    // PERSISTED once from history (days before the split), then each
    // refresh merges only the DELTA batch's partial aggregate into the
    // snapshot by key-wise summation (counts and sums are
    // associative-decomposable, so partial + partial = total). The
    // billion-row history is never rescanned — refresh cost is
    // O(delta + view), not O(history). The oracle IS the full
    // recompute: the incremental result must equal it bit for bit.
    "imv1_incremental_rollup" -> { (spark, dir) =>
      val split = lit("2024-01-25").cast("date")
      val ev = Tables.events(spark, dir)
        .select(col("event_type"), to_date(col("ts_sec")).as("day"),
          floor(col("value") * 100).cast(LongType).as("cents"))
      def roll(df: DataFrame): DataFrame = df
        .groupBy("event_type", "day")
        .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("sum_cents"))
      // Cache key carries a cheap source fingerprint (events file size +
      // mtime): a regenerated fixture at the same path, or two fixture
      // trees sharing a basename, must never merge against a stale base
      // (metadata stat, not a history rescan — invalidation stays O(1)).
      val src = new java.io.File(s"$dir/events.parquet")
      val root = s"/tmp/graft_imv/${src.getParentFile.getName}-" +
        s"${src.length()}_${src.lastModified()}"
      IndexStore.buildOnce(spark, root, "daily.parquet") {
        IndexStore.put(roll(ev.where(col("day") < split)), root, "daily.parquet")
      }
      val base = IndexStore.get(spark, root, "daily.parquet")
      val delta = roll(ev.where(col("day") >= split))
      base.unionByName(delta)
        .groupBy("event_type", "day")
        .agg(sum(col("n_events")).as("n_events"),
          sum(col("sum_cents")).as("sum_cents"))
        .orderBy("event_type", "day")
    },

    // Incremental JOIN-view maintenance — the other half of the IVM
    // algebra imv1's rollup doesn't exercise. For V = γ(O ⋈ L) the
    // delta rule is ΔV = γ(ΔO⋈L₀) ⊕ γ(O₀⋈ΔL) ⊕ γ(ΔO⋈ΔL): the three
    // terms are DISJOINT (each fixes which side is new), each joins a
    // base relation only against the small opposite delta, and γ's
    // partials merge by key-wise summation — so a refresh never
    // re-joins the base-base bulk. The base census persists once
    // (imv1's fingerprint-keyed IndexStore cache); the refreshed view
    // must equal the plain full-join census bit for bit — the oracle
    // IS that plain join. The two delta predicates cut ACROSS each
    // other (order-keyed vs line-numbered) so every term is non-empty.
    "imv2_incremental_join" -> { (spark, dir) =>
      val o = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderpriority"),
          (col("o_orderkey") % 5 === 4).as("d"))
        .localCheckpoint(eager = true) // base + delta slices both read
      val l = Tables.lineitem(spark, dir)
        .select(col("l_orderkey"),
          round(col("l_extendedprice") * 100).cast(LongType).as("cents"),
          (col("l_linenumber") % 3 === 0).as("d"))
        .localCheckpoint(eager = true)
      def census(a: DataFrame, b: DataFrame): DataFrame = a
        .join(b, col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_lines"), sum(col("cents")).as("revenue_cents"))
      val o0 = o.where(!col("d")); val dO = o.where(col("d"))
      val l0 = l.where(!col("d")); val dL = l.where(col("d"))
      // the cached base census depends on BOTH source tables — the key
      // must fingerprint both, or a regenerated orders.parquet under an
      // unchanged lineitem.parquet would silently reuse a stale base
      val srcL = new java.io.File(s"$dir/lineitem.parquet")
      val srcO = new java.io.File(s"$dir/orders.parquet")
      val root = s"/tmp/graft_imv2/${srcL.getParentFile.getName}-" +
        s"${srcL.length()}_${srcL.lastModified()}-" +
        s"${srcO.length()}_${srcO.lastModified()}"
      IndexStore.buildOnce(spark, root, "join_census.parquet") {
        IndexStore.put(census(o0, l0), root, "join_census.parquet")
      }
      IndexStore.get(spark, root, "join_census.parquet")
        .unionByName(census(dO, l0))
        .unionByName(census(o0, dL))
        .unionByName(census(dO, dL))
        .groupBy("o_orderpriority")
        .agg(sum(col("n_lines")).as("n_lines"),
          sum(col("revenue_cents")).as("revenue_cents"))
        .orderBy("o_orderpriority")
    },
  )

  val oracles: Map[String, String] = Map(
    // n_residual is pinned to LITERAL 0: the Spark side reads it back
    // from the committed artifact, so any erasure leak hash-fails.
    "gdpr1_user_erasure" ->
      """SELECT
        |  CAST(COUNT(DISTINCT CASE WHEN user_id % 97 = 0
        |    THEN user_id END) AS BIGINT) AS n_users_erased,
        |  CAST(count_if(user_id % 97 = 0) AS BIGINT) AS n_rows_purged,
        |  CAST(SUM(CASE WHEN user_id % 97 = 0
        |    THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
        |    AS cents_purged,
        |  CAST(0 AS BIGINT) AS n_residual,
        |  CAST(COUNT(DISTINCT CASE WHEN user_id % 97 <> 0
        |    THEN user_id END) AS BIGINT) AS n_users_kept,
        |  CAST(SUM(CASE WHEN user_id % 97 <> 0
        |    THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
        |    AS cents_kept
        |FROM events""".stripMargin,
    // every after-count and swept-count pinned to a literal: the GC must
    // sweep exactly the injected debris and nothing else, and the
    // surviving snapshot must still carry the whole table
    "vac1_orphan_gc" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(n_nationkey) AS BIGINT) AS sum_key,
        |  CAST(2 AS INT) AS n_committed_after,
        |  CAST(0 AS INT) AS n_uncommitted_after,
        |  CAST(0 AS INT) AS n_claims_after,
        |  CAST(2 AS INT) AS swept_dirs,
        |  CAST(2 AS INT) AS swept_claims
        |FROM nation""".stripMargin,
    "se1_schema_evolution" ->
      """WITH e AS (
        |  SELECT event_type, CAST(date_trunc('second', ts) AS DATE) AS day,
        |    CAST(floor(value * 100) AS BIGINT) AS cents
        |  FROM events
        |), v1 AS (
        |  SELECT event_type, day, COUNT(*) AS n
        |  FROM e WHERE day < DATE '2024-01-25' GROUP BY 1, 2
        |), v2 AS (
        |  SELECT event_type, day, COUNT(*) AS n,
        |    CAST(SUM(cents) AS BIGINT) AS sc
        |  FROM e WHERE day >= DATE '2024-01-25' GROUP BY 1, 2
        |), merged AS (
        |  SELECT n, CAST(NULL AS BIGINT) AS sc, TRUE AS legacy_era FROM v1
        |  UNION ALL SELECT n, sc, FALSE FROM v2
        |)
        |SELECT legacy_era, COUNT(*) AS n_rows,
        |  CAST(SUM(n) AS BIGINT) AS n_events_total,
        |  CAST(SUM(coalesce(sc, 0)) AS BIGINT) AS cents_total
        |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin,
    // imv1's oracle is deliberately the FULL recompute — incremental
    // maintenance is only correct if it is indistinguishable from it.
    "imv1_incremental_rollup" ->
      """SELECT event_type,
        |  CAST(date_trunc('second', ts) AS DATE) AS day,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the oracle is the PLAIN full join — the four-term delta algebra
    // must converge to it exactly
    "imv2_incremental_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
        |    AS BIGINT) AS revenue_cents
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "tt1_time_travel" ->
      """SELECT 'v_latest' AS snapshot, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS cents
        |FROM orders
        |UNION ALL
        |SELECT 'v_prev' AS snapshot, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS cents
        |FROM orders WHERE o_orderkey % 2 = 0
        |ORDER BY snapshot""".stripMargin,
    "bkt2_partitioned_bucketed" ->
      """SELECT o_orderpriority, COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_returnflag = 'R'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "enc1_encoding_audit" ->
      """WITH o AS (SELECT o_orderkey AS k FROM orders),
        |lay AS (
        |  SELECT 'sorted' AS layout, k // 4096 AS g, k FROM o
        |  UNION ALL
        |  SELECT 'scattered' AS layout,
        |    ('0x' || substr(md5('enc1:' || k), 1, 15))::BIGINT % 147 AS g, k
        |  FROM o
        |), d AS (
        |  SELECT layout, g, k,
        |    lag(k) OVER (PARTITION BY layout, g ORDER BY k) AS prev
        |  FROM lay
        |)
        |SELECT layout, COUNT(*) AS n_rows,
        |  CAST(COUNT(DISTINCT g) AS BIGINT) AS n_groups,
        |  CAST(SUM(CASE WHEN prev IS NULL THEN 64
        |    ELSE length(bin(k - prev)) END) AS BIGINT) AS total_bits,
        |  CAST(SUM(CASE WHEN prev IS NULL THEN 64
        |    ELSE length(bin(k - prev)) END) AS DOUBLE) / COUNT(*)
        |    AS bits_per_value
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    "bkt1_bucketed_join" ->
      """SELECT o_orderpriority,
        |  COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(SUM(CAST(floor(l_extendedprice * 100) AS BIGINT)
        |    * (10000 - CAST(floor(l_discount * 10000) AS BIGINT))) AS DOUBLE)
        |    / 1000000.0 AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "skip1_skipping_stats" ->
      s"""WITH d AS (
         |  SELECT o_custkey % 256 AS dx,
         |    date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) % 256 AS dy
         |  FROM orders
         |), z AS (
         |  SELECT dx, dy, (${mortonSql(8)}) AS zval, dx * 256 + dy AS linkey
         |  FROM d
         |), files AS (
         |  SELECT layout, file, COUNT(*) AS n_rows,
         |    MIN(dx) AS min_dx, MAX(dx) AS max_dx,
         |    MIN(dy) AS min_dy, MAX(dy) AS max_dy
         |  FROM (
         |    SELECT 'linear' AS layout, linkey // 4096 AS file, dx, dy FROM z
         |    UNION ALL
         |    SELECT 'zorder' AS layout, zval // 4096 AS file, dx, dy FROM z)
         |  GROUP BY 1, 2
         |)
         |SELECT layout, pred,
         |  COUNT(*) AS n_files,
         |  CAST(SUM(CASE WHEN max_dx >= lo_dx AND min_dx <= hi_dx
         |    AND max_dy >= lo_dy AND min_dy <= hi_dy THEN 1 ELSE 0 END) AS BIGINT)
         |    AS files_hit,
         |  CAST(SUM(n_rows) AS BIGINT) AS rows_total,
         |  CAST(SUM(CASE WHEN max_dx >= lo_dx AND min_dx <= hi_dx
         |    AND max_dy >= lo_dy AND min_dy <= hi_dy THEN n_rows ELSE 0 END)
         |    AS BIGINT) AS rows_scanned
         |FROM files CROSS JOIN (VALUES
         |    ('dx_16_47', 16, 47, 0, 255),
         |    ('dy_64_95', 0, 255, 64, 95))
         |  AS p(pred, lo_dx, hi_dx, lo_dy, hi_dy)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "zord1_zorder_layout" ->
      s"""WITH d AS (
         |  SELECT o_custkey % 256 AS dx,
         |    date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) % 256 AS dy
         |  FROM orders
         |), z AS (
         |  SELECT dx, dy, (${mortonSql(8)}) AS zval FROM d)
         |SELECT zval // 4096 AS zrange,
         |  COUNT(*) AS n_rows,
         |  MIN(dx) AS min_cust, MAX(dx) AS max_cust,
         |  MIN(dy) AS min_day, MAX(dy) AS max_day
         |FROM z GROUP BY 1 ORDER BY 1""".stripMargin,
    "skw1_skew_stats" ->
      """WITH f AS (
        |  SELECT o_custkey, COUNT(*) AS freq FROM orders GROUP BY 1
        |), s AS (
        |  SELECT COUNT(*) AS n_keys,
        |    CAST(SUM(freq) AS BIGINT) AS n_rows,
        |    CAST(MAX(freq) AS BIGINT) AS max_freq
        |  FROM f)
        |SELECT n_keys, n_rows, max_freq,
        |  CAST(max_freq AS DOUBLE) * CAST(n_keys AS DOUBLE)
        |    / CAST(n_rows AS DOUBLE) AS skew_ratio
        |FROM s""".stripMargin,
    "est1_selfjoin_size" ->
      """WITH f AS (
        |  SELECT l_partkey, COUNT(*) AS freq FROM lineitem GROUP BY 1)
        |SELECT COUNT(*) AS n_keys,
        |  CAST(SUM(freq) AS BIGINT) AS n_rows,
        |  CAST(SUM(freq * freq) AS BIGINT) AS selfjoin_rows,
        |  CAST(MAX(freq * freq) AS BIGINT) AS max_key_pairs
        |FROM f""".stripMargin,
    "tp1_top_p_per_source" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n_tok
        |  FROM documents
        |), c AS (
        |  SELECT source, n_tok,
        |    CAST(SUM(n_tok) OVER (PARTITION BY source
        |      ORDER BY n_tok DESC, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |    CAST(SUM(n_tok) OVER (PARTITION BY source) AS BIGINT) AS total
        |  FROM t)
        |SELECT source,
        |  COUNT(*) AS n_docs_kept,
        |  CAST(SUM(n_tok) AS BIGINT) AS kept_tokens,
        |  MAX(total) AS total_tokens
        |FROM c
        |WHERE (cum - n_tok) * 5 < total * 4
        |GROUP BY source ORDER BY source""".stripMargin,
    "hist1_equidepth" ->
      """WITH g AS (
        |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c,
        |    COUNT(*) AS m
        |  FROM lineitem GROUP BY 1
        |), r AS (
        |  SELECT c, m,
        |    CAST(SUM(m) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |      AS crank,
        |    CAST(SUM(m) OVER () AS BIGINT) AS n_all
        |  FROM g
        |), th AS (
        |  SELECT d.d, min(r.c) AS t
        |  FROM r, UNNEST(generate_series(1, 7)) AS d(d)
        |  WHERE r.crank >= (d.d * r.n_all + 7) // 8
        |  GROUP BY 1
        |), b AS (
        |  SELECT r.c, r.m,
        |    CAST(count_if(th.t < r.c) AS BIGINT) AS bucket
        |  FROM r, th GROUP BY 1, 2)
        |SELECT bucket, COUNT(*) AS n_distinct,
        |  CAST(SUM(m) AS BIGINT) AS depth,
        |  CAST(MIN(c) AS DOUBLE) / 100.0 AS lo,
        |  CAST(MAX(c) AS DOUBLE) / 100.0 AS hi
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,
    "mk1_merkle_diff" ->
      """WITH a AS (SELECT o_orderkey, o_totalprice FROM orders),
        |b AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 101 = 0 THEN o_totalprice + 1.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 97 <> 0),
        |da AS (
        |  SELECT o_orderkey // 1000 AS leaf, o_orderkey,
        |    md5(CAST(o_orderkey AS VARCHAR) || '|' ||
        |        CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR)) AS d
        |  FROM a),
        |db AS (
        |  SELECT o_orderkey // 1000 AS leaf, o_orderkey,
        |    md5(CAST(o_orderkey AS VARCHAR) || '|' ||
        |        CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR)) AS d
        |  FROM b),
        |la AS (SELECT leaf, COUNT(*) AS n_rows,
        |         md5(string_agg(d, ',' ORDER BY o_orderkey)) AS lh
        |       FROM da GROUP BY 1),
        |lb AS (SELECT leaf, COUNT(*) AS n_rows,
        |         md5(string_agg(d, ',' ORDER BY o_orderkey)) AS lh
        |       FROM db GROUP BY 1),
        |pa AS (SELECT leaf // 16 AS parent,
        |         md5(string_agg(lh, ',' ORDER BY leaf)) AS ph
        |       FROM la GROUP BY 1),
        |pb AS (SELECT leaf // 16 AS parent,
        |         md5(string_agg(lh, ',' ORDER BY leaf)) AS ph
        |       FROM lb GROUP BY 1),
        |dirty AS (
        |  SELECT COALESCE(pa.parent, pb.parent) AS parent
        |  FROM pa FULL JOIN pb ON pa.parent = pb.parent
        |  WHERE pa.ph IS NULL OR pb.ph IS NULL OR pa.ph <> pb.ph)
        |SELECT COALESCE(la.leaf, lb.leaf) AS leaf,
        |  COALESCE(la.n_rows, 0) AS n_rows_a,
        |  COALESCE(lb.n_rows, 0) AS n_rows_b
        |FROM la FULL JOIN lb ON la.leaf = lb.leaf
        |JOIN dirty ON COALESCE(la.leaf, lb.leaf) // 16 = dirty.parent
        |WHERE la.lh IS NULL OR lb.lh IS NULL OR la.lh <> lb.lh
        |ORDER BY leaf""".stripMargin,
  )
}
