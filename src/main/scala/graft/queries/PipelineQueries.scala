package graft.queries

import graft.Tables
import graft.functions.VectorMath
import graft.operators.{DataQuality, GraphOps, Relevance, Similarity, TextAnalysis, TimeSeries}
import graft.streaming.EventsStream
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DecimalType, DoubleType, IntegerType, LongType, StringType, StructField, StructType}

/** Round-3 continuation surface: corpus/table audit, robust anomaly
  * detection, exact EWMA, graph census over co-occurrence structure, and
  * BM25-style relevance ranking. Every query is DuckDB-oracle-gated; the
  * float rules are the established ones (exact BIGINT wherever possible,
  * 2^20 quantization + identical expression shape for the one double
  * division that remains).
  */
object PipelineQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Data-quality audit: completeness / uniqueness / validity / referential
    // integrity in one conditional-aggregate pass + one broadcast anti-join.
    "dq1_quality_audit" -> { (spark, dir) =>
      DataQuality.auditOrders(Tables.orders(spark, dir), Tables.customer(spark, dir))
    },

    // Robust anomaly detection: IQR fences from discrete rank-selected
    // quartiles over the quantized value — all-BIGINT decision.
    "ts3_anomaly" -> { (spark, dir) =>
      TimeSeries.iqrOutliers(Tables.events(spark, dir)).orderBy("event_id")
    },

    // Bad-record quarantine (dead-letter routing): a deterministic slice
    // of the JSON payloads is corrupted in-flight (event_id % 13 —
    // prefixed with '{' so no parser can accept it), PERMISSIVE
    // from_json turns exactly those into null extractions, and one
    // conditional aggregate routes counts to ingest vs quarantine. The
    // production shape: never fail the batch, never drop silently —
    // split, count both sides, land the bad rows with their raw payload.
    // The oracle gates on the corruption RULE, not on parser edge
    // agreement (every '{{'-prefixed payload must quarantine, all
    // others must extract k).
    "dq5_quarantine" -> { (spark, dir) =>
      val ev = Tables.eventsParallel(spark, dir)
        .withColumn("raw",
          when(col("event_id") % 13 === 0, concat(lit("{"), col("props")))
            .otherwise(col("props")))
      ev.select(col("event_type"),
          from_json(col("raw"), StructType(Seq(StructField("k", IntegerType))))
            .getField("k").as("k"))
        .groupBy("event_type")
        .agg(
          expr("count_if(k IS NOT NULL)").as("n_ingested"),
          expr("count_if(k IS NULL)").as("n_quarantined"),
          sum(when(col("k").isNotNull, col("k").cast(LongType))
            .otherwise(0L)).as("k_sum"))
        .orderBy("event_type")
    },

    // Exact EWMA (α=1/2, 16-row span) as integer num/den pairs — the
    // sequential recurrence recast as a bounded explode + one aggregate.
    "ts4_ewma" -> { (spark, dir) =>
      TimeSeries.ewmaExact(Tables.events(spark, dir)).orderBy("event_id")
    },

    // Pairwise Pearson correlation MATRIX over the fact table's numeric
    // columns in ONE pass: every moment (4 sums, 4 sums-of-squares, 6
    // cross sums, n) accumulates as an exact DECIMAL(38,0) of quantized
    // integers in a single map-side-partial aggregate — never one scan
    // per pair, never doubles before the final formula. The 6 output
    // rows explode from the single stats row.
    "corr1_matrix" -> { (spark, dir) =>
      val d38 = DecimalType(38, 0)
      val quant: Map[String, org.apache.spark.sql.Column] = Map(
        "disc" -> floor(col("l_discount") * 10000).cast(LongType),
        "price" -> floor(col("l_extendedprice") * 100).cast(LongType),
        "qty" -> floor(col("l_quantity") * 100).cast(LongType),
        "tax" -> floor(col("l_tax") * 10000).cast(LongType))
      val names = Seq("disc", "price", "qty", "tax")
      val base = Tables.lineitem(spark, dir)
        .select(names.map(n => quant(n).as(n)): _*)
      val pairs = for {
        i <- names.indices; j <- names.indices if i < j
      } yield (names(i), names(j))
      // The per-ROW products stay in Long deliberately (hot path: one
      // multiply per row over the full fact scan): operands are
      // quantized bounded domains (price < 1e8 cents, qty < 1e6,
      // disc/tax < 1e4), so every product is < 1e16 — 300× under
      // Long.MaxValue. Only the SUM accumulates in DECIMAL(38,0).
      // (Contrast exp2_cuped, whose operands are unbounded per-user
      // sums and must multiply in decimal.)
      val aggs =
        Seq(count(lit(1)).as("n")) ++
          names.map(n => sum(col(n).cast(d38)).as(s"s_$n")) ++
          names.map(n => sum((col(n) * col(n)).cast(d38)).as(s"ss_$n")) ++
          pairs.map { case (a, b) =>
            sum((col(a) * col(b)).cast(d38)).as(s"sp_${a}_$b")
          }
      val stats = base.agg(aggs.head, aggs.tail: _*)
      def dbl(c: String) = col(c).cast(DoubleType)
      val rows = pairs.map { case (a, b) =>
        struct(lit(a).as("col_a"), lit(b).as("col_b"),
          ((dbl("n") * dbl(s"sp_${a}_$b") - dbl(s"s_$a") * dbl(s"s_$b")) /
            (sqrt(dbl("n") * dbl(s"ss_$a") - dbl(s"s_$a") * dbl(s"s_$a")) *
              sqrt(dbl("n") * dbl(s"ss_$b") - dbl(s"s_$b") * dbl(s"s_$b"))))
            .as("corr"))
      }
      stats.select(explode(array(rows: _*)).as("p"))
        .select(col("p.*"))
        .orderBy("col_a", "col_b")
    },

    // Inter-arrival gap histogram — the traffic-shape fingerprint per
    // event type: per-(user, type) consecutive gaps in exact integer
    // seconds, banded into fixed buckets (CASE ladder, no logs), counted
    // per (type, bucket). Per-key windows only.
    "w13_interarrival" -> { (spark, dir) =>
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts"), col("event_id"))
      val gaps = Tables.events(spark, dir)
        .withColumn("prev", lag(col("ts"), 1).over(w))
        .where(col("prev").isNotNull)
        .withColumn("gap_s", expr("(ts - prev) div 1000000000"))
      gaps
        .withColumn("bucket",
          when(col("gap_s") < 60, "a_lt_1m")
            .when(col("gap_s") < 600, "b_lt_10m")
            .when(col("gap_s") < 3600, "c_lt_1h")
            .when(col("gap_s") < 86400, "d_lt_1d")
            .otherwise("e_ge_1d"))
        .groupBy("event_type", "bucket")
        .agg(count(lit(1)).as("n"),
          sum(col("gap_s")).as("sum_gap_s"))
        .orderBy("event_type", "bucket")
    },

    // Data-contract check — the invariants an ingest contract asserts
    // before a table is served: stored n_chars equals measured length,
    // languages stay in the declared set, doc ids are unique, text is
    // never NULL. Violation counts are the output (all zero on a
    // healthy fixture — the point is the CHECK runs as one pass, not
    // that it finds anything).
    "dq6_contract_check" -> { (spark, dir) =>
      val d = Tables.documents(spark, dir)
      val dupIds = d.groupBy("doc_id").agg(count(lit(1)).as("c"))
        .agg(sum(when(col("c") > 1, col("c"))).as("dup"))
      d.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("n_chars") =!= length(col("text")), 1L).otherwise(0L))
          .as("bad_n_chars"),
        sum(when(!col("lang").isin("en", "de", "fr", "es", "it"), 1L)
          .otherwise(0L)).as("bad_lang"),
        sum(when(col("text").isNull, 1L).otherwise(0L)).as("null_text"))
        .crossJoin(broadcast(dupIds))
        .select(col("n_rows"), col("bad_n_chars"), col("bad_lang"),
          col("null_text"), coalesce(col("dup"), lit(0L)).as("dup_ids"))
    },

    // Leave-one-out target encoding — the categorical-feature transform
    // that leaks without the LOO correction: each row's encoding is the
    // mean target of its category EXCLUDING itself, computed as exact
    // integer cents with one floor division ((S_g − x_i) div (n_g − 1);
    // singleton categories get NULL, never a self-leak). Group sums
    // broadcast onto the scan — no window, no per-row re-aggregation.
    "fs5_target_encoding" -> { (spark, dir) =>
      val o = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderpriority"),
          floor(col("o_totalprice") * 100).cast(LongType).as("cents"))
      val g = o.groupBy("o_orderpriority")
        .agg(sum(col("cents")).as("s"), count(lit(1)).as("n"))
      o.join(broadcast(g), Seq("o_orderpriority"))
        .select(col("o_orderkey"), col("o_orderpriority"),
          when(col("n") > 1,
            expr("(s - cents) div (n - 1)")).as("loo_cents"))
        .where(col("o_orderkey") <= 2000)
        .orderBy("o_orderkey")
    },

    // Group-mean imputation with missing-indicator — the ML-prep staple:
    // masked values (deterministic mask: value < 5 plays the null) fill
    // with their GROUP's mean of observed values, computed as exact
    // integer cents with a floor division (no float mean crosses the
    // engines), and the was-missing indicator column survives for the
    // model. Census per group: observed/imputed counts, fill value,
    // post-imputation exact sum. Group stats broadcast back onto the
    // scan — the fs1 posture.
    "imp1_mean_impute" -> { (spark, dir) =>
      val ev = Tables.events(spark, dir)
        .select(col("event_type"), col("event_id"),
          floor(col("value") * 100).cast(LongType).as("cents"))
        .withColumn("missing", col("cents") < 500)
      val stats = ev.where(!col("missing"))
        .groupBy("event_type")
        .agg(expr("sum(cents) div count(1)").as("fill_cents"))
      ev.join(broadcast(stats), Seq("event_type"))
        .withColumn("imputed",
          when(col("missing"), col("fill_cents")).otherwise(col("cents")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(col("missing"), 1L).otherwise(0L)).as("n_imputed"),
          max(col("fill_cents")).as("fill_cents"),
          sum(col("imputed")).as("sum_imputed_cents"))
        .orderBy("event_type")
    },

    // Daily p50/p95 panel — the ops-dashboard staple (latency/value
    // percentiles per day). percentile_disc picks REAL data points
    // (exact integer cents), so the selected VALUE is bit-portable; the
    // TYPE is not — Spark's builtin returns DOUBLE while DuckDB returns
    // the ORDER BY input type (BIGINT), so each percentile is cast back
    // to BIGINT (exact: integral cents < 2^53). Each day's sort is
    // bounded by that day's rows.
    "ts10_daily_percentiles" -> { (spark, dir) =>
      Tables.events(spark, dir).createOrReplaceTempView("events_ts10")
      spark.sql(
        """SELECT CAST(ts_sec AS DATE) AS day,
          |  COUNT(*) AS n,
          |  CAST(percentile_disc(0.5) WITHIN GROUP
          |    (ORDER BY CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS p50_cents,
          |  CAST(percentile_disc(0.95) WITHIN GROUP
          |    (ORDER BY CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS p95_cents
          |FROM events_ts10 GROUP BY 1 ORDER BY day""".stripMargin)
    },

    // Late-data RESTATEMENT diff — when a late batch (event_id % 50 = 0
    // models the stragglers) lands into already-closed daily rollups,
    // downstream consumers need to know WHICH (day, type) partitions
    // changed and by how much, not a full re-export. Two partial
    // aggregates (on-time, late) merge key-wise; only rows the late
    // batch actually touched emit, with before/after/delta in exact
    // cents — the invalidation manifest that drives incremental
    // downstream refresh. At scale the late batch is tiny: its partial
    // aggregate is the only new work, and the emitted manifest is
    // bounded by touched partitions, never the rollup.
    "rst1_restatement" -> { (spark, dir) =>
      val ev = Tables.events(spark, dir)
        .select(col("event_type"), to_date(col("ts_sec")).as("day"),
          floor(col("value") * 100).cast(LongType).as("cents"),
          (col("event_id") % 50 === 0).as("late"))
      val agg = ev.groupBy("event_type", "day")
        .agg(
          expr("count_if(NOT late)").as("n_before"),
          sum(when(!col("late"), col("cents")).otherwise(0L))
            .as("cents_before"),
          expr("count_if(late)").as("n_late"),
          sum(when(col("late"), col("cents")).otherwise(0L)).as("cents_late"))
      agg.where(col("n_late") > 0)
        .select(col("event_type"), col("day"),
          col("n_before"), col("cents_before"),
          col("n_late"),
          (col("n_before") + col("n_late")).as("n_after"),
          (col("cents_before") + col("cents_late")).as("cents_after"),
          col("cents_late").as("cents_delta"))
        .orderBy("event_type", "day")
    },

    // OHLC + VWAP bars per (event_type, day) — the time-series rollup
    // every monitoring/market pipeline ships: open/close via min_by/
    // max_by on a zero-padded (ts, event_id) string key (total order —
    // same-microsecond ties break on event_id identically on both
    // engines), high/low/volume as plain aggregates, VWAP as one late
    // division of exact cent sums. One map-side-partial pass; the
    // per-bar key space is bounded (types × days), never row-scaled.
    "ts11_ohlc_bars" -> { (spark, dir) =>
      val key = format_string("%020d:%020d", col("ts"), col("event_id"))
      TimeSeries.ohlcBars(Tables.events(spark, dir)
          .select(col("event_type"), to_date(col("ts_sec")).as("day"),
            floor(col("value") * 100).cast(LongType).as("cents"), key.as("k"))
          .groupBy("event_type", "day"))
        .orderBy("event_type", "day")
    },

    // CUSUM changepoint detection per series — the drift alarm over
    // daily metric totals. Deviations are exact cross-multiplied
    // integers (cusum_t = N·Σ_{i≤t}d_i − t·T, never a mean divide), so
    // the peak day and peak magnitude are bit-identical across engines.
    // Per-series windows only — nothing global; at 100 TB each series'
    // daily rollup is tiny however large the raw stream is.
    "ts8_cusum" -> { (spark, dir) =>
      TimeSeries.cusumChangepoint(
        Tables.events(spark, dir)
          .groupBy(col("event_type"), to_date(col("ts_sec")).as("day"))
          .agg(sum(floor(col("value") * 100).cast(LongType)).as("d")))
    },

    // Graph census over the top-40 term co-occurrence graph: nodes, edges,
    // wedges, triangles, quantized clustering coefficient.
    "tri1_triangle_census" -> { (spark, dir) =>
      GraphOps.triangleCensus(
        GraphOps.termCooccurrenceEdges(Tables.documentsParallel(spark, dir),
          topK = 40, minCo = 5L))
    },

    // Degree assortativity of the co-occurrence graph — "do hubs link
    // to hubs?", the mixing census next to tri1's clustering census.
    // Over the 2m directed edge ends the x- and y-degree marginals are
    // IDENTICAL, so Newman's r collapses to a sqrt-free rational:
    // r = (M·Σdadb − (Σda)²) / (M·Σda² − (Σda)²) with M = 2m — every
    // moment an exact BIGINT off one degree join, ONE trailing double
    // division. Scale shape: the degree table is |top-K nodes| rows
    // (broadcast); the only data-sized pass is the edge build itself.
    // (Moments are M·deg² — upgrade to DECIMAL(38,0) past ~10^9 edges.)
    "ast1_degree_assortativity" -> { (spark, dir) =>
      val e = GraphOps.termCooccurrenceEdges(
        Tables.documentsParallel(spark, dir), topK = 40, minCo = 20L)
        .localCheckpoint(eager = true) // feeds degrees + both orientations
      val deg = e.select(col("ta").as("v"))
        .unionAll(e.select(col("tb").as("v")))
        .groupBy("v").agg(count(lit(1)).as("deg"))
      val ends = e.select(col("ta").as("a"), col("tb").as("b"))
        .unionAll(e.select(col("tb").as("a"), col("ta").as("b")))
      ends
        .join(broadcast(deg.select(col("v").as("a"), col("deg").as("da"))),
          Seq("a"))
        .join(broadcast(deg.select(col("v").as("b"), col("deg").as("db"))),
          Seq("b"))
        .agg(count(lit(1)).as("m2"),
          sum(col("da")).as("sx"),
          sum(col("da") * col("db")).as("sxy"),
          sum(col("da") * col("da")).as("sxx"))
        .select(col("m2"),
          (col("m2") * col("sxy") - col("sx") * col("sx")).as("num"),
          (col("m2") * col("sxx") - col("sx") * col("sx")).as("den"))
        .withColumn("assortativity",
          col("num").cast(DoubleType) / col("den").cast(DoubleType))
    },

    // Burstiness of behavioral inter-arrival gaps per event type —
    // B = (σ−μ)/(σ+μ) (Goh & Barabási): −1 = metronome, 0 = Poisson,
    // →1 = bursty. Gaps are whole MINUTES (integer div of the
    // second-precision timestamps — the deliberate quantization that
    // keeps n·Σg² inside BIGINT and the √ operand under 2^53 through
    // sf10, so the one double conversion is EXACT). Cross-multiplying
    // by n gives B = (√(n·Σg²−(Σg)²) − Σg)/(√(n·Σg²−(Σg)²) + Σg): three
    // exact integer moments, one sqrt, one division — identical tree on
    // both engines. Scale shape: the lag window partitions by
    // (user, type) — per-user sequences, never a global sort.
    "burst1_burstiness" -> { (spark, dir) =>
      val gaps = Tables.events(spark, dir)
        .select(col("user_id"), col("event_type"), col("event_id"),
          expr("ts div 1000000000").as("tsec"))
        .withColumn("g",
          expr("(tsec - lag(tsec, 1) OVER (PARTITION BY user_id, event_type " +
            "ORDER BY tsec, event_id)) div 60"))
        .where(col("g").isNotNull)
      val rad = (col("n") * col("sq") - col("s") * col("s")).cast(DoubleType)
      gaps.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("g")).as("s"),
          sum(col("g") * col("g")).as("sq"))
        .select(col("event_type"), col("n"), col("s"), col("sq"),
          ((sqrt(rad) - col("s").cast(DoubleType)) /
            (sqrt(rad) + col("s").cast(DoubleType))).as("burstiness"))
        .orderBy("event_type")
    },

    // BM25-style relevance top-20 for a fixed query term set.
    "bm1_bm25_topk" -> { (spark, dir) =>
      Relevance.bm25TopK(Tables.documentsParallel(spark, dir),
        Seq("spark", "join", "vector", "stream"), k = 20)
    },

    // Reciprocal-rank fusion — the hybrid-retrieval merge every RAG /
    // corpus-slicing stack runs: the lexical (BM25, bm1's scorer) top-50
    // and the vector (exact quantized cosine, x1's scorer; embeddings
    // share the documents id space) top-50 fuse by Σ 1/(60+rank), rank
    // being the only thing that crosses modalities — no score-scale
    // calibration needed, which is RRF's whole point. Each side's rank
    // is deterministic (score desc, id); the fused score is a fixed
    // two-term double sum of exact reciprocals, so ordering is
    // bit-identical across engines. Scale shape: both legs end in
    // TakeOrderedAndProject(k); the partition-less rank windows run on
    // ≤k-row relations (bounded by the legs' top-k, never data-sized),
    // and the fuse join is k-vs-k.
    "rrf1_rank_fusion" -> { (spark, dir) =>
      val lex = Relevance.bm25TopK(Tables.documentsParallel(spark, dir),
          Seq("spark", "join", "vector", "stream"), k = 50)
        .withColumn("rank_lex",
          row_number().over(Window.orderBy(col("score_q").desc, col("doc_id"))))
        .select(col("doc_id"), col("rank_lex"))
      val emb = Tables.embeddings(spark, dir)
      val vec = Similarity
        .bruteForceTopK(emb.where(col("vec_id") === 0), emb, k = 50)
        .select(col("c_vec").as("doc_id"), col("rank").as("rank_vec"))
      lex.join(vec, Seq("doc_id"), "full")
        .select(col("doc_id"), col("rank_lex"), col("rank_vec"),
          (coalesce(lit(1.0) / (lit(60) + col("rank_lex")).cast(DoubleType),
              lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("rank_vec")).cast(DoubleType),
              lit(0.0))).as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id"))
        .limit(20)
    },

    // Schema-evolution union: two sources with overlapping-but-different
    // column sets merged by NAME (not position), missing columns
    // null-filled — the shape every multi-source ingest hits when one
    // feed gains a column first.
    "u4_union_by_name" -> { (spark, dir) =>
      val a = Tables.customer(spark, dir)
        .select(col("c_custkey").as("id"), col("c_name").as("name"),
          col("c_acctbal").as("bal"), lit("cust").as("src"))
      val b = Tables.supplier(spark, dir)
        .select(col("s_suppkey").as("id"), col("s_name").as("name"),
          lit("supp").as("src"))
      a.unionByName(b, allowMissingColumns = true).orderBy("src", "id")
    },
    // Multiset intersection — each value kept min(countA, countB) times.
    "u5_intersect_all" -> { (spark, dir) =>
      val li = Tables.lineitem(spark, dir)
      li.where(col("l_quantity") < 10).select("l_suppkey")
        .intersectAll(li.where(col("l_discount") > 0.05).select("l_suppkey"))
        .orderBy("l_suppkey")
    },
    // Multiset difference — countA − countB copies survive (the
    // subtrahend is a strict subset of the minuend, so the result is the
    // complement multiset, never empty).
    "u6_except_all" -> { (spark, dir) =>
      val li = Tables.lineitem(spark, dir)
      li.where(col("l_quantity") < 10).select("l_suppkey")
        .exceptAll(li.where(col("l_quantity") < 10 && col("l_discount") > 0.05)
          .select("l_suppkey"))
        .orderBy("l_suppkey")
    },

    // Relative-rank window family. percent_rank = (rank−1)/(n−1) and
    // cume_dist = peers≤x / n are single divisions of exact integers —
    // bit-identical IEEE results on both engines. The window order key
    // is made unique (totalprice, orderkey) so ranks are deterministic.
    "w7_rank_family" -> { (spark, dir) =>
      Tables.orders(spark, dir).createOrReplaceTempView("orders_w7")
      spark.sql(
        """SELECT o_orderkey, o_orderpriority,
          |  rank() OVER w AS rnk,
          |  dense_rank() OVER w AS drnk,
          |  percent_rank() OVER w AS prnk,
          |  cume_dist() OVER w AS cdist
          |FROM orders_w7
          |WINDOW w AS (PARTITION BY o_orderpriority
          |             ORDER BY o_totalprice, o_orderkey)
          |ORDER BY o_orderkey""".stripMargin)
    },

    // Exact-integer least-squares regression (quantity on discount
    // basis points): the five sufficient statistics are plain BIGINT
    // sums (one shuffle, partial+final agg); slope num/den are formed in
    // DECIMAL(38,0) so n·Σxy − Σx·Σy never overflows at any SF, and
    // only the final num/den division is floating point — written with
    // the identical expression shape on both engines.
    "a19_regr_exact" -> { (spark, dir) =>
      val q = Tables.lineitem(spark, dir).select(
        col("l_returnflag"),
        floor(col("l_discount") * 10000).cast(LongType).as("x"),
        floor(col("l_quantity")).cast(LongType).as("y"))
      val s = q.groupBy("l_returnflag").agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      val d20 = (c: Column) => c.cast(DecimalType(20, 0))
      val num = (d20(col("n")) * d20(col("sxy")) - d20(col("sx")) * d20(col("sy")))
        .cast(DoubleType)
      val den = (d20(col("n")) * d20(col("sxx")) - d20(col("sx")) * d20(col("sx")))
        .cast(DoubleType)
      s.select(
        col("l_returnflag"), col("n"),
        num.as("slope_num"), den.as("slope_den"),
        (num / den).as("slope"),
        ((col("sy").cast(DoubleType) - (num / den) * col("sx").cast(DoubleType))
          / col("n").cast(DoubleType)).as("intercept"))
        .orderBy("l_returnflag")
    },

    // k-anonymity audit over quasi-identifiers (nation × market
    // segment): group sizes plus an at-risk flag for groups smaller
    // than k — the privacy-side twin of dq1's quality audit.
    "dq2_k_anonymity" -> { (spark, dir) =>
      DataQuality.kAnonymity(
        Tables.customer(spark, dir), Seq("c_nationkey", "c_mktsegment"), k = 10)
    },

    // Integer-exact PageRank (3 unrolled iterations, damping 0.85) over
    // the capped term co-occurrence graph — same edge definition as
    // tri1, so the census and the centrality read the same structure.
    "pr1_pagerank" -> { (spark, dir) =>
      GraphOps.pageRank(
        GraphOps.termCooccurrenceEdges(Tables.documentsParallel(spark, dir),
          topK = 40, minCo = 5L),
        iterations = 3)
        .orderBy("v")
    },

    // Bounded-round k-core peeling (k=3, 4 rounds) over the same term
    // co-occurrence graph: the degeneracy-ordering primitive behind
    // dense-subgraph mining and graph sparsification. Fixed round count
    // (the 100 TB schedule), integer degrees; the oracle unrolls the
    // same 4 peel rounds as chained CTEs.
    "kcore1_peeling" -> { (spark, dir) =>
      GraphOps.kcorePeeling(
        GraphOps.termCooccurrenceEdges(Tables.documentsParallel(spark, dir),
          topK = 40, minCo = 5L),
        k = 3, rounds = 4)
        .orderBy("v")
    },

    // Weisfeiler–Lehman fingerprint, 2 rounds: isomorphism-invariant
    // node labels (seed = degree hash; each round rehashes own label ‖
    // sorted neighbor labels). Portable because md5-over-strings is
    // engine-identical; the oracle replays both rounds with
    // string_agg(... ORDER BY).
    "wl1_graph_fingerprint" -> { (spark, dir) =>
      GraphOps.wlFingerprint(
        GraphOps.termCooccurrenceEdges(Tables.documentsParallel(spark, dir),
          topK = 40, minCo = 5L),
        rounds = 2)
        .orderBy("v")
    },

    // Katz walk centrality with dyadic attenuation (β = 1/4 over walk
    // lengths 1..3): katz_num = 16·w1 + 4·w2 + w3 stays exact BIGINT —
    // the path-counting centrality next to pr1's power iteration, with
    // zero floating point anywhere.
    "katz1_walk_centrality" -> { (spark, dir) =>
      GraphOps.katzWalks(
        GraphOps.termCooccurrenceEdges(Tables.documentsParallel(spark, dir),
          topK = 40, minCo = 5L))
        .orderBy("v")
    },

    // Common-neighbor link prediction over the co-occurrence graph at a
    // STRICTER edge threshold (minCo=20 — at tri1's 5 the top-40 graph
    // is near-complete and no non-adjacent pair survives): the "which
    // terms SHOULD co-occur but don't yet" census — top-20 non-adjacent
    // pairs by shared-neighbor count, with the exact Jaccard
    // numerator/denominator and preferential attachment as companion
    // integer predictors.
    "cn1_link_prediction" -> { (spark, dir) =>
      GraphOps.linkPrediction(
        GraphOps.termCooccurrenceEdges(Tables.documentsParallel(spark, dir),
          topK = 40, minCo = 20L),
        k = 20)
    },

    // Benford first-digit audit over order totals — the classic
    // fabricated-numbers screen a data-quality layer runs on any
    // money-valued feed. The first digit comes from the decimal string
    // of the exact integer cents (never log10 of a double), expected
    // mass uses hard-coded Benford constants (identical literals on
    // both engines), and the chi-square contribution is quantized
    // after one double formula. One map-side-partial aggregate
    // collapses the corpus to ≤9 rows.
    "bl1_benford_audit" -> { (spark, dir) =>
      val benford = typedLit(Map(
        1 -> 0.3010299956639812, 2 -> 0.17609125905568124,
        3 -> 0.12493873660829993, 4 -> 0.09691001300805642,
        5 -> 0.07918124604762482, 6 -> 0.06694678963061322,
        7 -> 0.05799194697768673, 8 -> 0.05115252244738129,
        9 -> 0.04575749056067514))
      val d = Tables.orders(spark, dir)
        .select(substring(
          floor(col("o_totalprice") * 100).cast(LongType).cast("string"),
          1, 1).cast("int").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n_obs"))
      val tot = broadcast(d.agg(sum(col("n_obs")).as("n")))
      d.crossJoin(tot)
        .select(col("digit"), col("n_obs"),
          (col("n").cast(DoubleType) *
            element_at(benford, col("digit"))).as("exp"))
        .select(col("digit"), col("n_obs"),
          VectorMath.quantize(col("exp")).as("exp_q"),
          VectorMath.quantize((col("n_obs").cast(DoubleType) - col("exp")) *
            (col("n_obs").cast(DoubleType) - col("exp")) / col("exp")).as("chi_q"))
        .orderBy("digit")
    },

    // Explicit bloom-filter semi-join reduction: build a bloom over the
    // filtered dimension's keys (one aggregate → one binary scalar),
    // probe the fact scan with graft_might_contain BEFORE the join, then
    // join to finalize. Bloom false positives are removed by the real
    // join, so the result is exactly the plain join — which is the
    // oracle. At 100 TB this is the pattern that turns a full fact
    // shuffle into a pre-filtered one when the optimizer's own runtime
    // filter doesn't fire (cross-stage, cross-job, or cross-system).
    "x14_bloom_join" -> { (spark, dir) =>
      Tables.orders(spark, dir).createOrReplaceTempView("orders_x14")
      Tables.customer(spark, dir).createOrReplaceTempView("customer_x14")
      spark.sql(
        """SELECT o.o_orderpriority, COUNT(*) AS n_orders,
          |  CAST(SUM(CAST(floor(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
          |    AS sum_cents
          |FROM orders_x14 o
          |JOIN customer_x14 c ON o.o_custkey = c.c_custkey
          |WHERE graft_might_contain(
          |    (SELECT graft_bloom_agg(c2.c_custkey, 20000L, 200000L)
          |     FROM customer_x14 c2 WHERE c2.c_mktsegment = 'BUILDING'),
          |    o.o_custkey)
          |  AND c.c_mktsegment = 'BUILDING'
          |GROUP BY 1 ORDER BY 1""".stripMargin)
    },

    // Sliding-window streaming aggregate: 2 h windows every 1 h — each
    // event feeds exactly two windows.
    "st7_stream_sliding" -> { (spark, dir) =>
      EventsStream.slidingCounts(spark, dir)
    },

    // Streaming windowed top-k: stream owns windowed counts (bounded
    // mergeable state), rank runs on the tiny snapshot.
    "st17_stream_windowed_topk" -> { (spark, dir) =>
      EventsStream.windowedTopK(spark, dir)
    },

    // Streaming CDC latest-wins with tombstones (batch twin: cdc3).
    "st19_stream_cdc" -> { (spark, dir) =>
      EventsStream.cdcLatestWins(spark, dir)
    },

    // Streamed SCD-2 dimension maintenance: signup micro-batches merge
    // into an AtomicLayer-versioned dim via recompute-per-affected-key
    // (idempotent under foreachBatch retries, event_id-deduped against
    // cross-batch redelivery); the converged dim must equal x11's
    // one-shot batch history exactly — the oracle IS x11's SQL.
    "st25_stream_scd2" -> { (spark, dir) =>
      EventsStream.scd2StreamedDim(spark, dir)
    },

    // Streamed point-in-time enrichment: purchases join the SCD-2 dim
    // AS OF event time (interval-versioned stream-static join) — the
    // leak-free way to attach user attributes to historical events.
    "st26_stream_pit_enrichment" -> { (spark, dir) =>
      EventsStream.streamPitEnrichment(spark, dir)
    },

    // Watermark-bounded streaming dedup (state expires with event time —
    // the unbounded-stream-safe variant of st3).
    "st8_stream_dedup_wm" -> { (spark, dir) =>
      EventsStream.streamDedupBounded(spark, dir)
    },

    // Map-typed column surface: per-document term-frequency maps built
    // with map_from_entries, then probed/reduced with element_at,
    // map_values, and map_filter — outputs scalar so the gate stays
    // portable (the oracle computes the same facts straight from the
    // (term, cnt) relation).
    "g5_map_ops" -> { (spark, dir) =>
      val tf = Tables.documentsParallel(spark, dir)
        .select(col("doc_id"), explode(TextAnalysis.words(col("text"))).as("term"))
        .where(col("term") =!= "")
        .groupBy("doc_id", "term").agg(count(lit(1)).as("cnt"))
      tf.groupBy("doc_id")
        .agg(map_from_entries(collect_list(struct(col("term"), col("cnt"))))
          .as("tfm"))
        .select(col("doc_id"),
          size(col("tfm")).as("n_distinct_terms"),
          element_at(col("tfm"), "spark").as("spark_tf"),
          array_max(map_values(col("tfm"))).as("max_tf"),
          size(map_filter(col("tfm"), (_, v) => v >= lit(3L))).as("n_repeated"))
        .orderBy("doc_id")
    },

    // Lag-1 autocorrelation per user series — the a19 pattern applied to
    // windowed pairs: lead() forms (x, y) couples, five BIGINT sums per
    // user (2^10 quantization keeps every per-row product far from long
    // range even for very long per-user series), Pearson r assembled in
    // DECIMAL(38,0) and divided once in double. Degenerate series
    // (constant x or y side ⇒ zero variance) are filtered on the exact
    // integer denominators BEFORE any division, on both engines.
    "ts5_autocorr" -> { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
      val pairs = Tables.events(spark, dir)
        .select(col("user_id"), col("ts_sec"), col("event_id"),
          floor(col("value") * 1024).cast(LongType).as("x"))
        .withColumn("y", lead(col("x"), 1).over(w))
        .where(col("y").isNotNull)
      val s = pairs.groupBy("user_id").agg(
        count(lit(1)).as("n_pairs"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      val d20 = (c: Column) => c.cast(DecimalType(20, 0))
      val num = d20(col("n_pairs")) * d20(col("sxy")) - d20(col("sx")) * d20(col("sy"))
      val dx = d20(col("n_pairs")) * d20(col("sxx")) - d20(col("sx")) * d20(col("sx"))
      val dy = d20(col("n_pairs")) * d20(col("syy")) - d20(col("sy")) * d20(col("sy"))
      s.where(dx > 0 && dy > 0)
        .select(col("user_id"), col("n_pairs"),
          (num.cast(DoubleType) /
            sqrt(dx.cast(DoubleType) * dy.cast(DoubleType))).as("autocorr"))
        .orderBy("user_id")
    },

    // Nested-JSON flatten: a nested payload (scalar fields + a string
    // array) built by IDENTICAL string concatenation on both engines,
    // then parsed with each engine's native JSON machinery and the
    // array exploded — from_json + getField + explode on Spark,
    // json_extract + unnest on the oracle.
    "f10_json_flatten" -> { (spark, dir) =>
      val payload = concat(
        lit("{\"u\":"), col("user_id"),
        lit(",\"type\":\""), col("event_type"),
        lit("\",\"tags\":[\""), col("event_type"),
        lit("\",\"g"), pmod(col("user_id"), lit(5)), lit("\"]}"))
      val schema = StructType(Seq(
        StructField("u", LongType),
        StructField("type", StringType),
        StructField("tags", ArrayType(StringType))))
      Tables.eventsParallel(spark, dir)
        .select(col("event_id"), from_json(payload, schema).as("p"))
        .select(col("event_id"),
          col("p.u").as("u"),
          col("p.type").as("etype"),
          explode(col("p.tags")).as("tag"))
        .orderBy("event_id", "tag")
    },

    // Inverted-index construction: term → (df, total tf, ordered posting
    // list). The posting list is ordered inside the aggregate (listagg
    // WITHIN GROUP ≡ string_agg ORDER BY) and md5-collapsed so the gate
    // hashes index CONTENT without shipping megabyte strings. One
    // shuffle on term — the classic retrieval build at any corpus size.
    "i1_inverted_index" -> { (spark, dir) =>
      Tables.documentsParallel(spark, dir)
        .select(col("doc_id"), explode(TextAnalysis.words(col("text"))).as("term"))
        .where(col("term") =!= "")
        .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
        .createOrReplaceTempView("postings_i1")
      spark.sql(
        """SELECT term, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS total_tf,
          |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
          |  md5(listagg(CAST(doc_id AS STRING), ',')
          |      WITHIN GROUP (ORDER BY doc_id)) AS postings_md5
          |FROM postings_i1
          |GROUP BY term ORDER BY term""".stripMargin)
    },

    // Seasonal-naive backtest: predict each user-hour's event count from
    // the same hour one day earlier (time-shifted self-join on the tiny
    // hourly aggregate, not on raw events) and score the exact-integer
    // absolute error.
    "ts6_seasonal_error" -> { (spark, dir) =>
      val hourly = Tables.events(spark, dir)
        .groupBy(col("user_id"), date_trunc("hour", col("ts_sec")).as("hr"))
        .agg(count(lit(1)).as("n"))
      val prev = hourly.select(col("user_id").as("p_uid"),
        col("hr").as("p_hr"), col("n").as("n_pred"))
      hourly.join(prev,
          col("p_uid") === col("user_id") &&
            col("p_hr") === col("hr") - expr("INTERVAL 24 HOURS"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_hours"),
          sum(abs(col("n") - col("n_pred"))).as("abs_err"))
        .select(col("user_id"), col("n_hours"), col("abs_err"),
          (col("abs_err").cast(DoubleType) / col("n_hours").cast(DoubleType))
            .as("mae"))
        .orderBy("user_id")
    },

    // Custom whole-operator plan node: top-2 orders per customer through
    // graft.plans.TopKPerKey (partial bounded heaps → hash exchange of
    // survivors only → final heaps), vs the oracle's window formulation.
    // The (o_totalprice DESC, o_orderkey ASC) order is total, so the
    // result is deterministic.
    "x15_topk_per_key" -> { (spark, dir) =>
      graft.plans.TopKPerKey.topKPerKey(
        Tables.orders(spark, dir)
          .select("o_custkey", "o_orderkey", "o_totalprice"),
        keyCols = Seq("o_custkey"),
        orderCols = Seq("o_totalprice" -> false, "o_orderkey" -> true),
        k = 2)
        .orderBy("o_custkey", "o_orderkey")
    },

    // Deterministic train/val/test split assignment (80/10/10 by a
    // portable hash gate): the bread-and-butter reproducible corpus
    // split — any engine, any partitioning, any rerun lands every doc in
    // the same split. Output is per-split counts + checksums.
    "smp4_split_assign" -> { (spark, dir) =>
      val u = graft.operators.Dedup.portableHash60(
        concat(lit("smp4:"), col("doc_id"))).cast(DoubleType) /
        lit(1152921504606846976.0)
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("n_chars"),
          when(u < 0.8, "train").when(u < 0.9, "val").otherwise("test")
            .as("split"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
        .orderBy("split")
    },

    // Leakage-safe train/val/test split — the assignment that makes
    // smp4 sound in the presence of duplicates: the split gate hashes
    // the DUP-CLUSTER representative (min doc_id per sha256(text)), not
    // the doc, so every copy of a duplicated document lands in the SAME
    // split and eval can never see a training near-twin. Output is the
    // per-split census at both granularities plus a corpus-wide
    // leak_clusters counter (clusters straddling >1 split — 0 by
    // construction, and the oracle recomputes it rather than trusting
    // it). Shape at scale: one hash-groupBy of 32-byte keys, the rep
    // hash gate is a projection, the final agg is 3 rows.
    "smp6_leakage_safe_split" -> { (spark, dir) =>
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("n_chars"), sha2(col("text"), 256).as("h"))
      val reps = docs.groupBy("h").agg(min(col("doc_id")).as("rep"))
      val u = graft.operators.Dedup.portableHash60(
        concat(lit("smp6:"), col("rep"))).cast(DoubleType) /
        lit(1152921504606846976.0)
      val assigned = docs.join(reps, Seq("h"))
        .withColumn("split",
          when(u < 0.8, "train").when(u < 0.9, "val").otherwise("test"))
      val leak = assigned.groupBy("h")
        .agg(countDistinct(col("split")).as("ns"))
        .agg(sum(when(col("ns") > 1, 1L).otherwise(0L)).as("leak_clusters"))
      assigned.groupBy("split")
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("h")).as("n_clusters"),
          sum(col("n_chars")).as("sum_chars"))
        .crossJoin(broadcast(leak))
        .orderBy("split")
    },

    // Aggregate FILTER clause (per-aggregate predicates without CASE
    // scaffolding — one pass, selective accumulators).
    "a20_filter_clause" -> { (spark, dir) =>
      Tables.lineitem(spark, dir).createOrReplaceTempView("li_a20")
      spark.sql(
        """SELECT l_returnflag,
          |  COUNT(*) AS n,
          |  COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_highdisc,
          |  CAST(SUM(CAST(l_quantity AS DECIMAL(20,4)))
          |       FILTER (WHERE l_linestatus = 'F') AS DOUBLE) AS qty_f,
          |  COUNT(DISTINCT l_suppkey) FILTER (WHERE l_quantity < 10)
          |    AS n_lowqty_supp
          |FROM li_a20 GROUP BY 1 ORDER BY 1""".stripMargin)
    },

    // URL decomposition via Spark's dedicated parse_url, oracle-checked
    // against first-principles regexes in DuckDB.
    "p11_url_parse" -> { (spark, dir) =>
      val url = concat(
        lit("https://shop.example.com/seg/"), lower(col("c_mktsegment")),
        lit("/cust/"), col("c_custkey"),
        lit("?r="), col("c_nationkey"), lit("&p=1"))
      Tables.customer(spark, dir).select(
        col("c_custkey"), url.as("url"),
        parse_url(url, lit("HOST")).as("host"),
        parse_url(url, lit("PATH")).as("path"),
        parse_url(url, lit("QUERY")).as("query"),
        parse_url(url, lit("QUERY"), lit("r")).as("r_param"))
        .orderBy("c_custkey")
    },
  )

  val oracles: Map[String, String] = Map(

    "rst1_restatement" ->
      """WITH e AS (
        |  SELECT event_type, CAST(date_trunc('second', ts) AS DATE) AS day,
        |    CAST(floor(value * 100) AS BIGINT) AS cents,
        |    event_id % 50 = 0 AS late
        |  FROM events
        |), agg AS (
        |  SELECT event_type, day,
        |    CAST(count_if(NOT late) AS BIGINT) AS n_before,
        |    CAST(SUM(CASE WHEN NOT late THEN cents ELSE 0 END) AS BIGINT)
        |      AS cents_before,
        |    CAST(count_if(late) AS BIGINT) AS n_late,
        |    CAST(SUM(CASE WHEN late THEN cents ELSE 0 END) AS BIGINT)
        |      AS cents_late
        |  FROM e GROUP BY 1, 2
        |)
        |SELECT event_type, day, n_before, cents_before, n_late,
        |  n_before + n_late AS n_after,
        |  cents_before + cents_late AS cents_after,
        |  cents_late AS cents_delta
        |FROM agg WHERE n_late > 0
        |ORDER BY event_type, day""".stripMargin,
    "ts11_ohlc_bars" ->
      """WITH e AS (
        |  SELECT event_type, CAST(date_trunc('second', ts) AS DATE) AS day,
        |    CAST(floor(value * 100) AS BIGINT) AS cents,
        |    printf('%020d:%020d', epoch_ns(ts), event_id) AS k
        |  FROM events
        |)
        |SELECT event_type, day,
        |  arg_min(cents, k) AS open_cents,
        |  MAX(cents) AS high_cents,
        |  MIN(cents) AS low_cents,
        |  arg_max(cents, k) AS close_cents,
        |  COUNT(*) AS n_trades,
        |  CAST(SUM(cents) AS DOUBLE) / COUNT(*) AS vwap_cents
        |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // dq5 gates the ROUTING RULE: event_id % 13 payloads were made
    // unparseable, everything else carries a valid k.
    "dq5_quarantine" ->
      """SELECT event_type,
        |  CAST(count_if(event_id % 13 <> 0) AS BIGINT) AS n_ingested,
        |  CAST(count_if(event_id % 13 = 0) AS BIGINT) AS n_quarantined,
        |  CAST(SUM(CASE WHEN event_id % 13 <> 0
        |    THEN CAST(props->>'k' AS BIGINT) ELSE 0 END) AS BIGINT) AS k_sum
        |FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "dq1_quality_audit" ->
      """WITH one_pass AS (
        |  SELECT COUNT(*) AS n_rows,
        |    COUNT(*) - COUNT(o_orderdate) AS n_null_date,
        |    COUNT(*) - COUNT(DISTINCT o_orderkey) AS n_dup_pk,
        |    COUNT(DISTINCT o_custkey) AS n_distinct_cust,
        |    SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END)
        |      AS n_bad_status,
        |    SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS n_nonpos_total
        |  FROM orders
        |), orphans AS (
        |  SELECT COUNT(*) AS n_orphan_cust FROM orders
        |  WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
        |)
        |SELECT u.metric, u.value FROM one_pass, orphans,
        |  LATERAL (VALUES
        |    ('n_rows', CAST(n_rows AS BIGINT)),
        |    ('n_null_date', CAST(n_null_date AS BIGINT)),
        |    ('n_dup_pk', CAST(n_dup_pk AS BIGINT)),
        |    ('n_distinct_cust', CAST(n_distinct_cust AS BIGINT)),
        |    ('n_bad_status', CAST(n_bad_status AS BIGINT)),
        |    ('n_nonpos_total', CAST(n_nonpos_total AS BIGINT)),
        |    ('n_orphan_cust', CAST(n_orphan_cust AS BIGINT))
        |  ) AS u(metric, value)
        |ORDER BY metric""".stripMargin,

    "ts3_anomaly" ->
      """WITH ranked AS (
        |  SELECT event_id, event_type,
        |    CAST(floor(value * 1048576.0) AS BIGINT) AS q,
        |    row_number() OVER (PARTITION BY event_type
        |                       ORDER BY CAST(floor(value * 1048576.0) AS BIGINT),
        |                                event_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM events
        |), bounds AS (
        |  SELECT event_type,
        |    MIN(CASE WHEN rn = (25 * n + 99) // 100 THEN q END) AS q1,
        |    MIN(CASE WHEN rn = (75 * n + 99) // 100 THEN q END) AS q3
        |  FROM ranked GROUP BY 1
        |)
        |SELECT r.event_id, r.event_type, r.q,
        |  b.q1 - 3 * (b.q3 - b.q1) AS lo, b.q3 + 3 * (b.q3 - b.q1) AS hi
        |FROM ranked r JOIN bounds b USING (event_type)
        |WHERE r.q < b.q1 - 3 * (b.q3 - b.q1) OR r.q > b.q3 + 3 * (b.q3 - b.q1)
        |ORDER BY event_id""".stripMargin,

    "corr1_matrix" -> {
      val names = Seq("disc", "price", "qty", "tax")
      val pairs = for {
        i <- names.indices; j <- names.indices if i < j
      } yield (names(i), names(j))
      val sumCols =
        names.map(n => s"CAST(SUM($n) AS DOUBLE) AS s_$n") ++
          names.map(n => s"CAST(SUM($n * $n) AS DOUBLE) AS ss_$n") ++
          pairs.map { case (a, b) => s"CAST(SUM($a * $b) AS DOUBLE) AS sp_${a}_$b" }
      val unions = pairs.map { case (a, b) =>
        s"""SELECT '$a' AS col_a, '$b' AS col_b,
           |  (CAST(n AS DOUBLE) * sp_${a}_$b - s_$a * s_$b) /
           |  (sqrt(CAST(n AS DOUBLE) * ss_$a - s_$a * s_$a) *
           |   sqrt(CAST(n AS DOUBLE) * ss_$b - s_$b * s_$b)) AS corr
           |FROM s""".stripMargin
      }.mkString("\n  UNION ALL\n")
      s"""WITH q AS (
         |  SELECT CAST(floor(l_discount * 10000) AS BIGINT) AS disc,
         |    CAST(floor(l_extendedprice * 100) AS BIGINT) AS price,
         |    CAST(floor(l_quantity * 100) AS BIGINT) AS qty,
         |    CAST(floor(l_tax * 10000) AS BIGINT) AS tax
         |  FROM lineitem
         |), s AS (
         |  SELECT COUNT(*) AS n, ${sumCols.mkString(", ")} FROM q
         |)
         |SELECT col_a, col_b, corr FROM (
         |$unions
         |) ORDER BY col_a, col_b""".stripMargin
    },
    "w13_interarrival" ->
      """WITH g AS (
        |  SELECT event_type,
        |    (epoch_ns(ts) - lag(epoch_ns(ts)) OVER
        |      (PARTITION BY user_id, event_type ORDER BY ts, event_id))
        |      // 1000000000 AS gap_s
        |  FROM events
        |), b AS (
        |  SELECT event_type, gap_s,
        |    CASE WHEN gap_s < 60 THEN 'a_lt_1m'
        |         WHEN gap_s < 600 THEN 'b_lt_10m'
        |         WHEN gap_s < 3600 THEN 'c_lt_1h'
        |         WHEN gap_s < 86400 THEN 'd_lt_1d'
        |         ELSE 'e_ge_1d' END AS bucket
        |  FROM g WHERE gap_s IS NOT NULL
        |)
        |SELECT event_type, bucket, COUNT(*) AS n,
        |  CAST(SUM(gap_s) AS BIGINT) AS sum_gap_s
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "dq6_contract_check" ->
      """WITH dup AS (
        |  SELECT CAST(COALESCE(SUM(CASE WHEN c > 1 THEN c END), 0) AS BIGINT)
        |    AS dup_ids
        |  FROM (SELECT doc_id, COUNT(*) AS c FROM documents GROUP BY 1)
        |)
        |SELECT (SELECT COUNT(*) FROM documents) AS n_rows,
        |  (SELECT CAST(SUM(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END)
        |     AS BIGINT) FROM documents) AS bad_n_chars,
        |  (SELECT CAST(SUM(CASE WHEN lang NOT IN ('en','de','fr','es','it')
        |     THEN 1 ELSE 0 END) AS BIGINT) FROM documents) AS bad_lang,
        |  (SELECT CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |     FROM documents) AS null_text,
        |  dup.dup_ids
        |FROM dup""".stripMargin,
    "fs5_target_encoding" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_orderpriority,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders
        |), g AS (
        |  SELECT o_orderpriority, CAST(SUM(cents) AS BIGINT) AS s,
        |    COUNT(*) AS n
        |  FROM o GROUP BY 1
        |)
        |SELECT o.o_orderkey, o.o_orderpriority,
        |  CASE WHEN g.n > 1 THEN (g.s - o.cents) // (g.n - 1) END AS loo_cents
        |FROM o JOIN g USING (o_orderpriority)
        |WHERE o.o_orderkey <= 2000
        |ORDER BY o.o_orderkey""".stripMargin,
    "imp1_mean_impute" ->
      """WITH ev AS (
        |  SELECT event_type, event_id,
        |    CAST(floor(value * 100) AS BIGINT) AS cents,
        |    CAST(floor(value * 100) AS BIGINT) < 500 AS missing
        |  FROM events
        |), stats AS (
        |  SELECT event_type,
        |    CAST(SUM(cents) AS BIGINT) // COUNT(*) AS fill_cents
        |  FROM ev WHERE NOT missing GROUP BY 1
        |)
        |SELECT ev.event_type, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN missing THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_imputed,
        |  CAST(MAX(fill_cents) AS BIGINT) AS fill_cents,
        |  CAST(SUM(CASE WHEN missing THEN fill_cents ELSE cents END)
        |    AS BIGINT) AS sum_imputed_cents
        |FROM ev JOIN stats USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "ts10_daily_percentiles" ->
      """SELECT CAST(date_trunc('second', ts) AS DATE) AS day,
        |  COUNT(*) AS n,
        |  percentile_disc(0.5) WITHIN GROUP
        |    (ORDER BY CAST(floor(value * 100) AS BIGINT)) AS p50_cents,
        |  percentile_disc(0.95) WITHIN GROUP
        |    (ORDER BY CAST(floor(value * 100) AS BIGINT)) AS p95_cents
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin,
    "ts8_cusum" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(date_trunc('second', ts) AS DATE) AS day,
        |    CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS d
        |  FROM events GROUP BY 1, 2
        |), c AS (
        |  SELECT event_type, day,
        |    COUNT(*) OVER (PARTITION BY event_type) *
        |      SUM(d) OVER (PARTITION BY event_type ORDER BY day
        |                   ROWS UNBOUNDED PRECEDING) -
        |    SUM(d) OVER (PARTITION BY event_type) *
        |      COUNT(*) OVER (PARTITION BY event_type ORDER BY day
        |                     ROWS UNBOUNDED PRECEDING) AS cusum
        |  FROM daily
        |), m AS (
        |  SELECT event_type, day, cusum,
        |    MAX(abs(cusum)) OVER (PARTITION BY event_type) AS mx
        |  FROM c
        |)
        |SELECT event_type, MIN(day) AS cp_day, CAST(MAX(mx) AS BIGINT) AS peak
        |FROM m WHERE abs(cusum) = mx
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "ts4_ewma" ->
      """WITH ranked AS (
        |  SELECT user_id, event_id,
        |    CAST(floor(value * 1048576.0) AS BIGINT) AS q,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY date_trunc('second', ts), event_id) AS rn
        |  FROM events
        |), contrib AS (
        |  SELECT user_id, rn + g.d AS rn,
        |    CAST(SUM(q * (CAST(1 AS BIGINT) << (15 - g.d))) AS BIGINT) AS ewma_num,
        |    CAST(SUM(CAST(1 AS BIGINT) << (15 - g.d)) AS BIGINT) AS ewma_den
        |  FROM ranked, UNNEST(generate_series(0, 15)) AS g(d)
        |  GROUP BY 1, 2
        |)
        |SELECT r.user_id, r.event_id, c.ewma_num, c.ewma_den
        |FROM ranked r JOIN contrib c ON c.user_id = r.user_id AND c.rn = r.rn
        |ORDER BY event_id""".stripMargin,

    "tri1_triangle_census" ->
      """WITH toks AS (
        |  SELECT doc_id, u.term
        |  FROM documents,
        |    UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS u(term)
        |  WHERE u.term <> ''
        |), top AS (
        |  SELECT term FROM toks GROUP BY 1
        |  ORDER BY COUNT(*) DESC, term LIMIT 40
        |), dt AS (
        |  SELECT DISTINCT doc_id, term FROM toks
        |  WHERE term IN (SELECT term FROM top)
        |), edges AS (
        |  SELECT a.term AS ta, b.term AS tb
        |  FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.term < b.term
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 5
        |), deg AS (
        |  SELECT v, COUNT(*) AS deg FROM (
        |    SELECT ta AS v FROM edges UNION ALL SELECT tb AS v FROM edges
        |  ) GROUP BY 1
        |), census AS (
        |  SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
        |    (SELECT COUNT(*) FROM edges) AS n_edges,
        |    (SELECT CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) FROM deg) AS n_wedges,
        |    (SELECT COUNT(*)
        |     FROM edges e1
        |     JOIN edges e2 ON e2.ta = e1.tb
        |     JOIN edges e3 ON e3.ta = e1.ta AND e3.tb = e2.tb) AS n_triangles
        |)
        |SELECT n_nodes, n_edges, n_wedges, n_triangles,
        |  CASE WHEN n_wedges > 0 THEN
        |    CAST(floor(3.0 * n_triangles / n_wedges * 1048576.0) AS BIGINT)
        |  END AS clustering_q
        |FROM census""".stripMargin,

    "cn1_link_prediction" ->
      """WITH toks AS (
        |  SELECT doc_id, u.term
        |  FROM documents,
        |    UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS u(term)
        |  WHERE u.term <> ''
        |), top AS (
        |  SELECT term FROM toks GROUP BY 1
        |  ORDER BY COUNT(*) DESC, term LIMIT 40
        |), dt AS (
        |  SELECT DISTINCT doc_id, term FROM toks
        |  WHERE term IN (SELECT term FROM top)
        |), edges AS (
        |  SELECT a.term AS ta, b.term AS tb
        |  FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.term < b.term
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 20
        |), und AS (
        |  SELECT ta AS src, tb AS dst FROM edges
        |  UNION ALL SELECT tb, ta FROM edges
        |), deg AS (
        |  SELECT src AS v, COUNT(*) AS deg FROM und GROUP BY 1
        |), cand AS (
        |  SELECT w1.dst AS a, w2.dst AS b, COUNT(*) AS cn
        |  FROM und w1 JOIN und w2
        |    ON w2.src = w1.src AND w1.dst < w2.dst
        |  GROUP BY 1, 2
        |), nonadj AS (
        |  SELECT * FROM cand c
        |  WHERE NOT EXISTS (SELECT 1 FROM edges e
        |                    WHERE e.ta = c.a AND e.tb = c.b)
        |)
        |SELECT a, b, CAST(cn AS BIGINT) AS cn,
        |  CAST(da.deg AS BIGINT) AS deg_a, CAST(db.deg AS BIGINT) AS deg_b,
        |  CAST(da.deg + db.deg - cn AS BIGINT) AS union_sz,
        |  CAST(da.deg * db.deg AS BIGINT) AS pa
        |FROM nonadj JOIN deg da ON da.v = a JOIN deg db ON db.v = b
        |ORDER BY cn DESC, a, b LIMIT 20""".stripMargin,

    "bl1_benford_audit" ->
      """WITH d AS (
        |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100) AS BIGINT)
        |      AS VARCHAR), 1, 1) AS INT) AS digit,
        |    COUNT(*) AS n_obs
        |  FROM orders GROUP BY 1
        |), t AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM d),
        |e AS (
        |  SELECT digit, n_obs,
        |    CAST(n AS DOUBLE) * (CASE digit
        |      WHEN 1 THEN 0.3010299956639812 WHEN 2 THEN 0.17609125905568124
        |      WHEN 3 THEN 0.12493873660829993 WHEN 4 THEN 0.09691001300805642
        |      WHEN 5 THEN 0.07918124604762482 WHEN 6 THEN 0.06694678963061322
        |      WHEN 7 THEN 0.05799194697768673 WHEN 8 THEN 0.05115252244738129
        |      WHEN 9 THEN 0.04575749056067514 END) AS exp
        |  FROM d, t
        |)
        |SELECT digit, CAST(n_obs AS BIGINT) AS n_obs,
        |  CAST(floor(exp * 1048576.0) AS BIGINT) AS exp_q,
        |  CAST(floor((CAST(n_obs AS DOUBLE) - exp) *
        |    (CAST(n_obs AS DOUBLE) - exp) / exp * 1048576.0) AS BIGINT)
        |    AS chi_q
        |FROM e ORDER BY digit""".stripMargin,

    "bm1_bm25_topk" ->
      """WITH toks AS (
        |  SELECT doc_id, u.term
        |  FROM documents,
        |    UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS u(term)
        |  WHERE u.term <> ''
        |), dl AS (
        |  SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1
        |), corpus AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
        |    CAST(SUM(dl) AS DOUBLE) AS sum_dl FROM dl
        |), qtf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM toks
        |  WHERE term IN ('spark', 'join', 'vector', 'stream') GROUP BY 1, 2
        |), df AS (
        |  SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM qtf GROUP BY 1
        |), scored AS (
        |  SELECT qtf.doc_id,
        |    CAST(floor(
        |      ((corpus.n_docs - df.df + 0.5) / (df.df + 0.5)) *
        |      ((CAST(qtf.tf AS DOUBLE) * 2.2) /
        |       (CAST(qtf.tf AS DOUBLE) + 1.2 *
        |        (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) * corpus.n_docs / corpus.sum_dl))))
        |      * 1048576.0) AS BIGINT) AS score_term_q
        |  FROM qtf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN corpus
        |)
        |SELECT doc_id, COUNT(*) AS n_hits,
        |  CAST(SUM(score_term_q) AS BIGINT) AS score_q
        |FROM scored GROUP BY 1
        |ORDER BY score_q DESC, doc_id LIMIT 20""".stripMargin,

    // tri1's edge CTEs; sqrt-free Newman r over both edge orientations
    "ast1_degree_assortativity" ->
      """WITH toks AS (
        |  SELECT doc_id, u.term
        |  FROM documents,
        |    UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS u(term)
        |  WHERE u.term <> ''
        |), top AS (
        |  SELECT term FROM toks GROUP BY 1
        |  ORDER BY COUNT(*) DESC, term LIMIT 40
        |), dt AS (
        |  SELECT DISTINCT doc_id, term FROM toks
        |  WHERE term IN (SELECT term FROM top)
        |), edges AS (
        |  SELECT a.term AS ta, b.term AS tb
        |  FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.term < b.term
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 20
        |), deg AS (
        |  SELECT v, COUNT(*) AS deg FROM (
        |    SELECT ta AS v FROM edges UNION ALL SELECT tb AS v FROM edges
        |  ) GROUP BY 1
        |), ends AS (
        |  SELECT ta AS a, tb AS b FROM edges
        |  UNION ALL SELECT tb AS a, ta AS b FROM edges
        |), s AS (
        |  SELECT COUNT(*) AS m2,
        |    CAST(SUM(d1.deg) AS BIGINT) AS sx,
        |    CAST(SUM(d1.deg * d2.deg) AS BIGINT) AS sxy,
        |    CAST(SUM(d1.deg * d1.deg) AS BIGINT) AS sxx
        |  FROM ends JOIN deg d1 ON d1.v = ends.a JOIN deg d2 ON d2.v = ends.b
        |)
        |SELECT m2, m2 * sxy - sx * sx AS num, m2 * sxx - sx * sx AS den,
        |  CAST(m2 * sxy - sx * sx AS DOUBLE)
        |    / CAST(m2 * sxx - sx * sx AS DOUBLE) AS assortativity
        |FROM s""".stripMargin,

    // whole-minute gaps; three exact moments; one sqrt, one division
    "burst1_burstiness" ->
      """WITH g AS (
        |  SELECT event_type,
        |    (epoch_ns(ts) // 1000000000
        |      - lag(epoch_ns(ts) // 1000000000) OVER (
        |          PARTITION BY user_id, event_type
        |          ORDER BY epoch_ns(ts) // 1000000000, event_id)) // 60 AS g
        |  FROM events
        |), mo AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(g) AS BIGINT) AS s,
        |    CAST(SUM(g * g) AS BIGINT) AS sq
        |  FROM g WHERE g IS NOT NULL GROUP BY 1
        |)
        |SELECT event_type, n, s, sq,
        |  (sqrt(CAST(n * sq - s * s AS DOUBLE)) - CAST(s AS DOUBLE))
        |    / (sqrt(CAST(n * sq - s * s AS DOUBLE)) + CAST(s AS DOUBLE))
        |    AS burstiness
        |FROM mo ORDER BY event_type""".stripMargin,

    // bm1's BM25 CTEs (top-50) + x1's quantized-cosine CTEs (query
    // vec_id 0, top-50), fused by 1/(60+rank)
    "rrf1_rank_fusion" ->
      """WITH toks AS (
        |  SELECT doc_id, u.term
        |  FROM documents,
        |    UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS u(term)
        |  WHERE u.term <> ''
        |), dl AS (
        |  SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1
        |), corpus AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
        |    CAST(SUM(dl) AS DOUBLE) AS sum_dl FROM dl
        |), qtf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM toks
        |  WHERE term IN ('spark', 'join', 'vector', 'stream') GROUP BY 1, 2
        |), df AS (
        |  SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM qtf GROUP BY 1
        |), scored AS (
        |  SELECT qtf.doc_id,
        |    CAST(floor(
        |      ((corpus.n_docs - df.df + 0.5) / (df.df + 0.5)) *
        |      ((CAST(qtf.tf AS DOUBLE) * 2.2) /
        |       (CAST(qtf.tf AS DOUBLE) + 1.2 *
        |        (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) * corpus.n_docs / corpus.sum_dl))))
        |      * 1048576.0) AS BIGINT) AS score_term_q
        |  FROM qtf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN corpus
        |), lex AS (
        |  SELECT doc_id,
        |    ROW_NUMBER() OVER (ORDER BY score_q DESC, doc_id) AS rank_lex
        |  FROM (
        |    SELECT doc_id, CAST(SUM(score_term_q) AS BIGINT) AS score_q
        |    FROM scored GROUP BY 1
        |    ORDER BY score_q DESC, doc_id LIMIT 50)
        |), q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id = 0),
        |pairs AS (
        |  SELECT q.vec_id AS qv, c.vec_id AS cv,
        |    q.embedding AS eq, c.embedding AS ec
        |  FROM q, embeddings c WHERE c.vec_id != q.vec_id
        |), vterms AS (
        |  SELECT qv, cv,
        |    CAST(floor(CAST(eq[g.i] AS DOUBLE) * 1048576.0) AS BIGINT) AS x,
        |    CAST(floor(CAST(ec[g.i] AS DOUBLE) * 1048576.0) AS BIGINT) AS y
        |  FROM pairs, UNNEST(generate_series(1, len(eq))) AS g(i)
        |), vagg AS (
        |  SELECT qv, cv,
        |    CAST(SUM(x * y) AS DOUBLE) AS dot,
        |    CAST(SUM(x * x) AS DOUBLE) AS nx,
        |    CAST(SUM(y * y) AS DOUBLE) AS ny
        |  FROM vterms GROUP BY 1, 2
        |), vec AS (
        |  SELECT cv AS doc_id, rank_vec FROM (
        |    SELECT cv,
        |      ROW_NUMBER() OVER (ORDER BY dot / nullif(sqrt(nx) * sqrt(ny), 0)
        |        DESC, cv) AS rank_vec
        |    FROM vagg)
        |  WHERE rank_vec <= 50
        |)
        |SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id, l.rank_lex, v.rank_vec,
        |  COALESCE(1.0 / (60 + l.rank_lex), 0.0) +
        |    COALESCE(1.0 / (60 + v.rank_vec), 0.0) AS rrf
        |FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id
        |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin,

    "u4_union_by_name" ->
      """SELECT c_custkey AS id, c_name AS name, c_acctbal AS bal,
        |  'cust' AS src FROM customer
        |UNION ALL BY NAME
        |SELECT s_suppkey AS id, s_name AS name, 'supp' AS src FROM supplier
        |ORDER BY src, id""".stripMargin,

    "u5_intersect_all" ->
      """SELECT l_suppkey FROM lineitem WHERE l_quantity < 10
        |INTERSECT ALL
        |SELECT l_suppkey FROM lineitem WHERE l_discount > 0.05
        |ORDER BY l_suppkey""".stripMargin,

    "u6_except_all" ->
      """SELECT l_suppkey FROM lineitem WHERE l_quantity < 10
        |EXCEPT ALL
        |SELECT l_suppkey FROM lineitem
        |WHERE l_quantity < 10 AND l_discount > 0.05
        |ORDER BY l_suppkey""".stripMargin,

    "w7_rank_family" ->
      """SELECT o_orderkey, o_orderpriority,
        |  CAST(rank() OVER w AS INTEGER) AS rnk,
        |  CAST(dense_rank() OVER w AS INTEGER) AS drnk,
        |  percent_rank() OVER w AS prnk,
        |  cume_dist() OVER w AS cdist
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,

    "a19_regr_exact" ->
      """WITH q AS (
        |  SELECT l_returnflag,
        |    CAST(floor(l_discount * 10000) AS BIGINT) AS x,
        |    CAST(floor(l_quantity) AS BIGINT) AS y
        |  FROM lineitem
        |), s AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x * y) AS BIGINT) AS sxy,
        |    CAST(SUM(x * x) AS BIGINT) AS sxx
        |  FROM q GROUP BY 1
        |)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        |  CAST(n * sxy - sx * sy AS DOUBLE) AS slope_num,
        |  CAST(n * sxx - sx * sx AS DOUBLE) AS slope_den,
        |  CAST(n * sxy - sx * sy AS DOUBLE)
        |    / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
        |  (CAST(sy AS DOUBLE)
        |    - (CAST(n * sxy - sx * sy AS DOUBLE)
        |       / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
        |    / CAST(n AS DOUBLE) AS intercept
        |FROM s ORDER BY 1""".stripMargin,

    "dq2_k_anonymity" ->
      """SELECT c_nationkey, c_mktsegment,
        |  COUNT(*) AS group_n, COUNT(*) < 10 AS at_risk
        |FROM customer GROUP BY 1, 2
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin,

    "pr1_pagerank" ->
      """WITH toks AS (
        |  SELECT doc_id, u.term
        |  FROM documents,
        |    UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS u(term)
        |  WHERE u.term <> ''
        |), top AS (
        |  SELECT term FROM toks GROUP BY 1
        |  ORDER BY COUNT(*) DESC, term LIMIT 40
        |), dt AS (
        |  SELECT DISTINCT doc_id, term FROM toks
        |  WHERE term IN (SELECT term FROM top)
        |), e0 AS (
        |  SELECT a.term AS ta, b.term AS tb
        |  FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.term < b.term
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 5
        |), dir AS (
        |  SELECT ta AS src, tb AS dst FROM e0
        |  UNION ALL SELECT tb AS src, ta AS dst FROM e0
        |), od AS (
        |  SELECT src, COUNT(*) AS outdeg FROM dir GROUP BY 1
        |), nodes AS (
        |  SELECT DISTINCT src AS v FROM dir
        |), p0 AS (
        |  SELECT v, CAST(1000000000000 AS BIGINT) AS pr FROM nodes
        |), c1 AS (
        |  SELECT d.dst, SUM(p.pr // o.outdeg) AS s
        |  FROM dir d JOIN od o USING (src) JOIN p0 p ON p.v = d.src GROUP BY 1
        |), p1 AS (
        |  SELECT n.v, 150000000000 + (85 * COALESCE(c.s, 0)) // 100 AS pr
        |  FROM nodes n LEFT JOIN c1 c ON c.dst = n.v
        |), c2 AS (
        |  SELECT d.dst, SUM(p.pr // o.outdeg) AS s
        |  FROM dir d JOIN od o USING (src) JOIN p1 p ON p.v = d.src GROUP BY 1
        |), p2 AS (
        |  SELECT n.v, 150000000000 + (85 * COALESCE(c.s, 0)) // 100 AS pr
        |  FROM nodes n LEFT JOIN c2 c ON c.dst = n.v
        |), c3 AS (
        |  SELECT d.dst, SUM(p.pr // o.outdeg) AS s
        |  FROM dir d JOIN od o USING (src) JOIN p2 p ON p.v = d.src GROUP BY 1
        |), p3 AS (
        |  SELECT n.v, 150000000000 + (85 * COALESCE(c.s, 0)) // 100 AS pr
        |  FROM nodes n LEFT JOIN c3 c ON c.dst = n.v
        |)
        |SELECT v, CAST(pr AS BIGINT) AS pr_q FROM p3 ORDER BY v""".stripMargin,

    // 4 unrolled peel rounds (k=3) over the pr1 edge CTEs: d_r = degree
    // among round-r survivors, p_r = nodes peeled in round r, n_r = the
    // shrinking alive set; survivors of round 4 report peel_round 0
    "kcore1_peeling" ->
      """WITH toks AS MATERIALIZED (
        |  SELECT doc_id, u.term
        |  FROM documents,
        |    UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS u(term)
        |  WHERE u.term <> ''
        |), top AS MATERIALIZED (
        |  SELECT term FROM toks GROUP BY 1
        |  ORDER BY COUNT(*) DESC, term LIMIT 40
        |), dt AS MATERIALIZED (
        |  SELECT DISTINCT doc_id, term FROM toks
        |  WHERE term IN (SELECT term FROM top)
        |), e0 AS MATERIALIZED (
        |  SELECT a.term AS ta, b.term AS tb
        |  FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.term < b.term
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 5
        |), und AS MATERIALIZED (
        |  SELECT ta AS src, tb AS dst FROM e0
        |  UNION ALL SELECT tb AS src, ta AS dst FROM e0
        |), n0 AS MATERIALIZED (
        |  SELECT DISTINCT src AS v FROM und
        |), d1 AS MATERIALIZED (
        |  SELECT src AS v, COUNT(*) AS c FROM und
        |  WHERE src IN (SELECT v FROM n0) AND dst IN (SELECT v FROM n0)
        |  GROUP BY 1
        |), p1 AS MATERIALIZED (
        |  SELECT n.v FROM n0 n LEFT JOIN d1 d USING (v)
        |  WHERE COALESCE(d.c, 0) < 3
        |), n1 AS MATERIALIZED (SELECT v FROM n0 EXCEPT SELECT v FROM p1),
        |d2 AS MATERIALIZED (
        |  SELECT src AS v, COUNT(*) AS c FROM und
        |  WHERE src IN (SELECT v FROM n1) AND dst IN (SELECT v FROM n1)
        |  GROUP BY 1
        |), p2 AS MATERIALIZED (
        |  SELECT n.v FROM n1 n LEFT JOIN d2 d USING (v)
        |  WHERE COALESCE(d.c, 0) < 3
        |), n2 AS MATERIALIZED (SELECT v FROM n1 EXCEPT SELECT v FROM p2),
        |d3 AS MATERIALIZED (
        |  SELECT src AS v, COUNT(*) AS c FROM und
        |  WHERE src IN (SELECT v FROM n2) AND dst IN (SELECT v FROM n2)
        |  GROUP BY 1
        |), p3 AS MATERIALIZED (
        |  SELECT n.v FROM n2 n LEFT JOIN d3 d USING (v)
        |  WHERE COALESCE(d.c, 0) < 3
        |), n3 AS MATERIALIZED (SELECT v FROM n2 EXCEPT SELECT v FROM p3),
        |d4 AS MATERIALIZED (
        |  SELECT src AS v, COUNT(*) AS c FROM und
        |  WHERE src IN (SELECT v FROM n3) AND dst IN (SELECT v FROM n3)
        |  GROUP BY 1
        |), p4 AS MATERIALIZED (
        |  SELECT n.v FROM n3 n LEFT JOIN d4 d USING (v)
        |  WHERE COALESCE(d.c, 0) < 3
        |), n4 AS MATERIALIZED (SELECT v FROM n3 EXCEPT SELECT v FROM p4),
        |lab AS (
        |  SELECT v, 1 AS peel_round FROM p1
        |  UNION ALL SELECT v, 2 FROM p2
        |  UNION ALL SELECT v, 3 FROM p3
        |  UNION ALL SELECT v, 4 FROM p4
        |  UNION ALL SELECT v, 0 FROM n4
        |)
        |SELECT v, CAST(peel_round AS INT) AS peel_round,
        |  peel_round = 0 AS in_core
        |FROM lab ORDER BY v""".stripMargin,

    // both WL rounds replayed: seed = md5(degree), round hash =
    // md5(own || ':' || string_agg(sorted neighbor labels))
    "wl1_graph_fingerprint" ->
      """WITH toks AS MATERIALIZED (
        |  SELECT doc_id, u.term
        |  FROM documents,
        |    UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS u(term)
        |  WHERE u.term <> ''
        |), top AS MATERIALIZED (
        |  SELECT term FROM toks GROUP BY 1
        |  ORDER BY COUNT(*) DESC, term LIMIT 40
        |), dt AS MATERIALIZED (
        |  SELECT DISTINCT doc_id, term FROM toks
        |  WHERE term IN (SELECT term FROM top)
        |), e0 AS MATERIALIZED (
        |  SELECT a.term AS ta, b.term AS tb
        |  FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.term < b.term
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 5
        |), und AS MATERIALIZED (
        |  SELECT ta AS src, tb AS dst FROM e0
        |  UNION ALL SELECT tb AS src, ta AS dst FROM e0
        |), l0 AS MATERIALIZED (
        |  SELECT src AS v, md5(CAST(COUNT(*) AS VARCHAR)) AS l
        |  FROM und GROUP BY 1
        |), s1 AS MATERIALIZED (
        |  SELECT e.src AS v, string_agg(b.l, ',' ORDER BY b.l) AS sig
        |  FROM und e JOIN l0 b ON b.v = e.dst GROUP BY 1
        |), l1 AS MATERIALIZED (
        |  SELECT a.v, md5(a.l || ':' || s.sig) AS l
        |  FROM l0 a JOIN s1 s USING (v)
        |), s2 AS MATERIALIZED (
        |  SELECT e.src AS v, string_agg(b.l, ',' ORDER BY b.l) AS sig
        |  FROM und e JOIN l1 b ON b.v = e.dst GROUP BY 1
        |), l2 AS (
        |  SELECT a.v, md5(a.l || ':' || s.sig) AS l
        |  FROM l1 a JOIN s2 s USING (v)
        |)
        |SELECT v, substr(l, 1, 16) AS wl FROM l2 ORDER BY v""".stripMargin,

    // walk counts w1=deg, w_{k+1}(v)=Σ_{u~v} w_k(u); all-BIGINT dyadic
    // combination 16·w1 + 4·w2 + w3 (= 64·Σ β^k w_k at β=1/4)
    "katz1_walk_centrality" ->
      """WITH toks AS MATERIALIZED (
        |  SELECT doc_id, u.term
        |  FROM documents,
        |    UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS u(term)
        |  WHERE u.term <> ''
        |), top AS MATERIALIZED (
        |  SELECT term FROM toks GROUP BY 1
        |  ORDER BY COUNT(*) DESC, term LIMIT 40
        |), dt AS MATERIALIZED (
        |  SELECT DISTINCT doc_id, term FROM toks
        |  WHERE term IN (SELECT term FROM top)
        |), e0 AS MATERIALIZED (
        |  SELECT a.term AS ta, b.term AS tb
        |  FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.term < b.term
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 5
        |), und AS MATERIALIZED (
        |  SELECT ta AS src, tb AS dst FROM e0
        |  UNION ALL SELECT tb AS src, ta AS dst FROM e0
        |), w1 AS MATERIALIZED (
        |  SELECT dst AS v, COUNT(*) AS w FROM und GROUP BY 1
        |), w2 AS MATERIALIZED (
        |  SELECT e.dst AS v, CAST(SUM(a.w) AS BIGINT) AS w
        |  FROM und e JOIN w1 a ON a.v = e.src GROUP BY 1
        |), w3 AS MATERIALIZED (
        |  SELECT e.dst AS v, CAST(SUM(b.w) AS BIGINT) AS w
        |  FROM und e JOIN w2 b ON b.v = e.src GROUP BY 1
        |)
        |SELECT a.v, a.w AS w1, b.w AS w2, c.w AS w3,
        |  CAST(a.w * 16 + b.w * 4 + c.w AS BIGINT) AS katz_num
        |FROM w1 a JOIN w2 b ON b.v = a.v JOIN w3 c ON c.v = a.v
        |ORDER BY a.v""".stripMargin,

    "x14_bloom_join" ->
      """SELECT o.o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(floor(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // purchase x dim-version interval containment; exactly one version
    // per purchase at/after the user's first signup
    "st26_stream_pit_enrichment" ->
      """WITH dim AS (
        |  SELECT user_id, CAST(ROW_NUMBER() OVER w AS INT) AS version,
        |    value AS dim_value,
        |    date_trunc('second', ts) AS ef,
        |    date_trunc('second', LEAD(ts, 1) OVER w) AS et
        |  FROM events WHERE event_type = 'signup'
        |  WINDOW w AS (PARTITION BY user_id
        |    ORDER BY date_trunc('second', ts), event_id)
        |)
        |SELECT p.event_id, p.user_id, d.version,
        |  CAST(floor(d.dim_value * 100) AS BIGINT) AS dim_cents
        |FROM events p JOIN dim d ON d.user_id = p.user_id
        |  AND date_trunc('second', p.ts) >= d.ef
        |  AND (d.et IS NULL OR date_trunc('second', p.ts) < d.et)
        |WHERE p.event_type = 'purchase'
        |ORDER BY p.event_id""".stripMargin,

    // identical to x11's oracle: the streamed merge must converge to the
    // one-shot batch history bit-for-bit
    "st25_stream_scd2" ->
      """SELECT user_id,
        |  CAST(ROW_NUMBER() OVER w AS INT) AS version, event_id, value,
        |  date_trunc('second', ts) AS effective_from,
        |  date_trunc('second', LEAD(ts, 1) OVER w) AS effective_to,
        |  CAST(LEAD(ts, 1) OVER w IS NULL AS INT) AS is_current
        |FROM events WHERE event_type = 'signup'
        |WINDOW w AS (PARTITION BY user_id
        |  ORDER BY date_trunc('second', ts), event_id)
        |ORDER BY user_id, version""".stripMargin,

    "st19_stream_cdc" ->
      """WITH ranked AS (
        |  SELECT user_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |)
        |SELECT user_id,
        |  CAST(floor(value * 100) AS BIGINT) AS bal_cents
        |FROM ranked WHERE rn = 1 AND event_type <> 'error'
        |ORDER BY user_id""".stripMargin,
    "st17_stream_windowed_topk" ->
      """WITH ev AS (
        |  SELECT CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS es,
        |    event_type
        |  FROM events
        |), w AS (
        |  SELECT es // 21600 * 21600 AS win_start, event_type,
        |    COUNT(*) AS n
        |  FROM ev GROUP BY 1, 2
        |), r AS (
        |  SELECT win_start, event_type, n,
        |    row_number() OVER (PARTITION BY win_start
        |      ORDER BY n DESC, event_type) AS rn
        |  FROM w
        |)
        |SELECT win_start, event_type, n FROM r WHERE rn <= 2
        |ORDER BY win_start, event_type""".stripMargin,
    "st7_stream_sliding" ->
      """WITH ev AS (
        |  SELECT event_type,
        |    date_trunc('hour', date_trunc('second', ts)) AS h,
        |    CAST(value AS DECIMAL(20,4)) AS vdec
        |  FROM events
        |), w AS (
        |  SELECT event_type, h - g.i * INTERVAL 1 HOUR AS win_start, vdec
        |  FROM ev, UNNEST(generate_series(0, 1)) AS g(i)
        |)
        |SELECT win_start, event_type, COUNT(*) AS n_events,
        |  CAST(SUM(vdec) AS DOUBLE) AS sum_value
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "st8_stream_dedup_wm" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,

    "g5_map_ops" ->
      """WITH toks AS (
        |  SELECT doc_id, u.term
        |  FROM documents,
        |    UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS u(term)
        |  WHERE u.term <> ''
        |), tf AS (
        |  SELECT doc_id, term, COUNT(*) AS cnt FROM toks GROUP BY 1, 2
        |)
        |SELECT doc_id,
        |  CAST(COUNT(*) AS INTEGER) AS n_distinct_terms,
        |  MAX(CASE WHEN term = 'spark' THEN cnt END) AS spark_tf,
        |  MAX(cnt) AS max_tf,
        |  CAST(SUM(CASE WHEN cnt >= 3 THEN 1 ELSE 0 END) AS INTEGER)
        |    AS n_repeated
        |FROM tf GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "ts5_autocorr" ->
      """WITH pairs AS (
        |  SELECT user_id,
        |    CAST(floor(value * 1024) AS BIGINT) AS x,
        |    lead(CAST(floor(value * 1024) AS BIGINT), 1)
        |      OVER (PARTITION BY user_id
        |            ORDER BY date_trunc('second', ts), event_id) AS y
        |  FROM events
        |), s AS (
        |  SELECT user_id, COUNT(*) AS n_pairs,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x * y) AS BIGINT) AS sxy,
        |    CAST(SUM(x * x) AS BIGINT) AS sxx,
        |    CAST(SUM(y * y) AS BIGINT) AS syy
        |  FROM pairs WHERE y IS NOT NULL GROUP BY 1
        |), d AS (
        |  SELECT user_id, n_pairs,
        |    n_pairs * sxy - sx * sy AS num,
        |    n_pairs * sxx - sx * sx AS dx,
        |    n_pairs * syy - sy * sy AS dy
        |  FROM s
        |)
        |SELECT user_id, CAST(n_pairs AS BIGINT) AS n_pairs,
        |  CAST(num AS DOUBLE) / sqrt(CAST(dx AS DOUBLE) * CAST(dy AS DOUBLE))
        |    AS autocorr
        |FROM d WHERE dx > 0 AND dy > 0
        |ORDER BY user_id""".stripMargin,

    "f10_json_flatten" ->
      """WITH j AS (
        |  SELECT event_id,
        |    '{"u":' || user_id || ',"type":"' || event_type ||
        |    '","tags":["' || event_type || '","g' || (user_id % 5) ||
        |    '"]}' AS payload
        |  FROM events
        |)
        |SELECT event_id,
        |  CAST(json_extract(payload, '$.u') AS BIGINT) AS u,
        |  json_extract_string(payload, '$.type') AS etype,
        |  unnest(CAST(json_extract(payload, '$.tags') AS VARCHAR[])) AS tag
        |FROM j ORDER BY event_id, tag""".stripMargin,

    "i1_inverted_index" ->
      """WITH toks AS (
        |  SELECT doc_id, u.term
        |  FROM documents,
        |    UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS u(term)
        |  WHERE u.term <> ''
        |), postings AS (
        |  SELECT term, doc_id, COUNT(*) AS tf FROM toks GROUP BY 1, 2
        |)
        |SELECT term, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS total_tf,
        |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
        |  md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id))
        |    AS postings_md5
        |FROM postings GROUP BY term ORDER BY term""".stripMargin,

    "ts6_seasonal_error" ->
      """WITH hourly AS (
        |  SELECT user_id, date_trunc('hour', date_trunc('second', ts)) AS hr,
        |    COUNT(*) AS n
        |  FROM events GROUP BY 1, 2
        |), j AS (
        |  SELECT h.user_id, h.n, p.n AS n_pred
        |  FROM hourly h JOIN hourly p
        |    ON p.user_id = h.user_id AND p.hr = h.hr - INTERVAL 24 HOUR
        |)
        |SELECT user_id, COUNT(*) AS n_hours,
        |  CAST(SUM(ABS(n - n_pred)) AS BIGINT) AS abs_err,
        |  CAST(CAST(SUM(ABS(n - n_pred)) AS BIGINT) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS mae
        |FROM j GROUP BY 1 ORDER BY user_id""".stripMargin,

    "x15_topk_per_key" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders
        |) WHERE rn <= 2
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "smp4_split_assign" ->
      """WITH s AS (
        |  SELECT doc_id, n_chars,
        |    CASE
        |      WHEN CAST(('0x' || substr(md5('smp4:' || doc_id), 1, 15))::BIGINT
        |           AS DOUBLE) / 1152921504606846976.0 < 0.8 THEN 'train'
        |      WHEN CAST(('0x' || substr(md5('smp4:' || doc_id), 1, 15))::BIGINT
        |           AS DOUBLE) / 1152921504606846976.0 < 0.9 THEN 'val'
        |      ELSE 'test' END AS split
        |  FROM documents
        |)
        |SELECT split, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        |FROM s GROUP BY 1 ORDER BY split""".stripMargin,
    "smp6_leakage_safe_split" ->
      """WITH d AS (
        |  SELECT doc_id, n_chars, sha256(text) AS h FROM documents
        |), r AS (
        |  SELECT h, MIN(doc_id) AS rep FROM d GROUP BY 1
        |), a AS (
        |  SELECT d.doc_id, d.n_chars, d.h,
        |    CASE
        |      WHEN CAST(('0x' || substr(md5('smp6:' || r.rep), 1, 15))::BIGINT
        |           AS DOUBLE) / 1152921504606846976.0 < 0.8 THEN 'train'
        |      WHEN CAST(('0x' || substr(md5('smp6:' || r.rep), 1, 15))::BIGINT
        |           AS DOUBLE) / 1152921504606846976.0 < 0.9 THEN 'val'
        |      ELSE 'test' END AS split
        |  FROM d JOIN r USING (h)
        |), leak AS (
        |  SELECT CAST(SUM(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS leak_clusters
        |  FROM (SELECT h, COUNT(DISTINCT split) AS ns FROM a GROUP BY 1)
        |)
        |SELECT split, COUNT(*) AS n_docs,
        |  CAST(COUNT(DISTINCT h) AS BIGINT) AS n_clusters,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars, leak.leak_clusters
        |FROM a CROSS JOIN leak
        |GROUP BY 1, leak.leak_clusters ORDER BY split""".stripMargin,

    "a20_filter_clause" ->
      """SELECT l_returnflag,
        |  COUNT(*) AS n,
        |  COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_highdisc,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(20,4)))
        |       FILTER (WHERE l_linestatus = 'F') AS DOUBLE) AS qty_f,
        |  COUNT(DISTINCT l_suppkey) FILTER (WHERE l_quantity < 10)
        |    AS n_lowqty_supp
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "p11_url_parse" ->
      """WITH u AS (
        |  SELECT c_custkey,
        |    'https://shop.example.com/seg/' || lower(c_mktsegment) ||
        |    '/cust/' || c_custkey || '?r=' || c_nationkey || '&p=1' AS url
        |  FROM customer
        |)
        |SELECT c_custkey, url,
        |  regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host,
        |  regexp_extract(url, '^[a-z]+://[^/]+([^?]*)', 1) AS path,
        |  regexp_extract(url, '\?(.*)$', 1) AS query,
        |  regexp_extract(url, '[?&]r=([^&]*)', 1) AS r_param
        |FROM u ORDER BY c_custkey""".stripMargin,
  )
}
