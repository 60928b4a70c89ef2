package graft.queries

import graft.Tables
import graft.functions.VectorMath
import graft.operators.{Dedup, EventAnalytics, GraphOps, Multimodal, TimeSeries}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-3 surface: time-series regularization, behavioral analytics,
  * SQL-surface aggregates (listagg / bitwise / median+mode), correlated
  * subqueries and lateral joins, portable MinHash, weighted sampling, and
  * cross-document span-level duplication.
  *
  * Every query here is DuckDB-oracle-gated. Cross-engine float rules
  * (see SCALE.md + memory): decimal accumulators for sums, identical
  * double expression shapes for per-row arithmetic, BIGINT casts wherever
  * DuckDB would widen to DECIMAL/HUGEINT, matching aliases on both sides.
  */
object AnalyticsQueries {

  /** 2^60 — the portableHash60 range — as one shared literal: interpolated
    * verbatim into the oracle SQL and parsed for the Spark `lit` (the
    * division `h / 2^60` is an exponent shift, no rounding; both engines
    * parse this decimal string to the identical double).
    */
  private val P60 = "1152921504606846976.0"
  private val p60Lit = lit(P60.toDouble)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // --- Time series ---
    // Hourly resample + forward fill over each user's active range.
    "ts1_gapfill" -> { (spark, dir) =>
      TimeSeries.gapFillForward(Tables.events(spark, dir))
        .orderBy("user_id", "hr")
    },
    // Hourly resample + linear interpolation at missing hours.
    "ts2_interpolate" -> { (spark, dir) =>
      TimeSeries.interpolateLinear(Tables.events(spark, dir))
        .orderBy("user_id", "hr")
    },
    // Trailing 1-hour sliding aggregate per event (RANGE frame on epoch
    // seconds; ties share a frame identically on both engines).
    "w5_time_window" -> { (spark, dir) =>
      TimeSeries.trailingWindow(Tables.events(spark, dir), 3600L)
        .orderBy("event_id")
    },

    // --- Behavioral analytics ---
    "fn1_funnel" -> { (spark, dir) =>
      EventAnalytics.funnel3(Tables.events(spark, dir), "view", "click", "purchase")
        .orderBy("step")
    },
    "coh1_retention" -> { (spark, dir) =>
      EventAnalytics.retention(Tables.events(spark, dir))
        .orderBy("cohort_day", "day_offset")
    },
    "cd1_cum_users" -> { (spark, dir) =>
      EventAnalytics.cumulativeUsers(Tables.events(spark, dir))
        .orderBy("day")
    },

    // --- SQL aggregate surface ---
    // Ordered string aggregation (Spark 4 listagg ≡ DuckDB string_agg).
    "a14_listagg" -> { (spark, dir) =>
      Tables.nation(spark, dir).createOrReplaceTempView("nation_a14")
      Tables.region(spark, dir).createOrReplaceTempView("region_a14")
      spark.sql(
        """SELECT r_name, listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS nations
          |FROM nation_a14 JOIN region_a14 ON n_regionkey = r_regionkey
          |GROUP BY r_name ORDER BY r_name""".stripMargin)
    },
    // Bitwise + boolean aggregates.
    "a15_bitbool" -> { (spark, dir) =>
      Tables.lineitem(spark, dir)
        .groupBy("l_returnflag")
        .agg(
          bit_and(col("l_linenumber")).as("lines_band"),
          bit_or(col("l_linenumber")).as("lines_bor"),
          bit_xor(col("l_orderkey")).as("orders_bxor"),
          bool_and(col("l_quantity") > 0).as("all_qty_pos"),
          bool_or(col("l_discount") > lit(0.06)).as("any_high_disc"),
        )
        .orderBy("l_returnflag")
    },
    // WEIGHTED median — the survey-reweighting / cost-weighted
    // percentile a8/a12's unweighted ranks can't express: per return
    // flag, the smallest price whose cumulative QUANTITY weight reaches
    // half the group's total. All-integer: prices in cents, weights as
    // exact integral quantities, the half-total test cross-multiplied
    // (2·cumw ≥ totw) so no division anywhere. One grouped aggregate +
    // a per-flag window over the (flag, price) value axis — the window
    // relation is distinct prices per group, not rows.
    "a23_weighted_median" -> { (spark, dir) =>
      val g = Tables.lineitem(spark, dir)
        .select(col("l_returnflag"),
          floor(col("l_extendedprice") * 100).cast(LongType).as("cents"),
          col("l_quantity").cast(LongType).as("qty"))
        .groupBy("l_returnflag", "cents")
        .agg(sum(col("qty")).as("w"))
      val wf = Window.partitionBy("l_returnflag").orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      g.withColumn("cumw", sum(col("w")).over(wf))
        .withColumn("totw",
          sum(col("w")).over(Window.partitionBy("l_returnflag")))
        .where(col("cumw") * 2 >= col("totw"))
        .groupBy("l_returnflag")
        .agg(min(col("cents")).as("wmed_cents"),
          max(col("totw")).as("total_qty"))
        .orderBy("l_returnflag")
    },
    // median() (interpolated, parity with DuckDB median on doubles) +
    // deterministic mode via a collision-free argmax ordering key
    // (most-frequent wins, smallest value breaks ties; quantities are
    // integral so the BIGINT key is exact).
    "a16_median_mode" -> { (spark, dir) =>
      val li = Tables.lineitem(spark, dir)
      val med = li.groupBy("l_returnflag")
        .agg(median(col("l_quantity")).as("median_qty"))
      val cnts = li
        .groupBy(col("l_returnflag"),
          floor(col("l_quantity")).cast(LongType).as("qty"))
        .agg(count(lit(1)).as("cnt"))
      val mode = cnts.groupBy("l_returnflag")
        .agg(max_by(col("qty"),
          col("cnt") * lit(10000L) + (lit(10000L) - col("qty"))).as("mode_qty"))
      med.join(mode, Seq("l_returnflag")).orderBy("l_returnflag")
    },

    // --- Joins / subqueries ---
    // TPC-H Q5 shape: 6-table snowflake, revenue per nation where customer
    // and supplier share the nation. Region/nation/supplier broadcast;
    // the two big joins shuffle on their natural keys. Revenue is the
    // j5-style exact-integer quantization (cents × discount basis points).
    "j8_snowflake_join" -> { (spark, dir) =>
      val nr = Tables.nation(spark, dir)
        .join(broadcast(Tables.region(spark, dir).where(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val sn = Tables.supplier(spark, dir)
        .join(broadcast(nr), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
      val revQ = QueryExprs.revQ
      Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
        .join(Tables.orders(spark, dir).select("o_orderkey", "o_custkey"),
          col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(spark, dir)
            .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"),
          col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(sn),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .groupBy("n_name")
        .agg((sum(revQ).cast(DoubleType) / 1000000.0).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },
    // Lateral correlated subquery: top-2 orders per customer by price.
    "lat1_lateral_topn" -> { (spark, dir) =>
      Tables.customer(spark, dir).createOrReplaceTempView("customer_lat1")
      Tables.orders(spark, dir).createOrReplaceTempView("orders_lat1")
      spark.sql(
        """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
          |FROM customer_lat1 c, LATERAL (
          |  SELECT o_orderkey, o_totalprice FROM orders_lat1 o
          |  WHERE o.o_custkey = c.c_custkey
          |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
          |) t
          |ORDER BY c_custkey, o_orderkey""".stripMargin)
    },
    // Correlated scalar subqueries + NOT EXISTS: customers above their
    // nation's average balance, flagged when they have no orders. The
    // average compare is rewritten as an exact decimal cross-
    // multiplication so no double division crosses the engines.
    "sub1_correlated" -> { (spark, dir) =>
      Tables.customer(spark, dir).createOrReplaceTempView("customer_sub1")
      Tables.orders(spark, dir).createOrReplaceTempView("orders_sub1")
      spark.sql(
        """SELECT c_custkey, c_acctbal,
          |  CASE WHEN NOT EXISTS (SELECT 1 FROM orders_sub1 o
          |                        WHERE o.o_custkey = c.c_custkey)
          |       THEN 1 ELSE 0 END AS no_orders
          |FROM customer_sub1 c
          |WHERE CAST(c_acctbal AS DECIMAL(20,4)) *
          |      (SELECT COUNT(*) FROM customer_sub1 c2
          |       WHERE c2.c_nationkey = c.c_nationkey)
          |    > (SELECT SUM(CAST(c3.c_acctbal AS DECIMAL(20,4)))
          |       FROM customer_sub1 c3 WHERE c3.c_nationkey = c.c_nationkey)
          |ORDER BY c_custkey""".stripMargin)
    },

    // --- Text / documents ---
    // Regex extraction surface: match counts + first match per document.
    "p9_regexp_extract" -> { (spark, dir) =>
      Tables.documents(spark, dir)
        .select(
          col("doc_id"),
          size(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0))).as("n_numbers"),
          size(regexp_extract_all(col("text"), lit("[A-Za-z]+"), lit(0))).as("n_words"),
          regexp_extract(col("text"), "[0-9]+", 0).as("first_number"),
        )
        .orderBy("doc_id")
    },
    // Engine-portable MinHash signatures (md5-based hash family) — the
    // oracle recomputes the identical signatures in DuckDB, closing the
    // "signatures are engine-internal" gap of d2.
    "d8_minhash_portable" -> { (spark, dir) =>
      Dedup.minHashPortable(Tables.documentsParallel(spark, dir), k = 3, numHashes = 16)
        .orderBy("doc_id", "h_idx")
    },
    // Deterministic weighted sampling: keep probability proportional to
    // document length (capped at 1), decided by a portable 60-bit hash
    // uniform — reproducible on any engine with md5.
    "smp3_weighted_sample" -> { (spark, dir) =>
      val u = (Dedup.portableHash60(concat(lit("smp3:"), col("doc_id")))
        .cast(DoubleType) / p60Lit).as("sample_u")
      val w = least(col("n_chars").cast(DoubleType) / lit(600.0), lit(1.0)).as("keep_w")
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("n_chars"), u, w)
        .where(col("sample_u") < col("keep_w"))
        .orderBy("doc_id")
    },
    // Edit-distance near-dup on consecutive doc pairs: exact Levenshtein
    // (identical DP semantics both engines) + a normalized similarity.
    // O(len²) per pair — the candidate-pair pattern (LSH first, verify
    // few) is what makes this affordable at scale; here pairs are the
    // consecutive-id probe set used by d4/d5.
    "d9_levenshtein" -> { (spark, dir) =>
      val docs = Tables.documentsParallel(spark, dir)
      val a = docs.select(col("doc_id").as("doc_a"), col("text").as("ta"),
        col("n_chars").as("na"))
      val b = docs.select(col("doc_id").as("doc_b"), col("text").as("tb"),
        col("n_chars").as("nb"))
      a.join(b, col("doc_b") === col("doc_a") + 1)
        .select(col("doc_a"), col("doc_b"),
          levenshtein(col("ta"), col("tb")).as("edit_dist"),
          (lit(1.0) - levenshtein(col("ta"), col("tb")).cast(DoubleType) /
            greatest(col("na"), col("nb")).cast(DoubleType)).as("lev_sim"))
        .orderBy("doc_a")
    },
    // GROUP BY ALL / ORDER BY ALL (Spark 4 ≡ DuckDB dialect surface).
    "a17_group_by_all" -> { (spark, dir) =>
      Tables.lineitem(spark, dir).createOrReplaceTempView("li_gba")
      spark.sql(
        """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items,
          |  CAST(SUM(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) AS sum_qty
          |FROM li_gba GROUP BY ALL ORDER BY ALL""".stripMargin)
    },
    // nth_value / first_value / last_value over a full-partition frame.
    // The full-frame window form sorts the ENTIRE fact inside 3
    // returnflag partitions however many cores exist (the a18/a12
    // lesson — VERDICT r11 #4 profiled it as a whole-partition sort
    // buffer); but over a constant frame these three window functions
    // are order STATISTICS: first_value ≡ min(price), last_value ≡
    // max(price) (the frame order's FIRST sort key is the price), and
    // nth_value(2) ≡ the group's 2nd-smallest price (duplicates count),
    // i.e. the rank-2 row of the bottom-2 — which the row_number+filter
    // idiom plans as the bounded-heap TopKPerKey operator: per-partition
    // 2-element heaps + one tiny exchange, no full sort anywhere. min /
    // max ride the same narrow scan with map-side partials. The oracle
    // keeps the window form, pinning the rewrite to the standard's
    // semantics (4.98 s → ~0.5 s at sf1.0).
    "w6_nth_value" -> { (spark, dir) =>
      val li = Tables.lineitem(spark, dir)
        .select(col("l_returnflag"), col("l_extendedprice"),
          col("l_orderkey"), col("l_linenumber"))
      val w = Window.partitionBy("l_returnflag")
        .orderBy(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
      val bottom2 = li.withColumn("rn", row_number().over(w))
        .where(col("rn") <= 2)
        .groupBy("l_returnflag")
        .agg(
          max(when(col("rn") === 1, col("l_extendedprice"))).as("lowest"),
          max(when(col("rn") === 2, col("l_extendedprice"))).as("second_lowest"))
      val hi = li.groupBy("l_returnflag")
        .agg(max(col("l_extendedprice")).as("highest"))
      bottom2.join(hi, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("lowest"), col("second_lowest"),
          col("highest"))
        .orderBy("l_returnflag")
    },
    // String-function surface over customer names.
    "p10_string_funcs" -> { (spark, dir) =>
      Tables.customer(spark, dir).selectExpr(
        "c_custkey",
        "lpad(c_name, 25, '*') AS padded",
        "reverse(c_name) AS rev",
        "left(c_name, 8) AS l8",
        "right(c_name, 6) AS r6",
        "translate(c_name, '#', '-') AS tr",
        "repeat(c_mktsegment, 2) AS seg2",
      ).orderBy("c_custkey")
    },
    // Recursive CTE (Spark 4) — transitive closure over the consecutive-
    // pair near-dup chain graph, the same clustering d6 computes with
    // pointer jumping. Anchor = chain heads (no incoming edge); step
    // follows edges forward carrying the root. Both engines run the
    // recursion natively.
    "r1_recursive_closure" -> { (spark, dir) =>
      val docs = Tables.documentsParallel(spark, dir)
      // The recursion re-evaluates its referenced plans every step;
      // checkpoint the loop-invariant edge set once (tiny: ≤ one row per
      // doc) instead of recomputing the bigram join per iteration.
      Dedup.consecutiveBigramEdges(docs, minJaccard = 0.05)
        .localCheckpoint(eager = true)
        .createOrReplaceTempView("edges_r1")
      docs.select(col("doc_id")).createOrReplaceTempView("docs_r1")
      spark.sql(
        """WITH RECURSIVE r(doc_id, cluster_root) AS (
          |  SELECT d.doc_id, d.doc_id FROM docs_r1 d
          |  WHERE NOT EXISTS (SELECT 1 FROM edges_r1 e WHERE e.doc_b = d.doc_id)
          |  UNION ALL
          |  SELECT e.doc_b, r.cluster_root
          |  FROM r JOIN edges_r1 e ON e.doc_a = r.doc_id
          |)
          |SELECT doc_id, cluster_root FROM r ORDER BY doc_id""".stripMargin)
    },
    // WEIGHTED transitive closure — the bill-of-materials explosion r1's
    // unweighted reachability can't express: effective quantity of every
    // part in root 1's subtree is the PRODUCT of edge quantities along
    // the path. The part-key halving tree (child → child div 2, qty =
    // child mod 3 + 1) is a deterministic DAG both engines derive from
    // the same table; the recursion carries exact integer products
    // (≤ 3^depth · Σ — inside BIGINT beyond 10^7 parts), and the census
    // rolls up per depth. Both engines run the recursion natively; the
    // loop-invariant edge set checkpoints once, as in r1.
    "r2_bom_explosion" -> { (spark, dir) =>
      Tables.part(spark, dir).where(col("p_partkey") >= 2)
        .select(col("p_partkey").as("child"),
          expr("p_partkey div 2").as("parent"),
          (col("p_partkey") % 3 + 1).as("qty"))
        .localCheckpoint(eager = true)
        .createOrReplaceTempView("bom_edges_r2")
      spark.sql(
        """WITH RECURSIVE bom(node, eff_qty, depth) AS (
          |  SELECT child, qty, 1 FROM bom_edges_r2 WHERE parent = 1
          |  UNION ALL
          |  SELECT e.child, b.eff_qty * e.qty, b.depth + 1
          |  FROM bom b JOIN bom_edges_r2 e ON e.parent = b.node
          |)
          |SELECT depth, COUNT(*) AS n_nodes, SUM(eff_qty) AS sum_eff_qty
          |FROM bom GROUP BY depth ORDER BY depth""".stripMargin)
    },

    // Bounded-round synchronous label propagation — the OTHER community
    // primitive next to d6's run-to-convergence pointer jumping: every
    // round each node takes the MIN label over itself and its neighbors,
    // for exactly K=4 rounds. Fixed rounds means fixed cost (K scans of
    // a checkpointed edge list — no convergence test, no long lineage),
    // which is how label propagation is actually scheduled on a
    // 100 TB graph; the oracle unrolls the same 4 rounds in SQL.
    "lp1_label_propagation" -> { (spark, dir) =>
      val docs = Tables.documentsParallel(spark, dir)
      val edges = Dedup.consecutiveBigramEdges(docs, minJaccard = 0.05)
        .localCheckpoint(eager = true)
      GraphOps.minLabelRounds(docs.select(col("doc_id").as("v")), edges, k = 4)
        .groupBy("lab")
        .agg(count(lit(1)).as("n_members"),
          min(col("v")).as("min_doc"), max(col("v")).as("max_doc"))
        .orderBy("lab")
    },

    // EXACT Newman modularity of lp1's communities — the quality score
    // that says whether a partition is better than chance, the metric
    // every community-detection loop optimizes. The float definition
    // Q = Σ_c (e_c/m − (d_c/2m)²) cross-multiplies to the integer
    // Q·4m² = Σ_c (4m·e_c − d_c²), so the whole score is ONE BIGINT
    // plus one trailing division — a modularity both engines agree on
    // bit for bit, which float-summed per-community terms never would.
    // Scale shape: one degree aggregate + one both-endpoints label join
    // over the edge list; the per-community relation is |communities|
    // rows. (4m·e_c ≤ 4m² — upgrade to DECIMAL(38,0) past ~10^9 edges.)
    "mod1_community_modularity" -> { (spark, dir) =>
      val docs = Tables.documentsParallel(spark, dir)
      val edges = Dedup.consecutiveBigramEdges(docs, minJaccard = 0.05)
        .localCheckpoint(eager = true) // reused by 4 LP rounds + e_c + deg
      val labels = GraphOps
        .minLabelRounds(docs.select(col("doc_id").as("v")), edges, k = 4)
      // (minLabelRounds returns an eagerly-pinned relation since r16 —
      // the three join consumers scan a ready RDD without a second pin)
      val mrel = edges.agg(count(lit(1)).as("m"))
      val deg = edges.select(col("doc_a").as("v"))
        .unionAll(edges.select(col("doc_b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("deg"))
      val dc = labels.join(deg, Seq("v"), "left")
        .groupBy("lab").agg(sum(coalesce(col("deg"), lit(0L))).as("d_c"))
      val ec = edges
        .join(labels.select(col("v").as("doc_a"), col("lab").as("la")),
          Seq("doc_a"))
        .join(labels.select(col("v").as("doc_b"), col("lab").as("lb")),
          Seq("doc_b"))
        .where(col("la") === col("lb"))
        .select(col("la").as("lab"))
        .groupBy("lab").agg(count(lit(1)).as("e_c"))
      dc.join(ec, Seq("lab"), "left")
        .select(col("d_c"), coalesce(col("e_c"), lit(0L)).as("e_c"))
        .crossJoin(broadcast(mrel))
        .agg(count(lit(1)).as("n_communities"), max(col("m")).as("m"),
          sum(lit(4L) * col("m") * col("e_c") - col("d_c") * col("d_c"))
            .as("q_num"))
        .select(col("n_communities"), col("m"), col("q_num"),
          (col("q_num").cast(DoubleType) /
            (lit(4.0) * col("m").cast(DoubleType) * col("m").cast(DoubleType)))
            .as("modularity"))
    },
    // Sweep-line interval census — "how many orders are OPEN on each
    // day" without expanding order×day (an order spans years; row-per-
    // day explodes 1000×): each order contributes +1 at open and −1
    // after close, deltas collapse per boundary day, and one running
    // sum over the BOUNDARY-DAY relation (bounded by distinct calendar
    // days, never order count) yields the concurrency curve. The
    // complement to x12's interval-overlap join.
    "iv1_open_orders_census" -> { (spark, dir) =>
      val spans = Tables.lineitem(spark, dir)
        .groupBy("l_orderkey")
        .agg(max(to_date(col("l_shipdate"))).as("close"))
        .join(Tables.orders(spark, dir)
          .select(col("o_orderkey"), to_date(col("o_orderdate")).as("open")),
          col("o_orderkey") === col("l_orderkey"))
      val deltas = spans.select(col("open").as("d"), lit(1L).as("delta"))
        .unionByName(spans.select(date_add(col("close"), 1).as("d"),
          lit(-1L).as("delta")))
        .groupBy("d").agg(sum(col("delta")).as("net"))
      val w = Window.orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      deltas
        .withColumn("open_orders", sum(col("net")).over(w))
        .select("d", "net", "open_orders")
        .orderBy("d")
    },

    // Existential flag projection (the MARK JOIN shape): EXISTS in the
    // SELECT list, not the WHERE — every customer row survives, carrying
    // has_order / has_big_order booleans. Spark decorrelates each
    // subquery to a left-semi-style existence join; the distinct key
    // sets are dimension-sized and the fact table is touched once per
    // flag with map-side distinct partials.
    "j13_mark_join" -> { (spark, dir) =>
      Tables.customer(spark, dir).createOrReplaceTempView("customer_j13")
      Tables.orders(spark, dir).createOrReplaceTempView("orders_j13")
      spark.sql(
        """SELECT c_custkey,
          |  EXISTS(SELECT 1 FROM orders_j13 o
          |         WHERE o.o_custkey = c.c_custkey) AS has_order,
          |  EXISTS(SELECT 1 FROM orders_j13 o
          |         WHERE o.o_custkey = c.c_custkey
          |           AND o.o_totalprice > 150000) AS has_big_order
          |FROM customer_j13 c
          |ORDER BY c_custkey""".stripMargin)
    },

    // Rolling 7-day distinct actives (the DAU/WAU board metric): sliding
    // COUNT(DISTINCT) doesn't decompose over window frames, so the scale
    // shape is expand-then-group — each distinct (user, day) contributes
    // to its 7 covering days (bounded ×7 fanout of the DISTINCT pair
    // relation, not the raw stream), then one distinct-count per day.
    // Reported days are restricted to observed days.
    "w12_rolling_dau" -> { (spark, dir) =>
      val ud = Tables.events(spark, dir)
        .select(col("user_id"), to_date(col("ts_sec")).as("day"))
        .distinct()
        .localCheckpoint(eager = true) // feeds both the expansion and obs
      val expanded = ud
        .select(col("user_id"),
          explode(sequence(lit(0), lit(6))).as("off"), col("day"))
        .select(col("user_id"), date_add(col("day"), col("off")).as("d"))
      val obs = ud.select(col("day").as("d")).distinct()
      expanded.join(obs, Seq("d"))
        .groupBy("d")
        .agg(countDistinct(col("user_id")).as("dau7"))
        .orderBy("d")
    },

    // Sequence-pattern matching per user (MATCH_RECOGNIZE-lite): each
    // user's event history becomes one compact symbol string (first
    // letter per event, (ts, event_id)-ordered — deterministic on both
    // engines), and funnel patterns are REGEXES over it: 'v[^p]*p' =
    // view converting to purchase with no purchase in between
    // (non-overlapping leftmost matches — identical semantics in Spark's
    // regexp_count and DuckDB's regexp_extract_all). Per-user state is
    // bounded by that user's event count — the sessionization
    // assumption every engine's pattern matcher already makes; nothing
    // global, one groupBy.
    "seq1_event_pattern" -> { (spark, dir) =>
      Tables.events(spark, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          substring(col("event_type"), 1, 1).as("sym"))
        .groupBy("user_id")
        .agg(array_join(transform(
          sort_array(collect_list(struct(col("ts"), col("event_id"), col("sym")))),
          s => s.getField("sym")), "").as("seq"))
        .select(
          col("user_id"),
          length(col("seq")).as("seq_len"),
          expr("regexp_count(seq, 'v[^p]*p')").as("n_funnels"),
          col("seq").rlike("p[^v]*e").as("error_after_purchase"))
        .orderBy("user_id")
    },

    // Bounded-round weighted shortest paths (Bellman-Ford schedule):
    // exact ≤4-hop distances from doc 0 over the bigram-similarity
    // graph with deterministic integer weights — the distributed SSSP
    // shape next to lp1's label propagation and bfs1's unweighted hops.
    // The oracle unrolls the same 4 relaxation rounds.
    "sssp1_bounded_paths" -> { (spark, dir) =>
      val docs = Tables.documentsParallel(spark, dir)
      val edges = GraphOps.termCooccurrenceEdges(docs, topK = 40, minCo = 5L)
        .select(col("ta").as("doc_a"), col("tb").as("doc_b"),
          (lit(1L) + (length(col("ta")) + length(col("tb"))) % 7).as("w"))
        .localCheckpoint(eager = true)
      val nodes = edges.select(col("doc_a").as("v"))
        .unionByName(edges.select(col("doc_b").as("v"))).distinct()
        .localCheckpoint(eager = true) // feeds init + the source scalar
      // source = lexicographically-smallest node (1-row bounded scalar,
      // same pattern as personalized PageRank's seed)
      val src = nodes.crossJoin(broadcast(nodes.agg(min(col("v")).as("s"))))
      GraphOps.boundedSssp(src.select(col("v"), col("s")), edges,
          k = 4, isSource = col("v") === col("s"))
        .where(col("d") < GraphOps.SsspInf)
        .orderBy("v")
    },

    // Cross join (explicit Cartesian surface).
    "j9_cross_join" -> { (spark, dir) =>
      Tables.region(spark, dir).select("r_name")
        .crossJoin(Tables.nation(spark, dir).select("n_name"))
        .orderBy("r_name", "n_name")
    },
    // NOT IN subquery — the null-aware anti join operator.
    "j10_not_in" -> { (spark, dir) =>
      Tables.customer(spark, dir).createOrReplaceTempView("customer_j10")
      Tables.nation(spark, dir).createOrReplaceTempView("nation_j10")
      spark.sql(
        """SELECT c_custkey, c_nationkey FROM customer_j10
          |WHERE c_nationkey NOT IN
          |  (SELECT n_nationkey FROM nation_j10 WHERE n_regionkey IN (2, 3))
          |ORDER BY c_custkey""".stripMargin)
    },
    // Trimmed mean (5%..95%): robust aggregation by rank bounds — the
    // same exact-integer rank arithmetic as a12, decimal-exact sum, one
    // double division written identically on both engines.
    //
    // Rank selection is Packing.groupRank, not `row_number() OVER
    // (PARTITION BY l_returnflag)`: the flag has 3 distinct values, so
    // the window form sorts the entire fact on 3 tasks no matter the
    // cluster size. Tie order inside equal prices cannot change the
    // aggregate (tied rows straddling a bound contribute identical
    // values either way), so the result is hash-identical to the window
    // form and to the oracle.
    "a18_trimmed_mean" -> { (spark, dir) =>
      val base = Tables.lineitem(spark, dir)
        .select(col("l_returnflag"), col("l_extendedprice"),
          (col("l_orderkey") * lit(8L) + col("l_linenumber")).as("__tb"))
      graft.operators.Packing.groupRank(base, "l_returnflag",
          Seq(col("l_extendedprice"), col("__tb")))
        .where(col("rn") > expr("(5L * n) div 100L") &&
          col("rn") <= expr("(95L * n) div 100L"))
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n_kept"),
          (sum(col("l_extendedprice").cast(DecimalType(20, 4))).cast(DoubleType) /
            count(lit(1))).as("trimmed_mean"),
        )
        .orderBy("l_returnflag")
    },
    // Higher-order-function surface over array columns: filter/transform/
    // aggregate/exists stay inside codegen (no UDFs). Quantized exact-
    // integer arithmetic keeps every output engine-portable.
    "h1_hof_surface" -> { (spark, dir) =>
      val q = VectorMath.quantizeArray(col("embedding"))
      Tables.embeddings(spark, dir)
        .select(
          col("vec_id"),
          size(filter(col("embedding"), x => x > lit(0.0f))).as("n_pos"),
          // NULL for empty arrays, matching DuckDB list_sum([]) = NULL
          when(size(col("embedding")) > 0,
            aggregate(q, lit(0L), (acc, x) => acc + x)).as("q_sum"),
          array_max(q).as("q_max"),
          exists(col("embedding"), x => x < lit(-0.5f)).as("has_strong_neg"),
        )
        .orderBy("vec_id")
    },
    // Count-Min sketch over the portable hash family: d=4 rows × w=64
    // buckets of event counts per user, plus the point estimate next to
    // the true count (cms1 is the 4×256 sibling). Construction is exact
    // integer arithmetic, so the sketch itself is oracle-verifiable.
    "cm1_countmin" -> { (spark, dir) =>
      Dedup.countMin(Tables.events(spark, dir), "user_id", depth = 4, width = 64)
        .select(col("user_id"), col("n").as("true_n"), col("est").as("cm_est"))
        .orderBy("user_id")
    },
    // Multimodal frame sampling plumbing: the binary payload is cut into
    // fixed 32-byte frames at a 16-byte stride and each frame digested —
    // the deterministic skeleton a video frame-sampler / audio chunker
    // drops its codec into. Framing happens on the hex encoding because
    // that is the representation both engines can slice identically.
    "m3_frame_digests" -> { (spark, dir) =>
      Multimodal.asMediaRecords(Tables.documentsParallel(spark, dir))
        .select(col("doc_id"), hex(col("payload")).as("hx"),
          octet_length(col("payload")).as("nb"))
        .where(col("nb") >= 32)
        .select(col("doc_id"), col("nb"),
          explode(sequence(lit(0L), expr("(nb - 32) div 16"))).as("frame_idx"),
          col("hx"))
        .select(col("doc_id"), col("frame_idx"),
          md5(expr("substring(hx, CAST(frame_idx * 32 + 1 AS INT), 64)"))
            .as("frame_digest"))
        .orderBy("doc_id", "frame_idx")
    },
    // Cross-document duplicated spans: 32-char windows (stride 8) hashed
    // per document; a window is "duplicated" when the same hash occurs in
    // ≥ 2 distinct documents. Positions explode from a cheap integer
    // sequence; the substring+md5 evaluate per exploded row (post-shuffle).
    "sd1_dup_spans" -> { (spark, dir) =>
      // wins feeds both the per-hash doc counts and the join probe; pin it
      // once (doc_id + 32-hex digest ≈ 40 B/row) so the scan + substring
      // + md5 pipeline doesn't execute twice.
      val wins = Tables.documentsParallel(spark, dir)
        .where(col("n_chars") >= 32)
        .select(col("doc_id"), col("text"),
          graft.operators.Contamination.asciiBin(col("text")).as("__bin"),
          explode(sequence(lit(1L), col("n_chars") - 31, lit(8L))).as("p"))
        .select(col("doc_id"),
          md5(graft.operators.Contamination.sliceBytes(
            col("__bin"), col("text"), col("p"), 32)).as("h"))
        .localCheckpoint(eager = true)
      val byHash = wins.groupBy("h")
        .agg(countDistinct(col("doc_id")).as("nd"))
      wins.join(byHash, Seq("h"))
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_windows"),
          sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_dup_windows"),
        )
        .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
          (col("n_dup_windows").cast(DoubleType) / col("n_windows")).as("dup_ratio"))
        .orderBy("doc_id")
    },
  )

  val oracles: Map[String, String] = Map(
    "ts1_gapfill" ->
      """WITH hourly AS (
        |  SELECT user_id, date_trunc('hour', date_trunc('second', ts)) AS hr,
        |    COUNT(*) AS n_events,
        |    CAST(SUM(CAST(value AS DECIMAL(20,4))) AS DOUBLE) AS v
        |  FROM events GROUP BY 1, 2
        |), b AS (
        |  SELECT user_id, min(hr) AS mn, max(hr) AS mx FROM hourly GROUP BY 1
        |), spine AS (
        |  SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hr FROM b
        |)
        |SELECT s.user_id, s.hr, COALESCE(h.n_events, 0) AS n_events,
        |  last_value(h.v IGNORE NULLS)
        |    OVER (PARTITION BY s.user_id ORDER BY s.hr) AS v_fill
        |FROM spine s LEFT JOIN hourly h ON h.user_id = s.user_id AND h.hr = s.hr
        |ORDER BY s.user_id, s.hr""".stripMargin,
    "ts2_interpolate" ->
      """WITH hourly AS (
        |  SELECT user_id, date_trunc('hour', date_trunc('second', ts)) AS hr,
        |    CAST(SUM(CAST(value AS DECIMAL(20,4))) AS DOUBLE) AS v
        |  FROM events GROUP BY 1, 2
        |), b AS (
        |  SELECT user_id, min(hr) AS mn, max(hr) AS mx FROM hourly GROUP BY 1
        |), spine AS (
        |  SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hr FROM b
        |), j AS (
        |  SELECT s.user_id, s.hr, CAST(epoch(s.hr) AS BIGINT) AS e, h.v
        |  FROM spine s LEFT JOIN hourly h ON h.user_id = s.user_id AND h.hr = s.hr
        |), w AS (
        |  SELECT user_id, hr, e, v,
        |    last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY hr
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |    last_value(CASE WHEN v IS NOT NULL THEN e END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY hr
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
        |    first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY hr
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |    first_value(CASE WHEN v IS NOT NULL THEN e END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY hr
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
        |  FROM j
        |)
        |SELECT user_id, hr, CAST(v IS NOT NULL AS INTEGER) AS is_actual,
        |  CASE WHEN v IS NOT NULL THEN v
        |       WHEN pv IS NULL THEN nv
        |       WHEN nv IS NULL THEN pv
        |       ELSE pv + (nv - pv) *
        |         (CAST(e - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE)) END AS v_interp
        |FROM w ORDER BY user_id, hr""".stripMargin,
    "w5_time_window" ->
      """WITH ev AS (
        |  SELECT event_id, user_id,
        |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS es,
        |    CAST(value AS DECIMAL(20,4)) AS vdec
        |  FROM events
        |)
        |SELECT event_id, user_id, es,
        |  CAST(COUNT(*) OVER w AS BIGINT) AS mv_n,
        |  CAST(SUM(vdec) OVER w AS DOUBLE) AS mv_sum
        |FROM ev
        |WINDOW w AS (PARTITION BY user_id ORDER BY es
        |             RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "fn1_funnel" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, date_trunc('second', ts) AS ts_sec FROM events
        |), t1 AS (
        |  SELECT user_id, min(ts_sec) AS t1 FROM ev
        |  WHERE event_type = 'view' GROUP BY 1
        |), t2 AS (
        |  SELECT e.user_id, min(e.ts_sec) AS t2
        |  FROM t1 JOIN ev e ON e.user_id = t1.user_id
        |   AND e.event_type = 'click' AND e.ts_sec > t1.t1 GROUP BY 1
        |), t3 AS (
        |  SELECT e.user_id, min(e.ts_sec) AS t3
        |  FROM t2 JOIN ev e ON e.user_id = t2.user_id
        |   AND e.event_type = 'purchase' AND e.ts_sec > t2.t2 GROUP BY 1
        |)
        |SELECT * FROM (
        |  SELECT 1 AS step, 'view' AS event_type, (SELECT COUNT(*) FROM t1) AS n_users
        |  UNION ALL
        |  SELECT 2, 'click', (SELECT COUNT(*) FROM t2)
        |  UNION ALL
        |  SELECT 3, 'purchase', (SELECT COUNT(*) FROM t3)
        |) ORDER BY step""".stripMargin,
    "coh1_retention" ->
      """WITH active AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('second', ts) AS DATE) AS day
        |  FROM events
        |), cohort AS (
        |  SELECT user_id, min(day) AS cohort_day FROM active GROUP BY 1
        |)
        |SELECT c.cohort_day,
        |  CAST(date_diff('day', c.cohort_day, a.day) AS INTEGER) AS day_offset,
        |  COUNT(*) AS n_active
        |FROM active a JOIN cohort c ON a.user_id = c.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "cd1_cum_users" ->
      """WITH fd AS (
        |  SELECT user_id, min(CAST(date_trunc('second', ts) AS DATE)) AS day
        |  FROM events GROUP BY 1
        |), daily AS (
        |  SELECT day, COUNT(*) AS new_users FROM fd GROUP BY 1
        |)
        |SELECT day, new_users,
        |  CAST(SUM(new_users) OVER (ORDER BY day) AS BIGINT) AS cum_users
        |FROM daily ORDER BY day""".stripMargin,
    "a14_listagg" ->
      """SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "a15_bitbool" ->
      """SELECT l_returnflag,
        |  bit_and(l_linenumber) AS lines_band,
        |  bit_or(l_linenumber) AS lines_bor,
        |  bit_xor(l_orderkey) AS orders_bxor,
        |  bool_and(l_quantity > 0) AS all_qty_pos,
        |  bool_or(l_discount > 0.06) AS any_high_disc
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    // same cross-multiplied half-total rank over the grouped value axis
    "a23_weighted_median" ->
      """WITH g AS (
        |  SELECT l_returnflag,
        |    CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
        |  FROM lineitem GROUP BY 1, 2
        |), c AS (
        |  SELECT l_returnflag, cents,
        |    CAST(SUM(w) OVER (PARTITION BY l_returnflag ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cumw,
        |    CAST(SUM(w) OVER (PARTITION BY l_returnflag) AS BIGINT) AS totw
        |  FROM g
        |)
        |SELECT l_returnflag,
        |  CAST(MIN(cents) AS BIGINT) AS wmed_cents,
        |  CAST(MAX(totw) AS BIGINT) AS total_qty
        |FROM c WHERE cumw * 2 >= totw
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "a16_median_mode" ->
      """WITH cnts AS (
        |  SELECT l_returnflag, CAST(floor(l_quantity) AS BIGINT) AS qty,
        |    COUNT(*) AS cnt
        |  FROM lineitem GROUP BY 1, 2
        |), md AS (
        |  SELECT l_returnflag, median(l_quantity) AS median_qty
        |  FROM lineitem GROUP BY 1
        |), mo AS (
        |  SELECT l_returnflag,
        |    arg_max(qty, cnt * 10000 + (10000 - qty)) AS mode_qty
        |  FROM cnts GROUP BY 1
        |)
        |SELECT md.l_returnflag, md.median_qty, mo.mode_qty
        |FROM md JOIN mo USING (l_returnflag) ORDER BY 1""".stripMargin,
    "j8_snowflake_join" ->
      """SELECT n.n_name,
        |  CAST(SUM(CAST(
        |    CAST(floor(l.l_extendedprice * 100) AS BIGINT) *
        |    (10000 - CAST(floor(l.l_discount * 10000) AS BIGINT))
        |  AS HUGEINT)) AS DOUBLE) / 1000000.0 AS revenue
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  AND c.c_nationkey = s.s_nationkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name = 'ASIA'
        |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin,
    "lat1_lateral_topn" ->
      """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        |FROM customer c, LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
        |) t
        |ORDER BY c_custkey, o_orderkey""".stripMargin,
    "sub1_correlated" ->
      """SELECT c_custkey, c_acctbal,
        |  CASE WHEN NOT EXISTS (SELECT 1 FROM orders o
        |                        WHERE o.o_custkey = c.c_custkey)
        |       THEN 1 ELSE 0 END AS no_orders
        |FROM customer c
        |WHERE CAST(c_acctbal AS DECIMAL(20,4)) *
        |      (SELECT COUNT(*) FROM customer c2
        |       WHERE c2.c_nationkey = c.c_nationkey)
        |    > (SELECT SUM(CAST(c3.c_acctbal AS DECIMAL(20,4)))
        |       FROM customer c3 WHERE c3.c_nationkey = c.c_nationkey)
        |ORDER BY c_custkey""".stripMargin,
    "p9_regexp_extract" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[0-9]+')) AS INTEGER) AS n_numbers,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS INTEGER) AS n_words,
        |  regexp_extract(text, '[0-9]+') AS first_number
        |FROM documents ORDER BY doc_id""".stripMargin,
    "d8_minhash_portable" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, unnest(list_transform(
        |    generate_series(1, len(w) - 2),
        |    i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS s
        |  FROM toks WHERE len(w) >= 3
        |), hs AS (
        |  SELECT doc_id, CAST(g.i AS INTEGER) AS h_idx,
        |    ((g.i * 2 + 1) * 1103515245 % 2147483647
        |      * (('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647)
        |      + g.i) % 2147483647 AS h
        |  FROM sh, UNNEST(generate_series(0, 15)) AS g(i)
        |)
        |SELECT doc_id, h_idx, min(h) AS min_hash
        |FROM hs GROUP BY 1, 2 ORDER BY doc_id, h_idx""".stripMargin,
    "smp3_weighted_sample" ->
      s"""SELECT doc_id, n_chars,
         |  CAST(('0x' || substr(md5('smp3:' || doc_id), 1, 15))::BIGINT AS DOUBLE)
         |    / $P60 AS sample_u,
         |  least(CAST(n_chars AS DOUBLE) / 600.0, 1.0) AS keep_w
         |FROM documents
         |WHERE CAST(('0x' || substr(md5('smp3:' || doc_id), 1, 15))::BIGINT AS DOUBLE)
         |    / $P60
         |  < least(CAST(n_chars AS DOUBLE) / 600.0, 1.0)
         |ORDER BY doc_id""".stripMargin,
    "r2_bom_explosion" ->
      """WITH RECURSIVE e AS (
        |  SELECT p_partkey AS child, p_partkey // 2 AS parent,
        |    CAST(p_partkey % 3 + 1 AS BIGINT) AS qty
        |  FROM part WHERE p_partkey >= 2
        |), bom(node, eff_qty, depth) AS (
        |  SELECT child, qty, 1 FROM e WHERE parent = 1
        |  UNION ALL
        |  SELECT e.child, bom.eff_qty * e.qty, bom.depth + 1
        |  FROM bom JOIN e ON e.parent = bom.node
        |)
        |SELECT depth, COUNT(*) AS n_nodes,
        |  CAST(SUM(eff_qty) AS BIGINT) AS sum_eff_qty
        |FROM bom GROUP BY depth ORDER BY depth""".stripMargin,
    "r1_recursive_closure" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM documents
        |), grams AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, len(w) - 1), i -> w[i] || ' ' || w[i + 1])) AS bg
        |  FROM toks WHERE len(w) >= 2
        |), edges AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM grams a JOIN grams b ON b.doc_id = a.doc_id + 1
        |  WHERE CAST(len(list_intersect(a.bg, b.bg)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.bg, b.bg))) >= 0.05
        |), r(doc_id, cluster_root) AS (
        |  SELECT d.doc_id, d.doc_id FROM documents d
        |  WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.doc_b = d.doc_id)
        |  UNION ALL
        |  SELECT e.doc_b, r.cluster_root
        |  FROM r JOIN edges e ON e.doc_a = r.doc_id
        |)
        |SELECT doc_id, cluster_root FROM r ORDER BY doc_id""".stripMargin,
    "lp1_label_propagation" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM documents
        |), grams AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, len(w) - 1), i -> w[i] || ' ' || w[i + 1])) AS bg
        |  FROM toks WHERE len(w) >= 2
        |), edges AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM grams a JOIN grams b ON b.doc_id = a.doc_id + 1
        |  WHERE CAST(len(list_intersect(a.bg, b.bg)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.bg, b.bg))) >= 0.05
        |), l0 AS (SELECT doc_id AS v, doc_id AS lab FROM documents),
        |l1 AS (SELECT v, MIN(lab) AS lab FROM (
        |  SELECT v, lab FROM l0
        |  UNION ALL SELECT e.doc_a AS v, l.lab FROM edges e JOIN l0 l ON l.v = e.doc_b
        |  UNION ALL SELECT e.doc_b AS v, l.lab FROM edges e JOIN l0 l ON l.v = e.doc_a
        |) GROUP BY v),
        |l2 AS (SELECT v, MIN(lab) AS lab FROM (
        |  SELECT v, lab FROM l1
        |  UNION ALL SELECT e.doc_a AS v, l.lab FROM edges e JOIN l1 l ON l.v = e.doc_b
        |  UNION ALL SELECT e.doc_b AS v, l.lab FROM edges e JOIN l1 l ON l.v = e.doc_a
        |) GROUP BY v),
        |l3 AS (SELECT v, MIN(lab) AS lab FROM (
        |  SELECT v, lab FROM l2
        |  UNION ALL SELECT e.doc_a AS v, l.lab FROM edges e JOIN l2 l ON l.v = e.doc_b
        |  UNION ALL SELECT e.doc_b AS v, l.lab FROM edges e JOIN l2 l ON l.v = e.doc_a
        |) GROUP BY v),
        |l4 AS (SELECT v, MIN(lab) AS lab FROM (
        |  SELECT v, lab FROM l3
        |  UNION ALL SELECT e.doc_a AS v, l.lab FROM edges e JOIN l3 l ON l.v = e.doc_b
        |  UNION ALL SELECT e.doc_b AS v, l.lab FROM edges e JOIN l3 l ON l.v = e.doc_a
        |) GROUP BY v)
        |SELECT lab, COUNT(*) AS n_members,
        |  MIN(v) AS min_doc, MAX(v) AS max_doc
        |FROM l4 GROUP BY 1 ORDER BY 1""".stripMargin,
    // lp1's unrolled 4-round CTEs, then Q·4m² = Σ_c (4m·e_c − d_c²)
    "mod1_community_modularity" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM documents
        |), grams AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, len(w) - 1), i -> w[i] || ' ' || w[i + 1])) AS bg
        |  FROM toks WHERE len(w) >= 2
        |), edges AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM grams a JOIN grams b ON b.doc_id = a.doc_id + 1
        |  WHERE CAST(len(list_intersect(a.bg, b.bg)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.bg, b.bg))) >= 0.05
        |), l0 AS (SELECT doc_id AS v, doc_id AS lab FROM documents),
        |l1 AS (SELECT v, MIN(lab) AS lab FROM (
        |  SELECT v, lab FROM l0
        |  UNION ALL SELECT e.doc_a AS v, l.lab FROM edges e JOIN l0 l ON l.v = e.doc_b
        |  UNION ALL SELECT e.doc_b AS v, l.lab FROM edges e JOIN l0 l ON l.v = e.doc_a
        |) GROUP BY v),
        |l2 AS (SELECT v, MIN(lab) AS lab FROM (
        |  SELECT v, lab FROM l1
        |  UNION ALL SELECT e.doc_a AS v, l.lab FROM edges e JOIN l1 l ON l.v = e.doc_b
        |  UNION ALL SELECT e.doc_b AS v, l.lab FROM edges e JOIN l1 l ON l.v = e.doc_a
        |) GROUP BY v),
        |l3 AS (SELECT v, MIN(lab) AS lab FROM (
        |  SELECT v, lab FROM l2
        |  UNION ALL SELECT e.doc_a AS v, l.lab FROM edges e JOIN l2 l ON l.v = e.doc_b
        |  UNION ALL SELECT e.doc_b AS v, l.lab FROM edges e JOIN l2 l ON l.v = e.doc_a
        |) GROUP BY v),
        |l4 AS (SELECT v, MIN(lab) AS lab FROM (
        |  SELECT v, lab FROM l3
        |  UNION ALL SELECT e.doc_a AS v, l.lab FROM edges e JOIN l3 l ON l.v = e.doc_b
        |  UNION ALL SELECT e.doc_b AS v, l.lab FROM edges e JOIN l3 l ON l.v = e.doc_a
        |) GROUP BY v),
        |mrel AS (SELECT COUNT(*) AS m FROM edges),
        |deg AS (
        |  SELECT v, COUNT(*) AS deg FROM (
        |    SELECT doc_a AS v FROM edges UNION ALL SELECT doc_b FROM edges
        |  ) GROUP BY 1
        |), dc AS (
        |  SELECT l.lab, CAST(SUM(COALESCE(d.deg, 0)) AS BIGINT) AS d_c
        |  FROM l4 l LEFT JOIN deg d ON d.v = l.v GROUP BY 1
        |), ec AS (
        |  SELECT la.lab, COUNT(*) AS e_c
        |  FROM edges e JOIN l4 la ON la.v = e.doc_a
        |    JOIN l4 lb ON lb.v = e.doc_b AND lb.lab = la.lab
        |  GROUP BY 1
        |), per AS (
        |  SELECT dc.d_c, COALESCE(ec.e_c, 0) AS e_c, mrel.m
        |  FROM dc LEFT JOIN ec ON ec.lab = dc.lab CROSS JOIN mrel
        |)
        |SELECT COUNT(*) AS n_communities, MAX(m) AS m,
        |  CAST(SUM(4 * m * e_c - d_c * d_c) AS BIGINT) AS q_num,
        |  CAST(CAST(SUM(4 * m * e_c - d_c * d_c) AS BIGINT) AS DOUBLE)
        |    / (4.0 * CAST(MAX(m) AS DOUBLE) * CAST(MAX(m) AS DOUBLE))
        |    AS modularity
        |FROM per""".stripMargin,
    "iv1_open_orders_census" ->
      """WITH spans AS (
        |  SELECT o.o_orderkey,
        |    CAST(o.o_orderdate AS DATE) AS open,
        |    lc.close
        |  FROM orders o
        |  JOIN (SELECT l_orderkey, MAX(CAST(l_shipdate AS DATE)) AS close
        |        FROM lineitem GROUP BY 1) lc
        |    ON lc.l_orderkey = o.o_orderkey
        |), deltas AS (
        |  SELECT d, CAST(SUM(delta) AS BIGINT) AS net FROM (
        |    SELECT open AS d, 1 AS delta FROM spans
        |    UNION ALL
        |    SELECT close + INTERVAL 1 DAY, -1 FROM spans)
        |  GROUP BY 1
        |)
        |SELECT CAST(d AS DATE) AS d, net,
        |  CAST(SUM(net) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |    AS open_orders
        |FROM deltas ORDER BY d""".stripMargin,
    "j13_mark_join" ->
      """SELECT c_custkey,
        |  EXISTS(SELECT 1 FROM orders o
        |         WHERE o.o_custkey = c.c_custkey) AS has_order,
        |  EXISTS(SELECT 1 FROM orders o
        |         WHERE o.o_custkey = c.c_custkey
        |           AND o.o_totalprice > 150000) AS has_big_order
        |FROM customer c
        |ORDER BY c_custkey""".stripMargin,
    "w12_rolling_dau" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id,
        |    CAST(date_trunc('second', ts) AS DATE) AS day
        |  FROM events
        |), expanded AS (
        |  SELECT user_id, day + CAST(g.o AS INTEGER) AS d
        |  FROM ud, UNNEST(generate_series(0, 6)) AS g(o)
        |), obs AS (SELECT DISTINCT day AS d FROM ud)
        |SELECT d, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau7
        |FROM expanded JOIN obs USING (d)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "seq1_event_pattern" ->
      """WITH seqs AS (
        |  SELECT user_id,
        |    string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
        |      AS seq
        |  FROM events GROUP BY 1
        |)
        |SELECT user_id,
        |  CAST(length(seq) AS INTEGER) AS seq_len,
        |  CAST(len(regexp_extract_all(seq, 'v[^p]*p')) AS INTEGER)
        |    AS n_funnels,
        |  regexp_matches(seq, 'p[^v]*e') AS error_after_purchase
        |FROM seqs ORDER BY user_id""".stripMargin,
    "sssp1_bounded_paths" ->
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
        |  SELECT ta, tb, 1 + (length(ta) + length(tb)) % 7 AS wt FROM (
        |    SELECT a.term AS ta, b.term AS tb
        |    FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.term < b.term
        |    GROUP BY 1, 2 HAVING COUNT(*) >= 5)
        |), nodes AS (
        |  SELECT DISTINCT v FROM (
        |    SELECT ta AS v FROM edges UNION ALL SELECT tb AS v FROM edges)
        |), d0 AS (
        |  SELECT v, CASE WHEN v = (SELECT MIN(v) FROM nodes)
        |    THEN 0 ELSE 1000000000 END AS d
        |  FROM nodes
        |), d1 AS (SELECT v, MIN(d) AS d FROM (
        |  SELECT v, d FROM d0
        |  UNION ALL SELECT e.tb AS v, l.d + e.wt FROM edges e JOIN d0 l ON l.v = e.ta
        |  UNION ALL SELECT e.ta AS v, l.d + e.wt FROM edges e JOIN d0 l ON l.v = e.tb
        |) GROUP BY v),
        |d2 AS (SELECT v, MIN(d) AS d FROM (
        |  SELECT v, d FROM d1
        |  UNION ALL SELECT e.tb AS v, l.d + e.wt FROM edges e JOIN d1 l ON l.v = e.ta
        |  UNION ALL SELECT e.ta AS v, l.d + e.wt FROM edges e JOIN d1 l ON l.v = e.tb
        |) GROUP BY v),
        |d3 AS (SELECT v, MIN(d) AS d FROM (
        |  SELECT v, d FROM d2
        |  UNION ALL SELECT e.tb AS v, l.d + e.wt FROM edges e JOIN d2 l ON l.v = e.ta
        |  UNION ALL SELECT e.ta AS v, l.d + e.wt FROM edges e JOIN d2 l ON l.v = e.tb
        |) GROUP BY v),
        |d4 AS (SELECT v, MIN(d) AS d FROM (
        |  SELECT v, d FROM d3
        |  UNION ALL SELECT e.tb AS v, l.d + e.wt FROM edges e JOIN d3 l ON l.v = e.ta
        |  UNION ALL SELECT e.ta AS v, l.d + e.wt FROM edges e JOIN d3 l ON l.v = e.tb
        |) GROUP BY v)
        |SELECT v, CAST(d AS BIGINT) AS d FROM d4
        |WHERE d < 1000000000 ORDER BY v""".stripMargin,
    "j9_cross_join" ->
      """SELECT r_name, n_name FROM region CROSS JOIN nation
        |ORDER BY r_name, n_name""".stripMargin,
    "j10_not_in" ->
      """SELECT c_custkey, c_nationkey FROM customer
        |WHERE c_nationkey NOT IN
        |  (SELECT n_nationkey FROM nation WHERE n_regionkey IN (2, 3))
        |ORDER BY c_custkey""".stripMargin,
    "a18_trimmed_mean" ->
      """WITH ranked AS (
        |  SELECT l_returnflag, l_extendedprice,
        |    row_number() OVER (PARTITION BY l_returnflag
        |                       ORDER BY l_extendedprice) AS rn,
        |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem
        |)
        |SELECT l_returnflag, COUNT(*) AS n_kept,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,4))) AS DOUBLE)
        |    / COUNT(*) AS trimmed_mean
        |FROM ranked
        |WHERE rn > (5 * n) // 100 AND rn <= (95 * n) // 100
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "h1_hof_surface" ->
      """WITH q AS (
        |  SELECT vec_id, embedding,
        |    list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qe
        |  FROM embeddings
        |)
        |SELECT vec_id,
        |  CAST(len(list_filter(embedding, x -> x > 0.0)) AS INTEGER) AS n_pos,
        |  CAST(list_sum(qe) AS BIGINT) AS q_sum,
        |  list_max(qe) AS q_max,
        |  len(list_filter(embedding, x -> x < -0.5)) > 0 AS has_strong_neg
        |FROM q ORDER BY vec_id""".stripMargin,
    "cm1_countmin" ->
      """WITH ev AS (
        |  SELECT user_id FROM events
        |), cells AS (
        |  SELECT user_id, g.r,
        |    ('0x' || substr(md5(g.r || ':' || user_id), 1, 15))::BIGINT % 64 AS b
        |  FROM ev, UNNEST(generate_series(0, 3)) AS g(r)
        |), sketch AS (
        |  SELECT r, b, COUNT(*) AS cnt FROM cells GROUP BY 1, 2
        |), ub AS (
        |  SELECT DISTINCT user_id, r, b FROM cells
        |), est AS (
        |  SELECT ub.user_id, min(s.cnt) AS cm_est
        |  FROM ub JOIN sketch s ON s.r = ub.r AND s.b = ub.b
        |  GROUP BY 1
        |), truth AS (
        |  SELECT user_id, COUNT(*) AS true_n FROM ev GROUP BY 1
        |)
        |SELECT t.user_id, t.true_n, e.cm_est
        |FROM truth t JOIN est e ON e.user_id = t.user_id
        |ORDER BY t.user_id""".stripMargin,
    "m3_frame_digests" ->
      """WITH m AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |    octet_length(encode(text)) AS nb
        |  FROM documents
        |), f AS (
        |  SELECT doc_id, g.i AS frame_idx, hx
        |  FROM m, UNNEST(generate_series(0, (nb - 32) // 16)) AS g(i)
        |  WHERE nb >= 32
        |)
        |SELECT doc_id, frame_idx,
        |  md5(substr(hx, CAST(frame_idx * 32 + 1 AS INTEGER), 64)) AS frame_digest
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin,
    "d9_levenshtein" ->
      """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(levenshtein(a.text, b.text) AS INTEGER) AS edit_dist,
        |  1.0 - CAST(levenshtein(a.text, b.text) AS DOUBLE) /
        |    CAST(greatest(a.n_chars, b.n_chars) AS DOUBLE) AS lev_sim
        |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |ORDER BY doc_a""".stripMargin,
    "a17_group_by_all" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ALL ORDER BY ALL""".stripMargin,
    "w6_nth_value" ->
      """SELECT DISTINCT l_returnflag,
        |  first_value(l_extendedprice) OVER w AS lowest,
        |  nth_value(l_extendedprice, 2) OVER w AS second_lowest,
        |  last_value(l_extendedprice) OVER w AS highest
        |FROM lineitem
        |WINDOW w AS (PARTITION BY l_returnflag
        |  ORDER BY l_extendedprice, l_orderkey, l_linenumber
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY l_returnflag""".stripMargin,
    "p10_string_funcs" ->
      """SELECT c_custkey,
        |  lpad(c_name, 25, '*') AS padded,
        |  reverse(c_name) AS rev,
        |  left(c_name, 8) AS l8,
        |  right(c_name, 6) AS r6,
        |  translate(c_name, '#', '-') AS tr,
        |  repeat(c_mktsegment, 2) AS seg2
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "sd1_dup_spans" ->
      """WITH wins AS (
        |  SELECT doc_id, md5(substr(text, CAST(g.p AS INTEGER), 32)) AS h
        |  FROM documents, UNNEST(generate_series(1, n_chars - 31, 8)) AS g(p)
        |  WHERE n_chars >= 32
        |), byh AS (
        |  SELECT h, COUNT(DISTINCT doc_id) AS nd FROM wins GROUP BY 1
        |)
        |SELECT w.doc_id, COUNT(*) AS n_windows,
        |  CAST(SUM(CASE WHEN byh.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_windows,
        |  CAST(SUM(CASE WHEN byh.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    / CAST(COUNT(*) AS DOUBLE) AS dup_ratio
        |FROM wins w JOIN byh USING (h)
        |GROUP BY 1 ORDER BY doc_id""".stripMargin,
  )
}
