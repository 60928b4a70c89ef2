package graft.queries

import graft.Tables
import graft.functions.VectorMath
import graft.operators.{Dedup, EventAnalytics, GraphOps, SetSimilarityJoin, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** Round-4 widening: decision-support multi-join rollups (the TPC-H Q5/Q10
  * shapes), market-basket lift, Markov transition matrices, distributed
  * frontier BFS, blocked fuzzy record linkage, lexical diversity, per-group
  * feature standardization, and the prefix-filtered set-similarity join
  * (the lossless alternative to LSH candidate generation).
  *
  * Every query is DuckDB-oracle-gated. Cross-engine float rules as
  * established (SCALE.md): exact integer/decimal accumulators everywhere a
  * sum happens, one identical-shape double expression at the end; revenue
  * uses the j5 integer cents × discount-basis-points encoding so even the
  * top-N cutoffs are bit-identical.
  */
object WorkloadQueries {

  private def revQ = QueryExprs.revQ

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // --- Decision-support rollups ---
    // Q5 shape: six-table snowflake with the "local supplier" constraint
    // (s_nationkey = c_nationkey). Broadcast hints go ONLY on the
    // always-tiny dims (region 5 rows, nation 25): customer, supplier and
    // orders are mid-size at warehouse scale, so their join strategy is
    // left to AQE/statistics — region pre-filters nation, nation
    // pre-filters customer map-side, and lineitem (the one huge relation)
    // shuffles once on l_orderkey. The group-by key is tiny with map-side
    // partials.
    "tq5_local_supplier" -> { (spark, dir) =>
      val r = Tables.region(spark, dir).where(col("r_name") === "EUROPE")
      val n = Tables.nation(spark, dir)
      val nr = broadcast(n.join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name"))
      val c = Tables.customer(spark, dir)
        .join(nr, col("c_nationkey") === col("n_nationkey"))
        .select("c_custkey", "c_nationkey", "n_name")
      val s = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
      val o = Tables.orders(spark, dir)
        .where(expr("o_orderdate >= TIMESTAMP '1998-01-01' AND o_orderdate < TIMESTAMP '2001-01-01'"))
        .select("o_orderkey", "o_custkey")
      val l = Tables.lineitem(spark, dir)
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      c.join(o, col("o_custkey") === col("c_custkey"))
        .join(l, col("l_orderkey") === col("o_orderkey"))
        .join(s,
          col("s_suppkey") === col("l_suppkey") && col("s_nationkey") === col("c_nationkey"))
        .groupBy("n_name")
        .agg(
          (sum(revQ).cast(DoubleType) / 1000000.0).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("n_name"))
    },

    // Q10 shape: returned-item revenue per customer over one year, top 20
    // "problem customers". Only nation (25 rows) carries a broadcast
    // hint; customer⋈orders and orders⋈lineitem are left to AQE. The
    // top-20 cutoff is exact because revenue is the integer encoding.
    "tq10_returned_items" -> { (spark, dir) =>
      val c = Tables.customer(spark, dir)
        .join(broadcast(Tables.nation(spark, dir)),
          col("n_nationkey") === col("c_nationkey"))
        .select("c_custkey", "c_name", "n_name")
      val o = Tables.orders(spark, dir)
        .where(expr("o_orderdate >= TIMESTAMP '1999-01-01' AND o_orderdate < TIMESTAMP '2000-01-01'"))
        .select("o_orderkey", "o_custkey")
      val l = Tables.lineitem(spark, dir).where(col("l_returnflag") === "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
      c.join(o, col("o_custkey") === col("c_custkey"))
        .join(l, col("l_orderkey") === col("o_orderkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
          (sum(revQ).cast(DoubleType) / 1000000.0).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },

    // Q21 shape: the double-correlated EXISTS / NOT EXISTS on the same
    // derived relation ("suppliers who alone delayed a multi-supplier
    // order"). Runs through Spark SQL so Catalyst's decorrelation turns
    // both subqueries into semi/anti joins on l_orderkey — the classic
    // stress case for subquery planning (late = DISTINCT pairs first, so
    // the anti join is against the SMALL derived table, not lineitem).
    "tq21_waiting_supplier" -> { (spark, dir) =>
      Tables.supplier(spark, dir).createOrReplaceTempView("supplier_tq21")
      Tables.orders(spark, dir).createOrReplaceTempView("orders_tq21")
      Tables.lineitem(spark, dir).createOrReplaceTempView("lineitem_tq21")
      spark.sql(
        """WITH late AS (
          |  SELECT DISTINCT l_orderkey, l_suppkey
          |  FROM lineitem_tq21 JOIN orders_tq21 ON o_orderkey = l_orderkey
          |  WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
          |)
          |SELECT s_name, COUNT(*) AS numwait
          |FROM late l1 JOIN supplier_tq21 ON s_suppkey = l1.l_suppkey
          |WHERE EXISTS (
          |    SELECT 1 FROM lineitem_tq21 l2
          |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
          |  AND NOT EXISTS (
          |    SELECT 1 FROM late l3
          |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey)
          |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin)
    },

    // Hierarchical percent-of-parent rollup: nation revenue with its
    // share of region and of total. One exact-cents aggregate (25 rows),
    // then two window sums over the TINY aggregate — never over the
    // fact; shares are double divisions of exact BIGINTs.
    "hr1_hierarchical_share" -> { (spark, dir) =>
      val rev = Tables.orders(spark, dir)
        .join(Tables.customer(spark, dir), col("c_custkey") === col("o_custkey"))
        .join(broadcast(Tables.nation(spark, dir)), col("n_nationkey") === col("c_nationkey"))
        .join(broadcast(Tables.region(spark, dir)), col("r_regionkey") === col("n_regionkey"))
        .groupBy("r_name", "n_name")
        // round, not floor: doubles storing 2-decimal prices can sit just
        // below the true product (910.29*100 = 91028.999…), and floor
        // would systematically drop those cents (SCALE.md §Aggregation)
        .agg(sum(round(col("o_totalprice") * 100).cast(LongType)).as("cents"))
      val wRegion = Window.partitionBy("r_name")
      val wAll = Window.partitionBy()
      rev.select(col("r_name"), col("n_name"),
          (col("cents").cast(DoubleType) / 100.0).as("revenue"),
          (col("cents").cast(DoubleType) /
            sum(col("cents")).over(wRegion).cast(DoubleType)).as("share_of_region"),
          (col("cents").cast(DoubleType) /
            sum(col("cents")).over(wAll).cast(DoubleType)).as("share_of_total"))
        .orderBy("r_name", "n_name")
    },

    // CDC snapshot diff: classify keys across two snapshot views as
    // inserted / deleted / changed / unchanged via ONE full-outer join
    // on the key (one shuffle; the 100 TB shape for diffing table
    // versions — complements x7 upsert and x11 SCD-2).
    "cdc2_snapshot_diff" -> { (spark, dir) =>
      val o = Tables.orders(spark, dir)
      val olds = o.where(col("o_orderkey") % 10 < 7)
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("v"))
      val news = o.where(col("o_orderkey") % 10 >= 3)
        .select(col("o_orderkey").as("k"),
          when(col("o_orderkey") % 3 === 0, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")).as("v"))
      olds.as("o").join(news.as("n"), col("n.k") === col("o.k"), "full_outer")
        .select(
          when(col("o.k").isNull, "inserted")
            .when(col("n.k").isNull, "deleted")
            .when(col("o.v") =!= col("n.v"), "changed")
            .otherwise("unchanged").as("change_type"))
        .groupBy("change_type")
        .agg(count(lit(1)).as("n"))
        .orderBy("change_type")
    },

    // Time-bounded funnel: each step within 6 hours of the previous —
    // the "converted within N hours" semantics unbounded funnels (fn1)
    // silently overstate.
    "fn2_windowed_funnel" -> { (spark, dir) =>
      EventAnalytics.windowedFunnel3(Tables.events(spark, dir),
        "view", "click", "purchase", windowSecs = 21600L)
        .orderBy("step")
    },

    // Integer token-budget apportionment by corpus mass (largest
    // remainder / Hamilton method): exact floor shares + the remainder
    // distributed by fractional rank — sums to the budget EXACTLY, the
    // property a float-weighted allocation cannot guarantee. The rank
    // window runs over |sources| rows, not the corpus.
    "dm3_budget_apportion" -> { (spark, dir) =>
      val budget = 1000000L
      val w = Tables.documents(spark, dir)
        .groupBy("source").agg(sum(col("n_chars")).as("mass"))
      val tot = w.agg(sum(col("mass")).as("t"))
      val ideal = w.crossJoin(broadcast(tot))
        .select(col("source"), col("mass"),
          expr(s"(mass * ${budget}L) div t").as("fl"),
          expr(s"(mass * ${budget}L) % t").as("rem"))
      val rk = Window.orderBy(col("rem").desc, col("source"))
      val leftover = Window.partitionBy()
      ideal
        .select(col("source"), col("mass"), col("fl"), col("rem"),
          row_number().over(rk).as("rk"),
          (lit(budget) - sum(col("fl")).over(leftover)).as("leftover"))
        .select(col("source"), col("mass"),
          (col("fl") + when(col("rk") <= col("leftover"), 1L).otherwise(0L))
            .as("tokens"))
        .orderBy("source")
    },

    // --- Behavioral / sequence analytics ---
    "mb1_cooccurrence" -> { (spark, dir) =>
      EventAnalytics.cooccurrenceLift(Tables.events(spark, dir))
        .orderBy("ta", "tb")
    },
    "markov1_transitions" -> { (spark, dir) =>
      EventAnalytics.transitionMatrix(Tables.events(spark, dir))
        .orderBy("src", "dst")
    },

    // Journey-anomaly readout under the Markov model: each user's
    // traversed transitions score by their CORPUS-WIDE counts (exact
    // BIGINTs — no probability products, no logs): the typicality sum
    // and the weakest-link minimum flag users walking rare paths. The
    // transition model is markov1's own relation (broadcast — it is
    // |event_types|² rows at any stream size); per-user windows only.
    "seq2_journey_anomaly" -> { (spark, dir) =>
      val ev = Tables.events(spark, dir)
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val trans = ev
        .select(col("user_id"), col("event_type"),
          lead(col("event_type"), 1).over(w).as("next_type"))
        .where(col("next_type").isNotNull)
      val model = trans
        .groupBy(col("event_type").as("src"), col("next_type").as("dst"))
        .agg(count(lit(1)).as("n"))
      trans
        .join(broadcast(model),
          col("event_type") === col("src") && col("next_type") === col("dst"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_trans"),
          sum(col("n")).as("typicality_sum"),
          min(col("n")).as("weakest_link"))
        .orderBy("user_id")
    },

    // Forward as-of join: each click attached to the user's NEXT
    // purchase (l.ts <= r.ts) — the time-to-conversion primitive; same
    // one-shuffle union-sort shape as the backward x6.
    // CDC apply (the Debezium-merge shape): a keyed change log with
    // operation + monotone sequence folds to ONE latest op per key
    // (max_by — map-side partial, never a window sort), then applies to
    // the base snapshot as one left join: D drops the row, U rewrites
    // the payload, absent keeps. At scale the log is a day's changes
    // (small) against a 100 TB base — the join broadcasts the folded
    // log, the base never shuffles. The log here derives
    // deterministically from orders so both engines build it bit-equal.
    "cdc3_cdc_apply" -> { (spark, dir) =>
      val log = Tables.orders(spark, dir)
        .select(col("o_custkey").as("c_custkey"),
          col("o_orderkey").as("seq"),
          when(col("o_custkey") % 13 === 0, "D").otherwise("U").as("op"),
          col("o_totalprice").as("new_bal"))
      val latest = log.groupBy("c_custkey")
        .agg(max_by(struct(col("op"), col("new_bal")), col("seq")).as("last"))
        .select(col("c_custkey"), col("last.op").as("op"),
          col("last.new_bal").as("new_bal"))
      Tables.customer(spark, dir)
        .select("c_custkey", "c_name", "c_acctbal")
        .join(broadcast(latest), Seq("c_custkey"), "left")
        .where(col("op").isNull || col("op") =!= "D")
        .select(col("c_custkey"), col("c_name"),
          when(col("op") === "U", floor(col("new_bal") * 100).cast(LongType))
            .otherwise(floor(col("c_acctbal") * 100).cast(LongType))
            .as("bal_cents"))
        .orderBy("c_custkey")
    },

    // Nearest-either-direction as-of: each click matched to its CLOSEST
    // purchase in time, backward or forward, ties to the backward
    // (attribution's "most recent wins") — composed from the two
    // existing one-directional as-ofs (each a union-sort carry, no
    // join explosion), then one equi-join on the left identity to pick
    // the smaller gap. Completes the as-of family: backward (x6),
    // forward (x26), tolerance (x27), nearest (x28).
    "x28_asof_nearest" -> { (spark, dir) =>
      val ev = Tables.events(spark, dir)
      val clicks = ev.where(col("event_type") === "click")
        .select("user_id", "ts", "event_id")
      val purchases = ev.where(col("event_type") === "purchase")
        .select("user_id", "ts", "event_id")
      graft.operators.AsOfJoin.asofNearest(clicks, purchases,
        Seq("user_id"), "ts", "ts", leftId = "event_id", rightId = "event_id")
        .select(col("user_id"), col("event_id"),
          col("nearest_id").as("nearest_purchase"),
          expr("gap div 1000000000").as("gap_sec"))
        .orderBy("user_id", "event_id")
    },

    "x26_asof_forward" -> { (spark, dir) =>
      val ev = Tables.events(spark, dir)
      val clicks = ev.where(col("event_type") === "click")
        .select("user_id", "ts", "event_id")
      val purchases = ev.where(col("event_type") === "purchase")
        .select("user_id", "ts", "event_id")
      graft.operators.AsOfJoin.asofForward(
        clicks, purchases, Seq("user_id"), "ts", "ts", rightPrefix = "purchase_")
        .select(col("user_id"), col("event_id"),
          expr("timestamp_seconds(ts div 1000000000)").as("click_ts"),
          col("purchase_event_id"))
        .orderBy("user_id", "event_id")
    },

    // As-of with a staleness tolerance: the nearest preceding signup
    // only counts within 7 days (market-data max-staleness semantics) —
    // a post-filter on the as-of match, same one-shuffle core.
    "x27_asof_tolerance" -> { (spark, dir) =>
      graft.operators.AsOfJoin
        .priorEventOfType(Tables.events(spark, dir), "click", "signup")
        .where(col("ts") - col("signup_ts") <= lit(7L * 86400L * 1000000000L))
        .select(col("user_id"), col("event_id"), col("signup_event_id"))
        .orderBy("user_id", "event_id")
    },

    // Boolean / conditional aggregate surface: count_if, every, any,
    // plus a DETERMINISTIC any_value stand-in (min) — the grab-bag the
    // SQL spec calls "filtered and boolean aggregates".
    "a22_bool_aggs" -> { (spark, dir) =>
      Tables.lineitem(spark, dir)
        .groupBy("l_returnflag")
        .agg(
          expr("count_if(l_quantity > 25)").as("n_big"),
          expr("every(l_quantity > 0)").as("all_positive"),
          expr("any(l_discount > 0.09)").as("any_deep_discount"),
          min(col("l_orderkey")).as("det_any_order"))
        .orderBy("l_returnflag")
    },

    // Gaps-and-islands: per-user activity streaks via the day − rank
    // anchor trick (one window pass over DISTINCT (user, day), two tiny
    // rollups — never the raw events twice).
    "str1_streaks" -> { (spark, dir) =>
      val days = Tables.events(spark, dir)
        .select(col("user_id"), to_date(col("ts_sec")).as("day"))
        .distinct()
      val w = Window.partitionBy("user_id").orderBy("day")
      val streaks = days
        .select(col("user_id"), col("day"),
          date_sub(col("day"), row_number().over(w)).as("anchor"))
        .groupBy("user_id", "anchor")
        .agg(count(lit(1)).as("len"))
      streaks.groupBy("user_id")
        .agg(max(col("len")).as("max_streak"), count(lit(1)).as("n_streaks"))
        .orderBy("user_id")
    },

    // Pearson cross-correlation between two event-type series. The
    // hourly sums are DECIMAL-exact and quantized to integer 1/10000ths,
    // so every moment (Σc, Σv, Σcv, Σcc, Σvv) accumulates as exact
    // DECIMAL — order-independent — and the correlation is one double
    // formula at the end (the 10^4 scale cancels out of Pearson).
    "ts7_crosscorr" -> { (spark, dir) =>
      val dec = DecimalType(38, 0)
      val hourly = Tables.events(spark, dir)
        .groupBy(date_trunc("hour", col("ts_sec")).as("hr"))
        .agg(
          sum(when(col("event_type") === "click", col("value").cast(DecimalType(20, 4)))).as("cd"),
          sum(when(col("event_type") === "view", col("value").cast(DecimalType(20, 4)))).as("vd"))
        .select(
          coalesce((col("cd") * 10000).cast(LongType), lit(0L)).as("c"),
          coalesce((col("vd") * 10000).cast(LongType), lit(0L)).as("v"))
      val m = hourly.agg(
        count(lit(1)).cast(dec).as("n"),
        sum(col("c").cast(dec)).as("sc"),
        sum(col("v").cast(dec)).as("sv"),
        sum(col("c").cast(dec) * col("v").cast(dec)).as("scv"),
        sum(col("c").cast(dec) * col("c").cast(dec)).as("scc"),
        sum(col("v").cast(dec) * col("v").cast(dec)).as("svv"))
      m.select(
        col("n").cast(LongType).as("n"),
        ((col("n") * col("scv") - col("sc") * col("sv")).cast(DoubleType) /
          (sqrt((col("n") * col("scc") - col("sc") * col("sc")).cast(DoubleType)) *
            sqrt((col("n") * col("svv") - col("sv") * col("sv")).cast(DoubleType))))
          .as("corr_cv"))
    },

    // try_* error-tolerant function surface (the ANSI-mode-safe escape
    // hatches: null-on-error without disabling ANSI globally). The
    // failing-cast rows are ~1% BY DESIGN: try_cast implements
    // null-on-error as catch-the-ANSI-exception, so a column that fails
    // on EVERY row pays exception construction per row — measured 7.5 s
    // vs 0.55 s for the same scan when all 600k casts failed. Error
    // paths must be exceptional to be cheap.
    "f13_try_funcs" -> { (spark, dir) =>
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
          expr("try_divide(l_extendedprice, floor(l_quantity) - 25)").as("div_maybe"),
          expr("""try_cast(CASE WHEN l_orderkey % 100 = 0 THEN l_returnflag
                 ELSE CAST(l_linenumber AS STRING) END AS INT)""").as("flag_int"),
          expr("try_cast(l_linenumber AS STRING)").as("line_str"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // Cross-video shared-frame detection: the frame-digest inverted
    // index (distinct per doc, degenerate digests capped — the same
    // bucket-cap discipline as LSH bands) self-joined to find clip pairs
    // sharing >= 3 frames — the video-dedup candidate generator.
    "m5_shared_frames" -> { (spark, dir) =>
      val fd = graft.operators.Multimodal.frameDigestRows(
        Tables.documentsParallel(spark, dir))
        .select("doc_id", "d").distinct()
        .localCheckpoint(eager = true)
      val ok = fd.join(
        fd.groupBy("d").agg(count(lit(1)).as("c"))
          .where(col("c").between(2, 50)).select("d"),
        Seq("d"))
      ok.as("a")
        .join(ok.as("b"),
          col("a.d") === col("b.d") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("n_shared"))
        .where(col("n_shared") >= 3)
        .orderBy("doc_a", "doc_b")
    },

    // --- Graph ---
    // Frontier BFS over the same capped co-occurrence graph tri1/pr1
    // read, from the lexicographically-smallest node.
    "bfs1_hops" -> { (spark, dir) =>
      GraphOps.bfsHops(
        GraphOps.termCooccurrenceEdges(Tables.documentsParallel(spark, dir),
          topK = 40, minCo = 5L),
        maxHops = 6)
        .orderBy("v")
    },

    // Personalized PageRank: teleport mass pinned to the smallest node —
    // proximity ranking, same integer-exact loop as pr1.
    "pr2_personalized_pagerank" -> { (spark, dir) =>
      GraphOps.personalizedPageRank(
        GraphOps.termCooccurrenceEdges(Tables.documentsParallel(spark, dir),
          topK = 40, minCo = 5L),
        iterations = 3)
        .orderBy("v")
    },
    // HITS hubs/authorities, exact BIGINT unrolled iterations.
    "hits1_hubs_authorities" -> { (spark, dir) =>
      GraphOps.hits(
        GraphOps.termCooccurrenceEdges(Tables.documentsParallel(spark, dir),
          topK = 40, minCo = 5L),
        iterations = 2)
        .orderBy("v")
    },

    // --- Streaming ---
    // Streaming incremental dedup: new docs stream against the static
    // corpus hash index (broadcast anti-join — the stream never
    // shuffles), survivors aggregate deterministically in complete mode.
    "st12_stream_incremental_dedup" -> { (spark, dir) =>
      graft.streaming.DocsStream.incrementalDedup(spark, dir)
    },

    // Per-group reservoir sampling (exact k per group, reproducible):
    // rank by the seeded portable hash within each group and keep the k
    // smallest — runs through the engine's own TopKPerKeyPlan (bounded
    // heaps, no per-group sort), so the "random" sample is a pure
    // function of the data AND cheap at scale.
    "smp5_group_reservoir" -> { (spark, dir) =>
      val ranked = Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          md5(concat(lit("smp5:"), col("doc_id").cast("string"))).as("h"))
      graft.plans.TopKPerKey.topKPerKey(
        ranked,
        keyCols = Seq("lang"),
        orderCols = Seq("h" -> true, "doc_id" -> true),
        k = 8)
        .select("lang", "doc_id", "n_chars")
        .orderBy("lang", "doc_id")
    },

    // Positional phrase search through the inverted index: exact
    // adjacent-position join on the postings (the IR phrase operator —
    // same shape at scale: postings shuffle once on doc, the position
    // self-join is per-doc local).
    "i2_phrase_search" -> { (spark, dir) =>
      // pin the postings before the self-join — the two sides key on
      // (doc_id, p) vs (doc_id, p+1), so without the pin each side
      // re-runs the regex tokenize + posexplode over the whole corpus
      val pos = Tables.documentsParallel(spark, dir)
        .select(col("doc_id"),
          posexplode(TextAnalysis.words(col("text"))).as(Seq("p", "term")))
        .localCheckpoint(eager = true)
      pos.as("a")
        .join(pos.as("b"),
          col("b.doc_id") === col("a.doc_id") && col("b.p") === col("a.p") + 1)
        .where(col("a.term") === "table" && col("b.term") === "hash")
        .groupBy(col("a.doc_id").as("doc_id"))
        .agg(count(lit(1)).as("n_hits"),
          (min(col("a.p")) + 1).cast("long").as("first_pos"))
        .orderBy("doc_id")
    },

    // Referential-integrity + coverage audit across the star: per FK
    // edge, child rows / orphaned child rows / parent rows / referenced
    // parents. Orphan checks are anti-join counts; coverage is a
    // distinct-key semi-join — each edge one narrow aggregate, unioned.
    "dq3_ri_audit" -> { (spark, dir) =>
      // Fully relational AND single-pass per edge: ONE child LEFT JOIN
      // parent scan yields n_child / n_orphans / n_referenced as
      // conditional aggregates (the same shape as the oracle SQL and
      // DataQuality's one-pass convention); only the tiny parent count
      // is a separate scalar.
      def edge(name: String, child: DataFrame, ck: String,
               parent: DataFrame, pk: String): DataFrame = {
        val c = child.select(col(ck).as("k")).where(col("k").isNotNull)
        val p = parent.select(col(pk).as("pk"))
        c.join(p, col("k") === col("pk"), "left")
          .agg(
            count(lit(1)).as("n_child"),
            count(when(col("pk").isNull, 1)).as("n_orphans"),
            countDistinct(col("pk")).as("n_referenced"))
          .crossJoin(p.agg(count(lit(1)).as("n_parents")))
          .select(lit(name).as("fk"), col("n_child"), col("n_orphans"),
            col("n_parents"), col("n_referenced"))
      }
      edge("events->customer", Tables.events(spark, dir), "user_id",
          Tables.customer(spark, dir), "c_custkey")
        .unionByName(edge("lineitem->orders", Tables.lineitem(spark, dir), "l_orderkey",
          Tables.orders(spark, dir), "o_orderkey"))
        .unionByName(edge("lineitem->part", Tables.lineitem(spark, dir), "l_partkey",
          Tables.part(spark, dir), "p_partkey"))
        .unionByName(edge("orders->customer", Tables.orders(spark, dir), "o_custkey",
          Tables.customer(spark, dir), "c_custkey"))
        .orderBy("fk")
    },

    // Native Generator (UDTF) on the SQL surface: shingles as a LATERAL
    // VIEW table function, per-doc counts gated (full multiset identity
    // with the composed form is spec-proven in ShingleGenSpec).
    "sg1_shingle_udtf" -> { (spark, dir) =>
      Tables.documentsParallel(spark, dir).createOrReplaceTempView("docs_sg1")
      spark.sql(
        """SELECT doc_id, s.shingle
          |FROM docs_sg1 LATERAL VIEW graft_shingles(text, 3) s AS shingle
          |ORDER BY doc_id, shingle""".stripMargin)
    },

    // --- Multimodal ---
    // Scene-cut detection over the frame-digest sequence (16-byte-stride
    // frames from the opaque payload, bit-hamming between consecutive
    // digests) — the segmentation pass of a video pipeline, exact ints.
    // Threshold 34 sits in the upper tail of the ~Binomial(60, ½)
    // inter-frame hamming distribution, so both branches of the cut
    // predicate carry real mass (20 would fire on ~99.7% of pairs).
    "m4_scene_cuts" -> { (spark, dir) =>
      graft.operators.Multimodal.sceneCuts(
        Tables.documentsParallel(spark, dir), hammingThreshold = 34)
        .orderBy("doc_id")
    },

    // Streaming medallion refresh: complete-mode daily gold landed via
    // foreachBatch -> AtomicLayer snapshots (commit-marker protocol), so
    // concurrent readers never see a torn refresh; result = the final
    // committed snapshot, gated against the batch aggregate.
    "st13_stream_gold_refresh" -> { (spark, dir) =>
      graft.streaming.EventsStream.goldRefresh(spark, dir)
    },

    // Centroid similarity matrix: pairwise cosine between class
    // centroids from exact integer component sums (the n cancels out of
    // the cosine, so the whole computation is integer until one final
    // double formula). The component table is tiny (labels × dims); the
    // heavy reduce is the per-(label, dim) sum with map-side partials.
    "e6_centroid_sim" -> { (spark, dir) =>
      val comp = Tables.embeddings(spark, dir)
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy("label", "dim")
        .agg(sum(VectorMath.quantize(col("v"))).as("sq"))
        .localCheckpoint(eager = true)
      val dec = DecimalType(20, 0)
      val self = comp.groupBy("label")
        .agg(sum(col("sq").cast(dec) * col("sq").cast(dec)).as("aa"))
      val dots = comp.as("a")
        .join(comp.as("b"),
          col("a.dim") === col("b.dim") && col("a.label") < col("b.label"))
        .groupBy(col("a.label").as("label_a"), col("b.label").as("label_b"))
        .agg(sum(col("a.sq").cast(dec) * col("b.sq").cast(dec)).as("dot"))
      dots
        .join(broadcast(self.select(col("label").as("label_a"), col("aa"))), Seq("label_a"))
        .join(broadcast(self.select(col("label").as("label_b"), col("aa").as("bb"))), Seq("label_b"))
        .select(col("label_a"), col("label_b"),
          (col("dot").cast(DoubleType) /
            (sqrt(col("aa").cast(DoubleType)) * sqrt(col("bb").cast(DoubleType))))
            .as("cos_sim"))
        .orderBy("label_a", "label_b")
    },

    // Dataset card: per-source corpus datasheet (counts, char mass,
    // language spread, length-band tails) in ONE conditional-aggregate
    // pass — the summary a data-curation pipeline publishes per shard.
    "qf2_data_card" -> { (spark, dir) =>
      Tables.documents(spark, dir)
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          countDistinct(col("lang")).as("n_langs"),
          count(when(col("n_chars") < 150, 1)).as("n_short"),
          count(when(col("n_chars") >= 450, 1)).as("n_long"))
        .orderBy("source")
    },

    // IGNORE NULLS window: carry each user's last purchase value forward
    // across their subsequent events (the classic last-observation
    // carry-forward shape, one per-user window pass).
    "w9_ignore_nulls" -> { (spark, dir) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
          last(when(col("event_type") === "purchase", col("value")), ignoreNulls = true)
            .over(w).as("last_purchase_value"))
        .orderBy("event_id")
    },

    // ntile decile bucketing (calibration / feature-binning): the only
    // rank-family member w7 lacks; total order makes buckets exact.
    "w11_ntile" -> { (spark, dir) =>
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderpriority"),
          ntile(10).over(w).as("decile"))
        .orderBy("o_orderkey")
    },

    // Numeric column profiler (the schema-drift / data-contract check):
    // unpivot the measured columns once, one grouped pass for
    // count / nulls / distincts / bounds per column.
    "dq4_numeric_profile" -> { (spark, dir) =>
      Tables.lineitem(spark, dir)
        .select(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax"))
        .unpivot(Array.empty[org.apache.spark.sql.Column],
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
          "col_name", "v")
        .groupBy("col_name")
        .agg(
          count(lit(1)).as("n"),
          (count(lit(1)) - count(col("v"))).as("n_null"),
          countDistinct(col("v")).as("n_distinct"),
          min(col("v")).as("min_v"),
          max(col("v")).as("max_v"))
        .orderBy("col_name")
    },

    // rank()-with-ties top-N: every row tied at the boundary survives —
    // deliberately NOT rewritable to the bounded-heap TopKPerKey (which
    // implements row_number semantics); the rewrite's guard must leave
    // this on the window path and the oracle confirms tie semantics.
    "w10_rank_ties" -> { (spark, dir) =>
      val w = Window.partitionBy("l_returnflag").orderBy(col("qty"))
      Tables.lineitem(spark, dir)
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
          floor(col("l_quantity")).cast(LongType).as("qty"))
        .withColumn("rnk", rank().over(w))
        .where(col("rnk") <= 2)
        .orderBy("l_returnflag", "l_orderkey", "l_linenumber")
    },

    // --- Entity resolution ---
    // Blocked fuzzy linkage over the deduplicated part-name catalog:
    // block on the last name word, levenshtein within the block only —
    // the blocking-key discipline that replaces the all-pairs edit
    // distance at scale (same candidate-bounding idea as LSH bands, but
    // for string identity).
    "rl1_record_linkage" -> { (spark, dir) =>
      val nm = Tables.part(spark, dir).select("p_name").distinct()
        .select(col("p_name"), element_at(split(col("p_name"), " "), -1).as("blk"))
      nm.as("a")
        .join(nm.as("b"),
          col("a.blk") === col("b.blk") && col("a.p_name") < col("b.p_name"))
        .select(col("a.p_name").as("name_a"), col("b.p_name").as("name_b"),
          col("a.blk").as("blk"),
          levenshtein(col("a.p_name"), col("b.p_name")).as("edit_dist"))
        .where(col("edit_dist") <= 4)
        .orderBy("name_a", "name_b")
    },

    // --- Text quality ---
    "ent1_diversity" -> { (spark, dir) =>
      TextAnalysis.diversity(Tables.documentsParallel(spark, dir))
        .orderBy("doc_id")
    },

    // --- Feature engineering ---
    // Per-segment z-score standardization. The two moments accumulate as
    // EXACT integer cents / cents² (acctbal has exactly 2 decimals, so
    // round(x·100) is the true integer value; sums of longs are
    // order-independent and engine-independent — no double→decimal cast
    // of a computed product, which is where last-ulp divergence creeps
    // in). One identical-shape double formula at the end; the per-segment
    // stats broadcast onto the scan.
    "fs1_feature_scale" -> { (spark, dir) =>
      val c = Tables.customer(spark, dir)
      val cents = round(col("c_acctbal") * 100).cast(LongType)
      val st = c.groupBy("c_mktsegment").agg(
        count(lit(1)).as("n"),
        sum(cents).as("s"),
        sum(cents * cents).as("sq"))
      c.join(broadcast(st), Seq("c_mktsegment"))
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
          ((col("c_acctbal") * 100.0 - col("s").cast(DoubleType) / col("n")) /
            sqrt((col("sq").cast(DoubleType) -
              col("s").cast(DoubleType) * col("s").cast(DoubleType) / col("n")) /
              (col("n") - 1)))
            .as("z"))
        .orderBy("c_custkey")
    },

    // Robust (median/MAD) standardization — the outlier-insensitive twin
    // of fs1. Two grouped medians (the a16-proven interpolation path:
    // identical formula both engines), stats broadcast back onto the
    // scan; one double expression at the end.
    "fs2_robust_scale" -> { (spark, dir) =>
      val c = Tables.customer(spark, dir)
      val med = c.groupBy("c_mktsegment").agg(median(col("c_acctbal")).as("med"))
      val withMed = c.join(broadcast(med), Seq("c_mktsegment"))
      val mad = withMed.groupBy("c_mktsegment")
        .agg(median(abs(col("c_acctbal") - col("med"))).as("mad"))
      withMed.join(broadcast(mad), Seq("c_mktsegment"))
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
          ((col("c_acctbal") - col("med")) / col("mad")).as("robust_z"))
        .orderBy("c_custkey")
    },

    // Winsorization: clip each value into its group's [p05, p95] band
    // (a8-proven percentile interpolation; one grouped percentile pass,
    // broadcast stats, least/greatest clip — no per-row sort).
    "fs3_winsorize" -> { (spark, dir) =>
      val c = Tables.customer(spark, dir)
      val pct = c.groupBy("c_mktsegment")
        .agg(expr("percentile(c_acctbal, array(0.05D, 0.95D))").as("pcts"))
        .select(col("c_mktsegment"),
          element_at(col("pcts"), 1).as("p05"),
          element_at(col("pcts"), 2).as("p95"))
      c.join(broadcast(pct), Seq("c_mktsegment"))
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
          least(greatest(col("c_acctbal"), col("p05")), col("p95")).as("clipped"))
        .orderBy("c_custkey")
    },

    // --- Set-similarity join ---
    // Lossless prefix-filtered Jaccard self-join over 3-shingle sets at
    // t=0.7 — finds EVERY pair ≥ t (unlike LSH), candidates bounded by
    // rare-prefix collisions only.
    "ssj1_prefix_jaccard" -> { (spark, dir) =>
      SetSimilarityJoin.prefixJaccardJoin(
        Tables.documentsParallel(spark, dir), shingleK = 3, threshold = 0.7)
        .orderBy("doc_a", "doc_b")
    },

    // Dedup-recall census: the measured answer to "what does MinHash-LSH
    // actually MISS?" — ground truth is the LOSSLESS prefix-filtered
    // Jaccard join (every pair ≥ 0.7), candidates are the portable
    // banded-LSH pairs (d2's 16-hash × 4-band family), and the report
    // counts true pairs vs detected pairs per exact Jaccard ventile.
    // The bucket key floor(20·inter/union) is pure integer division, so
    // the census is BIGINT end-to-end; recall per bucket is the ratio
    // of its two reported integers. This is the eval harness that
    // justifies (or indicts) an LSH parameter choice before a 100 TB
    // run: both sides scale (prefix join is candidate-bounded, banding
    // is bucket-capped), and the final join is pair-id keyed.
    "dr1_dedup_recall" -> { (spark, dir) =>
      val docs = Tables.documentsParallel(spark, dir)
      val truth = SetSimilarityJoin.prefixJaccardJoin(
        docs, shingleK = 3, threshold = 0.7)
        .select(col("doc_a"), col("doc_b"),
          expr("(20 * n_inter) div (n_a + n_b - n_inter)").as("jb"))
      val sigs = Dedup.minHashPortable(docs, 3, 16)
      // EAGER: a LAZY checkpoint re-materializes once per consuming
      // branch — the mod1 lesson (9.1→2.9 s there), and the most
      // plausible cause of dr1's load-sensitivity in the r10 driver
      // window (VERDICT r10 #2).
      val bands = Dedup.portableBandKeys(sigs, 4)
        .localCheckpoint(eager = true)
      val cand = Dedup.bandPairs(bands, 64)
        .select(col("doc_a"), col("doc_b"), lit(1L).as("hit"))
      truth.join(cand, Seq("doc_a", "doc_b"), "left")
        .groupBy("jb")
        .agg(count(lit(1)).as("n_true"),
          sum(coalesce(col("hit"), lit(0L))).as("n_detected"))
        .orderBy("jb")
    },

    // Asymmetric containment dedup (doc_a mostly inside doc_b): the
    // near-dup class Jaccard misses — wholesale quoting / boilerplate
    // wrapping. Probe-side lossless prefix filter, candidate-bounded
    // exact verify; see SetSimilarityJoin.containmentJoin.
    "d11_containment_join" -> { (spark, dir) =>
      SetSimilarityJoin.containmentJoin(
        Tables.documentsParallel(spark, dir), shingleK = 3, threshold = 0.8)
        .orderBy("doc_a", "doc_b")
    },
  )

  val oracles: Map[String, String] = Map(
    "tq5_local_supplier" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(floor(l_extendedprice * 100) AS BIGINT)
        |    * (10000 - CAST(floor(l_discount * 10000) AS BIGINT))) AS DOUBLE)
        |    / 1000000.0 AS revenue,
        |  COUNT(*) AS n_items
        |FROM region JOIN nation ON n_regionkey = r_regionkey
        |  JOIN customer ON c_nationkey = n_nationkey
        |  JOIN orders ON o_custkey = c_custkey
        |  JOIN lineitem ON l_orderkey = o_orderkey
        |  JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
        |WHERE r_name = 'EUROPE'
        |  AND o_orderdate >= TIMESTAMP '1998-01-01'
        |  AND o_orderdate < TIMESTAMP '2001-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    "tq10_returned_items" ->
      """SELECT c_custkey, c_name, n_name,
        |  CAST(SUM(CAST(floor(l_extendedprice * 100) AS BIGINT)
        |    * (10000 - CAST(floor(l_discount * 10000) AS BIGINT))) AS DOUBLE)
        |    / 1000000.0 AS revenue,
        |  COUNT(*) AS n_items
        |FROM customer JOIN nation ON n_nationkey = c_nationkey
        |  JOIN orders ON o_custkey = c_custkey
        |  JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1999-01-01'
        |  AND o_orderdate < TIMESTAMP '2000-01-01'
        |GROUP BY 1, 2, 3 ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "hr1_hierarchical_share" ->
      """WITH rev AS (
        |  SELECT r_name, n_name,
        |    SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        |  FROM orders JOIN customer ON c_custkey = o_custkey
        |    JOIN nation ON n_nationkey = c_nationkey
        |    JOIN region ON r_regionkey = n_regionkey
        |  GROUP BY 1, 2
        |)
        |SELECT r_name, n_name,
        |  CAST(cents AS DOUBLE) / 100.0 AS revenue,
        |  CAST(cents AS DOUBLE)
        |    / CAST(SUM(cents) OVER (PARTITION BY r_name) AS DOUBLE)
        |    AS share_of_region,
        |  CAST(cents AS DOUBLE) / CAST(SUM(cents) OVER () AS DOUBLE)
        |    AS share_of_total
        |FROM rev ORDER BY r_name, n_name""".stripMargin,
    "cdc2_snapshot_diff" ->
      """WITH olds AS (
        |  SELECT o_orderkey AS k, o_totalprice AS v FROM orders
        |  WHERE o_orderkey % 10 < 7
        |), news AS (
        |  SELECT o_orderkey AS k,
        |    CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1.0
        |         ELSE o_totalprice END AS v
        |  FROM orders WHERE o_orderkey % 10 >= 3
        |)
        |SELECT
        |  CASE WHEN o.k IS NULL THEN 'inserted'
        |       WHEN n.k IS NULL THEN 'deleted'
        |       WHEN o.v <> n.v THEN 'changed'
        |       ELSE 'unchanged' END AS change_type,
        |  COUNT(*) AS n
        |FROM olds o FULL OUTER JOIN news n ON n.k = o.k
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "tq21_waiting_supplier" ->
      """WITH late AS (
        |  SELECT DISTINCT l_orderkey, l_suppkey
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
        |)
        |SELECT s_name, COUNT(*) AS numwait
        |FROM late l1 JOIN supplier ON s_suppkey = l1.l_suppkey
        |WHERE EXISTS (
        |    SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM late l3
        |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey)
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin,
    "fn2_windowed_funnel" ->
      """WITH v AS (
        |  SELECT user_id, MIN(date_trunc('second', ts)) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1
        |), c AS (
        |  SELECT e.user_id, MIN(date_trunc('second', e.ts)) AS t2
        |  FROM events e JOIN v ON v.user_id = e.user_id
        |  WHERE e.event_type = 'click'
        |    AND date_trunc('second', e.ts) > v.t1
        |    AND date_trunc('second', e.ts) <= v.t1 + INTERVAL 6 HOUR
        |  GROUP BY 1
        |), p AS (
        |  SELECT e.user_id, MIN(date_trunc('second', e.ts)) AS t3
        |  FROM events e JOIN c ON c.user_id = e.user_id
        |  WHERE e.event_type = 'purchase'
        |    AND date_trunc('second', e.ts) > c.t2
        |    AND date_trunc('second', e.ts) <= c.t2 + INTERVAL 6 HOUR
        |  GROUP BY 1
        |)
        |SELECT 1 AS step, 'view' AS event_type,
        |  (SELECT COUNT(*) FROM v) AS n_users
        |UNION ALL SELECT 2, 'click', (SELECT COUNT(*) FROM c)
        |UNION ALL SELECT 3, 'purchase', (SELECT COUNT(*) FROM p)
        |ORDER BY step""".stripMargin,
    "dm3_budget_apportion" ->
      """WITH w AS (
        |  SELECT source, CAST(SUM(n_chars) AS BIGINT) AS mass
        |  FROM documents GROUP BY 1
        |), tot AS (SELECT SUM(mass) AS t FROM w),
        |ideal AS (
        |  SELECT source, mass, (mass * 1000000) // t AS fl,
        |    (mass * 1000000) % t AS rem
        |  FROM w CROSS JOIN tot
        |), ranked AS (
        |  SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rk,
        |    1000000 - SUM(fl) OVER () AS leftover
        |  FROM ideal
        |)
        |SELECT source, mass,
        |  CAST(fl + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
        |    AS tokens
        |FROM ranked ORDER BY source""".stripMargin,
    "mb1_cooccurrence" ->
      """WITH basket AS (
        |  SELECT DISTINCT user_id,
        |    CAST(date_trunc('day', date_trunc('second', ts)) AS DATE) AS day,
        |    event_type
        |  FROM events
        |), nb AS (SELECT COUNT(DISTINCT (user_id, day)) AS n_baskets FROM basket),
        |tc AS (SELECT event_type, COUNT(*) AS n_t FROM basket GROUP BY 1),
        |pairs AS (
        |  SELECT x.event_type AS ta, y.event_type AS tb, COUNT(*) AS n_ab
        |  FROM basket x JOIN basket y
        |    ON x.user_id = y.user_id AND x.day = y.day
        |    AND x.event_type < y.event_type
        |  GROUP BY 1, 2
        |)
        |SELECT p.ta, p.tb, p.n_ab, a.n_t AS n_a, b.n_t AS n_b,
        |  (CAST(p.n_ab AS DOUBLE) * CAST(nb.n_baskets AS DOUBLE))
        |    / (CAST(a.n_t AS DOUBLE) * CAST(b.n_t AS DOUBLE)) AS lift
        |FROM pairs p JOIN tc a ON a.event_type = p.ta
        |  JOIN tc b ON b.event_type = p.tb
        |  CROSS JOIN nb
        |ORDER BY ta, tb""".stripMargin,
    "seq2_journey_anomaly" ->
      """WITH trans AS (
        |  SELECT user_id, event_type AS src,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS dst
        |  FROM events
        |), t AS (SELECT * FROM trans WHERE dst IS NOT NULL
        |), model AS (
        |  SELECT src, dst, COUNT(*) AS n FROM t GROUP BY 1, 2
        |)
        |SELECT t.user_id, COUNT(*) AS n_trans,
        |  CAST(SUM(m.n) AS BIGINT) AS typicality_sum,
        |  CAST(MIN(m.n) AS BIGINT) AS weakest_link
        |FROM t JOIN model m USING (src, dst)
        |GROUP BY 1 ORDER BY t.user_id""".stripMargin,
    "markov1_transitions" ->
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS next_type
        |  FROM events
        |), trans AS (
        |  SELECT event_type AS src, next_type AS dst, COUNT(*) AS n
        |  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
        |)
        |SELECT src, dst, n,
        |  CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY src) AS DOUBLE) AS p
        |FROM trans ORDER BY src, dst""".stripMargin,
    "bfs1_hops" ->
      """WITH RECURSIVE toks AS (
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
        |), edges AS (
        |  SELECT ta AS src, tb AS dst FROM e0
        |  UNION ALL SELECT tb, ta FROM e0
        |), seed AS (SELECT min(src) AS s FROM edges),
        |r(v, hop) AS (
        |  SELECT s, 0 FROM seed
        |  UNION
        |  SELECT e.dst, r.hop + 1 FROM r JOIN edges e ON e.src = r.v
        |  WHERE r.hop < 6
        |)
        |SELECT v, CAST(min(hop) AS INTEGER) AS hops
        |FROM r GROUP BY v ORDER BY v""".stripMargin,
    "x27_asof_tolerance" ->
      """SELECT c.user_id, c.event_id, s.event_id AS signup_event_id
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |ASOF JOIN (SELECT * FROM events WHERE event_type = 'signup') s
        |  ON c.user_id = s.user_id AND c.ts >= s.ts
        |WHERE c.ts - s.ts <= INTERVAL 7 DAY
        |ORDER BY c.user_id, c.event_id""".stripMargin,
    "a22_bool_aggs" ->
      """SELECT l_returnflag,
        |  COUNT(*) FILTER (l_quantity > 25) AS n_big,
        |  bool_and(l_quantity > 0) AS all_positive,
        |  bool_or(l_discount > 0.09) AS any_deep_discount,
        |  CAST(MIN(l_orderkey) AS BIGINT) AS det_any_order
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "cdc3_cdc_apply" ->
      """WITH log AS (
        |  SELECT o_custkey AS c_custkey, o_orderkey AS seq,
        |    CASE WHEN o_custkey % 13 = 0 THEN 'D' ELSE 'U' END AS op,
        |    o_totalprice AS new_bal
        |  FROM orders
        |), latest AS (
        |  SELECT c_custkey, arg_max(op, seq) AS op,
        |    arg_max(new_bal, seq) AS new_bal
        |  FROM log GROUP BY 1
        |)
        |SELECT c.c_custkey, c.c_name,
        |  CAST(CASE WHEN l.op = 'U' THEN floor(l.new_bal * 100)
        |       ELSE floor(c.c_acctbal * 100) END AS BIGINT) AS bal_cents
        |FROM customer c LEFT JOIN latest l USING (c_custkey)
        |WHERE l.op IS NULL OR l.op <> 'D'
        |ORDER BY c_custkey""".stripMargin,
    "x28_asof_nearest" ->
      """WITH c AS (
        |  SELECT user_id, epoch_ns(ts) AS cts, event_id
        |  FROM events WHERE event_type = 'click'
        |), p AS (
        |  SELECT user_id, epoch_ns(ts) AS pts, event_id AS pid
        |  FROM events WHERE event_type = 'purchase'
        |), ranked AS (
        |  SELECT c.user_id, c.event_id, p.pid,
        |    abs(p.pts - c.cts) AS gap,
        |    row_number() OVER (PARTITION BY c.user_id, c.event_id
        |      ORDER BY abs(p.pts - c.cts),
        |        CASE WHEN p.pts <= c.cts THEN 0 ELSE 1 END,
        |        CASE WHEN p.pts <= c.cts THEN -p.pid ELSE p.pid END) AS rn
        |  FROM c JOIN p USING (user_id)
        |)
        |SELECT user_id, event_id, pid AS nearest_purchase,
        |  gap // 1000000000 AS gap_sec
        |FROM ranked WHERE rn = 1
        |ORDER BY user_id, event_id""".stripMargin,
    "x26_asof_forward" ->
      """SELECT c.user_id, c.event_id,
        |  date_trunc('second', c.ts) AS click_ts,
        |  s.event_id AS purchase_event_id
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |ASOF JOIN (SELECT * FROM events WHERE event_type = 'purchase') s
        |  ON c.user_id = s.user_id AND c.ts <= s.ts
        |ORDER BY c.user_id, c.event_id""".stripMargin,
    "str1_streaks" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id,
        |    CAST(date_trunc('day', date_trunc('second', ts)) AS DATE) AS day
        |  FROM events
        |), grp AS (
        |  SELECT user_id, day,
        |    day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day)
        |      AS INTEGER) AS anchor
        |  FROM days
        |), streaks AS (
        |  SELECT user_id, anchor, COUNT(*) AS len FROM grp GROUP BY 1, 2
        |)
        |SELECT user_id, CAST(MAX(len) AS BIGINT) AS max_streak,
        |  COUNT(*) AS n_streaks
        |FROM streaks GROUP BY 1 ORDER BY 1""".stripMargin,
    "ts7_crosscorr" ->
      """WITH hourly AS (
        |  SELECT date_trunc('hour', date_trunc('second', ts)) AS hr,
        |    SUM(CASE WHEN event_type = 'click'
        |      THEN CAST(value AS DECIMAL(20,4)) END) AS cd,
        |    SUM(CASE WHEN event_type = 'view'
        |      THEN CAST(value AS DECIMAL(20,4)) END) AS vd
        |  FROM events GROUP BY 1
        |), z AS (
        |  SELECT COALESCE(CAST(cd * 10000 AS BIGINT), 0) AS c,
        |    COALESCE(CAST(vd * 10000 AS BIGINT), 0) AS v
        |  FROM hourly
        |), m AS (
        |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
        |    SUM(CAST(c AS HUGEINT)) AS sc, SUM(CAST(v AS HUGEINT)) AS sv,
        |    SUM(CAST(c AS HUGEINT) * v) AS scv,
        |    SUM(CAST(c AS HUGEINT) * c) AS scc,
        |    SUM(CAST(v AS HUGEINT) * v) AS svv
        |  FROM z
        |)
        |SELECT CAST(n AS BIGINT) AS n,
        |  CAST(n * scv - sc * sv AS DOUBLE)
        |    / (sqrt(CAST(n * scc - sc * sc AS DOUBLE))
        |      * sqrt(CAST(n * svv - sv * sv AS DOUBLE))) AS corr_cv
        |FROM m""".stripMargin,
    "f13_try_funcs" ->
      """SELECT l_orderkey, l_linenumber,
        |  l_extendedprice / nullif(floor(l_quantity) - 25, 0) AS div_maybe,
        |  TRY_CAST(CASE WHEN l_orderkey % 100 = 0 THEN l_returnflag
        |    ELSE CAST(l_linenumber AS VARCHAR) END AS INTEGER) AS flag_int,
        |  CAST(l_linenumber AS VARCHAR) AS line_str
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "m5_shared_frames" ->
      """WITH m AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |    octet_length(encode(text)) AS nb
        |  FROM documents
        |), f AS (
        |  SELECT doc_id, md5(substr(hx, CAST(g.i * 32 + 1 AS INTEGER), 64)) AS d
        |  FROM m, UNNEST(generate_series(0, (nb - 32) // 16)) AS g(i)
        |  WHERE nb >= 32
        |), fd AS (SELECT DISTINCT doc_id, d FROM f),
        |freq AS (SELECT d, COUNT(*) AS c FROM fd GROUP BY 1),
        |ok AS (
        |  SELECT fd.doc_id, fd.d FROM fd JOIN freq ON freq.d = fd.d
        |  WHERE freq.c BETWEEN 2 AND 50
        |)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
        |FROM ok a JOIN ok b ON a.d = b.d AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING COUNT(*) >= 3
        |ORDER BY 1, 2""".stripMargin,
    "e6_centroid_sim" ->
      """WITH comp AS (
        |  SELECT label, g.i AS dim,
        |    SUM(CAST(floor(CAST(e.embedding[CAST(g.i AS INTEGER) + 1] AS DOUBLE)
        |      * 1048576.0) AS BIGINT)) AS sq
        |  FROM embeddings e,
        |    UNNEST(generate_series(0, len(e.embedding) - 1)) AS g(i)
        |  GROUP BY 1, 2
        |), selfdot AS (
        |  SELECT label, SUM(CAST(sq AS HUGEINT) * sq) AS aa FROM comp GROUP BY 1
        |), dots AS (
        |  SELECT a.label AS label_a, b.label AS label_b,
        |    SUM(CAST(a.sq AS HUGEINT) * b.sq) AS dot
        |  FROM comp a JOIN comp b ON a.dim = b.dim AND a.label < b.label
        |  GROUP BY 1, 2
        |)
        |SELECT d.label_a, d.label_b,
        |  CAST(d.dot AS DOUBLE)
        |    / (sqrt(CAST(x.aa AS DOUBLE)) * sqrt(CAST(y.aa AS DOUBLE))) AS cos_sim
        |FROM dots d JOIN selfdot x ON x.label = d.label_a
        |  JOIN selfdot y ON y.label = d.label_b
        |ORDER BY label_a, label_b""".stripMargin,
    "qf2_data_card" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  COUNT(DISTINCT lang) AS n_langs,
        |  COUNT(*) FILTER (n_chars < 150) AS n_short,
        |  COUNT(*) FILTER (n_chars >= 450) AS n_long
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "w9_ignore_nulls" ->
      """SELECT event_id, user_id, event_type, value,
        |  last_value(CASE WHEN event_type = 'purchase' THEN value END
        |    IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS last_purchase_value
        |FROM events ORDER BY event_id""".stripMargin,
    "w11_ntile" ->
      """SELECT o_orderkey, o_orderpriority,
        |  CAST(ntile(10) OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice, o_orderkey) AS INTEGER) AS decile
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "dq4_numeric_profile" ->
      """WITH u AS (
        |  SELECT 'l_quantity' AS col_name, l_quantity AS v FROM lineitem
        |  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
        |  UNION ALL SELECT 'l_tax', l_tax FROM lineitem
        |)
        |SELECT col_name, COUNT(*) AS n, COUNT(*) - COUNT(v) AS n_null,
        |  COUNT(DISTINCT v) AS n_distinct, MIN(v) AS min_v, MAX(v) AS max_v
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin,
    "w10_rank_ties" ->
      """WITH rk AS (
        |  SELECT l_returnflag, l_orderkey, l_linenumber,
        |    CAST(floor(l_quantity) AS BIGINT) AS qty,
        |    rank() OVER (PARTITION BY l_returnflag
        |      ORDER BY CAST(floor(l_quantity) AS BIGINT)) AS r
        |  FROM lineitem
        |)
        |SELECT l_returnflag, l_orderkey, l_linenumber, qty,
        |  CAST(r AS INTEGER) AS rnk
        |FROM rk WHERE r <= 2
        |ORDER BY l_returnflag, l_orderkey, l_linenumber""".stripMargin,
    "pr2_personalized_pagerank" ->
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
        |), seed AS (SELECT min(v) AS s FROM nodes),
        |p0 AS (
        |  SELECT v, CASE WHEN v = (SELECT s FROM seed)
        |    THEN CAST(1000000000000 AS BIGINT) ELSE 0 END AS pr FROM nodes
        |), c1 AS (
        |  SELECT d.dst, SUM(p.pr // o.outdeg) AS s
        |  FROM dir d JOIN od o USING (src) JOIN p0 p ON p.v = d.src GROUP BY 1
        |), p1 AS (
        |  SELECT n.v, CASE WHEN n.v = (SELECT s FROM seed)
        |      THEN 150000000000 ELSE 0 END
        |    + (85 * COALESCE(c.s, 0)) // 100 AS pr
        |  FROM nodes n LEFT JOIN c1 c ON c.dst = n.v
        |), c2 AS (
        |  SELECT d.dst, SUM(p.pr // o.outdeg) AS s
        |  FROM dir d JOIN od o USING (src) JOIN p1 p ON p.v = d.src GROUP BY 1
        |), p2 AS (
        |  SELECT n.v, CASE WHEN n.v = (SELECT s FROM seed)
        |      THEN 150000000000 ELSE 0 END
        |    + (85 * COALESCE(c.s, 0)) // 100 AS pr
        |  FROM nodes n LEFT JOIN c2 c ON c.dst = n.v
        |), c3 AS (
        |  SELECT d.dst, SUM(p.pr // o.outdeg) AS s
        |  FROM dir d JOIN od o USING (src) JOIN p2 p ON p.v = d.src GROUP BY 1
        |), p3 AS (
        |  SELECT n.v, CASE WHEN n.v = (SELECT s FROM seed)
        |      THEN 150000000000 ELSE 0 END
        |    + (85 * COALESCE(c.s, 0)) // 100 AS pr
        |  FROM nodes n LEFT JOIN c3 c ON c.dst = n.v
        |)
        |SELECT v, CAST(pr AS BIGINT) AS ppr_q FROM p3 ORDER BY v""".stripMargin,
    "hits1_hubs_authorities" ->
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
        |), nodes AS (
        |  SELECT DISTINCT src AS v FROM dir
        |), h0 AS (SELECT v, CAST(1 AS BIGINT) AS hub FROM nodes),
        |a1 AS (
        |  SELECT n.v, COALESCE(x.s, 0) AS auth FROM nodes n
        |  LEFT JOIN (SELECT d.dst, SUM(h.hub) AS s
        |    FROM dir d JOIN h0 h ON h.v = d.src GROUP BY 1) x ON x.dst = n.v
        |), h1 AS (
        |  SELECT n.v, COALESCE(x.s, 0) AS hub FROM nodes n
        |  LEFT JOIN (SELECT d.src, SUM(a.auth) AS s
        |    FROM dir d JOIN a1 a ON a.v = d.dst GROUP BY 1) x ON x.src = n.v
        |), a2 AS (
        |  SELECT n.v, COALESCE(x.s, 0) AS auth FROM nodes n
        |  LEFT JOIN (SELECT d.dst, SUM(h.hub) AS s
        |    FROM dir d JOIN h1 h ON h.v = d.src GROUP BY 1) x ON x.dst = n.v
        |), h2 AS (
        |  SELECT n.v, COALESCE(x.s, 0) AS hub FROM nodes n
        |  LEFT JOIN (SELECT d.src, SUM(a.auth) AS s
        |    FROM dir d JOIN a2 a ON a.v = d.dst GROUP BY 1) x ON x.src = n.v
        |)
        |SELECT n.v, CAST(h2.hub AS BIGINT) AS hub, CAST(a2.auth AS BIGINT) AS auth
        |FROM nodes n JOIN h2 ON h2.v = n.v JOIN a2 ON a2.v = n.v
        |ORDER BY n.v""".stripMargin,
    "st12_stream_incremental_dedup" ->
      """WITH corp AS (
        |  SELECT DISTINCT sha256(text) AS content_hash FROM documents
        |  WHERE doc_id % 4 <> 0
        |), inc AS (
        |  SELECT doc_id, sha256(text) AS content_hash FROM documents
        |  WHERE doc_id % 4 = 0
        |)
        |SELECT content_hash, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
        |FROM inc
        |WHERE content_hash NOT IN (SELECT content_hash FROM corp)
        |GROUP BY 1 ORDER BY content_hash""".stripMargin,
    "smp5_group_reservoir" ->
      """WITH ranked AS (
        |  SELECT lang, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5('smp5:' || doc_id), doc_id) AS rk
        |  FROM documents
        |)
        |SELECT lang, doc_id, n_chars FROM ranked
        |WHERE rk <= 8 ORDER BY lang, doc_id""".stripMargin,
    "i2_phrase_search" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM documents
        |), pos AS (
        |  SELECT doc_id, g.i AS p, w[CAST(g.i AS INTEGER)] AS term
        |  FROM toks, UNNEST(generate_series(1, len(w))) AS g(i)
        |)
        |SELECT a.doc_id, COUNT(*) AS n_hits, CAST(MIN(a.p) AS BIGINT) AS first_pos
        |FROM pos a JOIN pos b ON b.doc_id = a.doc_id AND b.p = a.p + 1
        |WHERE a.term = 'table' AND b.term = 'hash'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "dq3_ri_audit" ->
      """WITH edges AS (
        |  SELECT 'events->customer' AS fk, e.user_id AS ck, c.c_custkey AS pk
        |  FROM events e LEFT JOIN customer c ON c.c_custkey = e.user_id
        |  WHERE e.user_id IS NOT NULL
        |  UNION ALL
        |  SELECT 'lineitem->orders', l.l_orderkey, o.o_orderkey
        |  FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  WHERE l.l_orderkey IS NOT NULL
        |  UNION ALL
        |  SELECT 'lineitem->part', l.l_partkey, p.p_partkey
        |  FROM lineitem l LEFT JOIN part p ON p.p_partkey = l.l_partkey
        |  WHERE l.l_partkey IS NOT NULL
        |  UNION ALL
        |  SELECT 'orders->customer', o.o_custkey, c.c_custkey
        |  FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
        |  WHERE o.o_custkey IS NOT NULL
        |), parents AS (
        |  SELECT 'events->customer' AS fk, COUNT(*) AS n_parents FROM customer
        |  UNION ALL SELECT 'lineitem->orders', COUNT(*) FROM orders
        |  UNION ALL SELECT 'lineitem->part', COUNT(*) FROM part
        |  UNION ALL SELECT 'orders->customer', COUNT(*) FROM customer
        |)
        |SELECT g.fk, g.n_child, g.n_orphans, p.n_parents, g.n_referenced
        |FROM (
        |  SELECT fk, COUNT(*) AS n_child,
        |    COUNT(*) FILTER (pk IS NULL) AS n_orphans,
        |    COUNT(DISTINCT pk) AS n_referenced
        |  FROM edges GROUP BY fk
        |) g JOIN parents p ON p.fk = g.fk
        |ORDER BY g.fk""".stripMargin,
    "sg1_shingle_udtf" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM documents
        |)
        |SELECT doc_id, unnest(list_transform(
        |  generate_series(1, len(w) - 2),
        |  i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS shingle
        |FROM toks WHERE len(w) >= 3
        |ORDER BY doc_id, shingle""".stripMargin,
    "m4_scene_cuts" ->
      """WITH m AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |    octet_length(encode(text)) AS nb
        |  FROM documents
        |), f AS (
        |  SELECT doc_id, g.i AS frame_idx,
        |    md5(substr(hx, CAST(g.i * 32 + 1 AS INTEGER), 64)) AS d
        |  FROM m, UNNEST(generate_series(0, (nb - 32) // 16)) AS g(i)
        |  WHERE nb >= 32
        |), h AS (
        |  SELECT doc_id, frame_idx,
        |    ('0x' || substr(d, 1, 15))::BIGINT AS dh,
        |    lag(('0x' || substr(d, 1, 15))::BIGINT)
        |      OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev
        |  FROM f
        |), x AS (
        |  SELECT doc_id, bit_count(xor(dh, prev)) AS ham
        |  FROM h WHERE prev IS NOT NULL
        |)
        |SELECT doc_id, COUNT(*) + 1 AS n_frames,
        |  COUNT(*) FILTER (ham >= 34) AS n_cuts,
        |  CAST(MAX(ham) AS INTEGER) AS max_ham
        |FROM x GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "st13_stream_gold_refresh" ->
      """SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(20,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "rl1_record_linkage" ->
      """WITH nm AS (SELECT DISTINCT p_name FROM part),
        |b AS (SELECT p_name, string_split(p_name, ' ')[-1] AS blk FROM nm)
        |SELECT a.p_name AS name_a, c.p_name AS name_b, a.blk AS blk,
        |  CAST(levenshtein(a.p_name, c.p_name) AS INTEGER) AS edit_dist
        |FROM b a JOIN b c ON a.blk = c.blk AND a.p_name < c.p_name
        |WHERE levenshtein(a.p_name, c.p_name) <= 4
        |ORDER BY name_a, name_b""".stripMargin,
    "ent1_diversity" ->
      """WITH toks AS (
        |  SELECT doc_id, u.term FROM documents,
        |    UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS u(term)
        |  WHERE u.term <> ''
        |), cnts AS (
        |  SELECT doc_id, term, COUNT(*) AS cnt FROM toks GROUP BY 1, 2
        |)
        |SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
        |  COUNT(*) AS n_distinct,
        |  1.0 - CAST(SUM(cnt * cnt) AS DOUBLE)
        |    / (CAST(SUM(cnt) AS DOUBLE) * CAST(SUM(cnt) AS DOUBLE)) AS simpson
        |FROM cnts GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "fs1_feature_scale" ->
      """WITH st AS (
        |  SELECT c_mktsegment,
        |    COUNT(*) AS n,
        |    CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS s,
        |    CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)
        |      * CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS sq
        |  FROM customer GROUP BY 1
        |)
        |SELECT c_custkey, c.c_mktsegment, c_acctbal,
        |  (c_acctbal * 100.0 - CAST(s AS DOUBLE) / n)
        |    / sqrt((CAST(sq AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
        |      / (n - 1)) AS z
        |FROM customer c JOIN st ON st.c_mktsegment = c.c_mktsegment
        |ORDER BY c_custkey""".stripMargin,
    "fs2_robust_scale" ->
      """WITH med AS (
        |  SELECT c_mktsegment, median(c_acctbal) AS med FROM customer GROUP BY 1
        |), mad AS (
        |  SELECT c.c_mktsegment, median(abs(c.c_acctbal - m.med)) AS mad
        |  FROM customer c JOIN med m ON m.c_mktsegment = c.c_mktsegment
        |  GROUP BY 1
        |)
        |SELECT c_custkey, c.c_mktsegment, c_acctbal,
        |  (c_acctbal - m.med) / d.mad AS robust_z
        |FROM customer c JOIN med m ON m.c_mktsegment = c.c_mktsegment
        |  JOIN mad d ON d.c_mktsegment = c.c_mktsegment
        |ORDER BY c_custkey""".stripMargin,
    "fs3_winsorize" ->
      """WITH pct AS (
        |  SELECT c_mktsegment,
        |    quantile_cont(c_acctbal, 0.05) AS p05,
        |    quantile_cont(c_acctbal, 0.95) AS p95
        |  FROM customer GROUP BY 1
        |)
        |SELECT c_custkey, c.c_mktsegment, c_acctbal,
        |  least(greatest(c_acctbal, p.p05), p.p95) AS clipped
        |FROM customer c JOIN pct p ON p.c_mktsegment = c.c_mktsegment
        |ORDER BY c_custkey""".stripMargin,
    "ssj1_prefix_jaccard" ->
      """WITH w0 AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM documents
        |), toks AS (
        |  SELECT DISTINCT doc_id, unnest(list_transform(
        |    generate_series(1, len(w) - 2),
        |    i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS term
        |  FROM w0 WHERE len(w) >= 3
        |), sz AS (SELECT doc_id, COUNT(*) AS n_tok FROM toks GROUP BY 1),
        |df AS (SELECT term, COUNT(*) AS df FROM toks GROUP BY 1),
        |ranked AS (
        |  SELECT t.doc_id, t.term,
        |    row_number() OVER (PARTITION BY t.doc_id ORDER BY d.df, t.term)
        |      AS rk,
        |    s.n_tok
        |  FROM toks t JOIN df d ON t.term = d.term
        |    JOIN sz s ON t.doc_id = s.doc_id
        |), prefix AS (
        |  SELECT doc_id, term FROM ranked
        |  WHERE rk <= n_tok - CAST(ceil(0.7 * n_tok) AS BIGINT) + 1
        |), cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM prefix a JOIN prefix b
        |    ON a.term = b.term AND a.doc_id < b.doc_id
        |), inter AS (
        |  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
        |  FROM cand c JOIN toks ta ON ta.doc_id = c.doc_a
        |    JOIN toks tb ON tb.doc_id = c.doc_b AND tb.term = ta.term
        |  GROUP BY 1, 2
        |)
        |SELECT i.doc_a, i.doc_b, i.n_inter, sa.n_tok AS n_a, sb.n_tok AS n_b,
        |  CAST(i.n_inter AS DOUBLE)
        |    / CAST(sa.n_tok + sb.n_tok - i.n_inter AS DOUBLE) AS jaccard
        |FROM inter i JOIN sz sa ON sa.doc_id = i.doc_a
        |  JOIN sz sb ON sb.doc_id = i.doc_b
        |WHERE CAST(i.n_inter AS DOUBLE)
        |    / CAST(sa.n_tok + sb.n_tok - i.n_inter AS DOUBLE) >= 0.7
        |ORDER BY doc_a, doc_b""".stripMargin,

    // truth = ssj1's lossless prefix join; candidates = d2's portable
    // banded LSH; census per integer Jaccard ventile
    "dr1_dedup_recall" ->
      """WITH w0 AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM documents
        |), toks AS (
        |  SELECT DISTINCT doc_id, unnest(list_transform(
        |    generate_series(1, len(w) - 2),
        |    i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS term
        |  FROM w0 WHERE len(w) >= 3
        |), sz AS (SELECT doc_id, COUNT(*) AS n_tok FROM toks GROUP BY 1),
        |df AS (SELECT term, COUNT(*) AS df FROM toks GROUP BY 1),
        |ranked AS (
        |  SELECT t.doc_id, t.term,
        |    row_number() OVER (PARTITION BY t.doc_id ORDER BY d.df, t.term)
        |      AS rk,
        |    s.n_tok
        |  FROM toks t JOIN df d ON t.term = d.term
        |    JOIN sz s ON t.doc_id = s.doc_id
        |), prefix AS (
        |  SELECT doc_id, term FROM ranked
        |  WHERE rk <= n_tok - CAST(ceil(0.7 * n_tok) AS BIGINT) + 1
        |), cand0 AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM prefix a JOIN prefix b
        |    ON a.term = b.term AND a.doc_id < b.doc_id
        |), inter AS (
        |  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
        |  FROM cand0 c JOIN toks ta ON ta.doc_id = c.doc_a
        |    JOIN toks tb ON tb.doc_id = c.doc_b AND tb.term = ta.term
        |  GROUP BY 1, 2
        |), truth AS (
        |  SELECT i.doc_a, i.doc_b,
        |    CAST((20 * i.n_inter) // (sa.n_tok + sb.n_tok - i.n_inter)
        |      AS BIGINT) AS jb
        |  FROM inter i JOIN sz sa ON sa.doc_id = i.doc_a
        |    JOIN sz sb ON sb.doc_id = i.doc_b
        |  WHERE CAST(i.n_inter AS DOUBLE)
        |    / CAST(sa.n_tok + sb.n_tok - i.n_inter AS DOUBLE) >= 0.7
        |), sh AS (
        |  SELECT doc_id, unnest(list_transform(
        |    generate_series(1, len(w) - 2),
        |    i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS s
        |  FROM w0 WHERE len(w) >= 3
        |), hs AS (
        |  SELECT doc_id, CAST(g.i AS INTEGER) AS h_idx,
        |    ((g.i * 2 + 1) * 1103515245 % 2147483647
        |      * (('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647)
        |      + g.i) % 2147483647 AS h
        |  FROM sh, UNNEST(generate_series(0, 15)) AS g(i)
        |), sigs AS (
        |  SELECT doc_id, h_idx, min(h) AS min_hash FROM hs GROUP BY 1, 2
        |), bands AS (
        |  SELECT doc_id, CAST(h_idx // 4 AS INTEGER) AS band_idx,
        |    ('0x' || substr(md5(
        |      string_agg(min_hash::VARCHAR, ',' ORDER BY h_idx)), 1, 15))
        |      ::BIGINT AS band_key
        |  FROM sigs GROUP BY doc_id, h_idx // 4
        |), sized AS (
        |  SELECT band_idx, band_key FROM bands GROUP BY 1, 2
        |  HAVING count(*) BETWEEN 2 AND 64
        |), lsh AS (
        |  SELECT DISTINCT b1.doc_id AS doc_a, b2.doc_id AS doc_b
        |  FROM bands b1
        |  JOIN sized s ON s.band_idx = b1.band_idx AND s.band_key = b1.band_key
        |  JOIN bands b2 ON b2.band_idx = b1.band_idx
        |    AND b2.band_key = b1.band_key AND b1.doc_id < b2.doc_id
        |)
        |SELECT t.jb, COUNT(*) AS n_true,
        |  CAST(SUM(CASE WHEN l.doc_a IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_detected
        |FROM truth t LEFT JOIN lsh l
        |  ON l.doc_a = t.doc_a AND l.doc_b = t.doc_b
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "d11_containment_join" ->
      """WITH w0 AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM documents
        |), toks AS (
        |  SELECT DISTINCT doc_id, unnest(list_transform(
        |    generate_series(1, len(w) - 2),
        |    i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS term
        |  FROM w0 WHERE len(w) >= 3
        |), sz AS (SELECT doc_id, COUNT(*) AS n_tok FROM toks GROUP BY 1),
        |df AS (SELECT term, COUNT(*) AS df FROM toks GROUP BY 1),
        |ranked AS (
        |  SELECT t.doc_id, t.term,
        |    row_number() OVER (PARTITION BY t.doc_id ORDER BY d.df, t.term)
        |      AS rk,
        |    s.n_tok
        |  FROM toks t JOIN df d ON t.term = d.term
        |    JOIN sz s ON t.doc_id = s.doc_id
        |), prefix AS (
        |  SELECT doc_id, term, n_tok FROM ranked
        |  WHERE rk <= n_tok - CAST(ceil(0.8 * n_tok) AS BIGINT) + 1
        |), cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM prefix a
        |  JOIN (SELECT t.doc_id, t.term, s.n_tok
        |        FROM toks t JOIN sz s ON t.doc_id = s.doc_id) b
        |    ON a.term = b.term AND a.doc_id <> b.doc_id
        |      AND b.n_tok >= ceil(0.8 * a.n_tok)
        |), inter AS (
        |  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
        |  FROM cand c JOIN toks ta ON ta.doc_id = c.doc_a
        |    JOIN toks tb ON tb.doc_id = c.doc_b AND tb.term = ta.term
        |  GROUP BY 1, 2
        |)
        |SELECT i.doc_a, i.doc_b, i.n_inter, sa.n_tok AS n_a, sb.n_tok AS n_b,
        |  CAST(i.n_inter AS DOUBLE) / CAST(sa.n_tok AS DOUBLE) AS containment
        |FROM inter i JOIN sz sa ON sa.doc_id = i.doc_a
        |  JOIN sz sb ON sb.doc_id = i.doc_b
        |WHERE CAST(i.n_inter AS DOUBLE) / CAST(sa.n_tok AS DOUBLE) >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin,
  )
}
