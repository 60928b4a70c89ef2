package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** One named query per operator of the reference's inventory (SURVEY.md §2),
  * phrased over the driver's star schema. Every query carries a DuckDB
  * oracle with IDENTICAL column aliases; floating-point aggregates are
  * computed through exact decimal arithmetic on both sides so the hashes
  * match bit-for-bit regardless of partitioning/summation order.
  */
object ReferenceQueries {
  type Q = (SparkSession, String) => DataFrame

  // Exact decimal sum of a double expression, surfaced as double.
  // Order-independent (decimal addition is exact), so Spark's partial/final
  // aggregation over any partitioning matches DuckDB's sequential sum.
  private def decSum(e: org.apache.spark.sql.Column, p: Int, s: Int) =
    sum(e.cast(DecimalType(p, s))).cast(DoubleType)

  val queries: Map[String, Q] = Map(
    // S2: local in-memory relation with explicit schema (+F8 lit constant).
    // Reference: power_ingestion.py:52-61.
    "s2_local_relation" -> { (spark, _) =>
      val schema = StructType(Seq(
        StructField("country", StringType, nullable = false),
        StructField("ord", IntegerType, nullable = false),
      ))
      val rows = Seq(Row("de", 1), Row("fr", 2), Row("ch", 3)).asJava
      spark.createDataFrame(rows, schema)
        .withColumn("source", lit("energy-charts"))
        .orderBy("ord")
    },

    // S3: parquet table scan. Reference: bronze_to_silver.py:56.
    "s3_scan" -> { (spark, dir) =>
      Tables.region(spark, dir).orderBy("r_regionkey")
    },

    // S4: backfill date range, done relationally. Reference: dates.py:5-37.
    "s4_date_range" -> { (spark, _) =>
      spark.range(1)
        .select(explode(sequence(
          lit(java.sql.Date.valueOf("2025-01-01")),
          lit(java.sql.Date.valueOf("2025-01-07")),
        )).as("d"))
        .orderBy("d")
    },

    // K3/A3: count action. Reference: main.py:86-101.
    "k3_count" -> { (spark, dir) =>
      Tables.lineitem(spark, dir).agg(count(lit(1)).as("n_rows"))
    },

    // P1: column projection. Reference: bronze_to_silver.py:66-93.
    "p1_project" -> { (spark, dir) =>
      Tables.lineitem(spark, dir)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
        .orderBy("l_orderkey", "l_linenumber")
    },

    // P2: derived column via withColumn. Reference: bronze_to_silver.py:59-80.
    "p2_derived_column" -> { (spark, dir) =>
      Tables.lineitem(spark, dir)
        .withColumn("revenue", col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .select("l_orderkey", "l_linenumber", "revenue")
        .orderBy("l_orderkey", "l_linenumber")
    },

    // P3: rename/alias. Reference: silver_to_gold.py:112.
    "p3_rename" -> { (spark, dir) =>
      Tables.customer(spark, dir)
        .select(
          col("c_custkey").as("customer_id"),
          col("c_name").as("customer_name"),
          col("c_acctbal").as("account_balance"),
        )
        .orderBy("customer_id")
    },

    // P4+F10: null-drop filter over a JSON-derived nullable column.
    // Reference: bronze_to_silver.py:95,147.
    "p4_null_filter" -> { (spark, dir) =>
      Tables.eventsParallel(spark, dir)
        .withColumn("k_nonzero", nullif(get_json_object(col("props"), "$.k"), lit("0")))
        .where(col("k_nonzero").isNotNull && col("event_id").isNotNull)
        .select("event_id", "k_nonzero")
        .orderBy("event_id")
    },

    // P5+F9: normalized equality filter. Reference: silver_to_gold.py:105.
    "p5_normalized_filter" -> { (spark, dir) =>
      Tables.part(spark, dir)
        .withColumn("p_type_norm", lower(trim(col("p_type"))))
        .filter(col("p_type_norm") === "promo")
        .select("p_partkey", "p_type", "p_type_norm")
        .orderBy("p_partkey")
    },

    // P6: casts (double->int, timestamp->date). Reference: bronze_to_silver.py:69,92.
    // The explicit floor() pins the double->int semantics: Spark's cast
    // truncates while DuckDB's rounds, so a bare cast only agrees on
    // integral values — floor agrees everywhere.
    "p6_cast" -> { (spark, dir) =>
      Tables.lineitem(spark, dir)
        .select(
          col("l_orderkey"),
          col("l_linenumber"),
          floor(col("l_quantity")).cast(IntegerType).as("qty_int"),
          col("l_shipdate").cast(DateType).as("ship_date"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    },

    // J1: inner equi-join with USING semantics (single shared key column).
    // Reference: silver_to_gold.py:108-115. The small side is left to AQE —
    // customer is far under the broadcast threshold at every SF we run.
    "j1_join_inner" -> { (spark, dir) =>
      val o = Tables.orders(spark, dir).withColumnRenamed("o_custkey", "custkey")
      val c = Tables.customer(spark, dir).withColumnRenamed("c_custkey", "custkey")
      o.join(c, Seq("custkey"), "inner")
        .select("custkey", "o_orderkey", "o_totalprice", "c_mktsegment")
        .orderBy("o_orderkey")
    },

    // J2-J4: outer/semi/anti joins (beyond the reference's single inner
    // join — the rest of the join family a complete engine offers).
    "j2_join_left" -> { (spark, dir) =>
      val c = Tables.customer(spark, dir)
      val o = Tables.orders(spark, dir)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .select(col("c_custkey"), col("c_mktsegment"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"))
        .orderBy("c_custkey")
    },
    "j3_join_semi" -> { (spark, dir) =>
      val c = Tables.customer(spark, dir)
      val o = Tables.orders(spark, dir).where(col("o_totalprice") > 300000.0)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },
    // Anti-join against a filtered right side (an unfiltered one matches
    // nothing — every customer has orders at every SF).
    "j4_join_anti" -> { (spark, dir) =>
      val c = Tables.customer(spark, dir)
      val o = Tables.orders(spark, dir).where(col("o_totalprice") > 300000.0)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    // A1+F6: group-by SUM at daily grain. Reference: silver_to_gold.py:29-33.
    "a1_groupby_sum" -> { (spark, dir) =>
      Tables.lineitem(spark, dir)
        .withColumn("ship_date", to_date(col("l_shipdate")))
        .groupBy(col("l_returnflag"), col("ship_date"))
        .agg(
          decSum(col("l_quantity"), 20, 4).as("sum_qty"),
          decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 27, 6).as("revenue"),
          count(lit(1)).as("n_items"),
        )
        .orderBy("l_returnflag", "ship_date")
    },

    // A2: group-by AVG at daily grain. Reference: silver_to_gold.py:61-65.
    // avg = exact decimal sum / count, so it is partitioning-independent.
    "a2_groupby_avg" -> { (spark, dir) =>
      Tables.events(spark, dir)
        .withColumn("day", to_date(col("ts_sec")))
        .groupBy("day")
        .agg(
          (decSum(col("value"), 20, 4) / count(col("value"))).as("avg_value"),
          count(lit(1)).as("n_events"),
        )
        .orderBy("day")
    },

    // A6: rollup (hierarchical totals — beyond the reference's flat
    // group-bys; same partial/final hash-agg shape).
    "a6_rollup" -> { (spark, dir) =>
      Tables.lineitem(spark, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(
          decSum(col("l_quantity"), 20, 4).as("sum_qty"),
          count(lit(1)).as("n_items"),
        )
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    },

    // A7: descriptive statistics (mean/stddev/corr) computed from
    // quantized-integer sums — the builtin stddev/corr accumulate doubles
    // in engine-specific orders, so a cross-engine-exact version derives
    // everything from exact sums with identical double formulas.
    "a7_stats" -> { (spark, dir) =>
      val xq = floor(col("l_extendedprice") * 100).cast(LongType)
      val yq = col("l_quantity").cast(LongType)
      val agg = Tables.lineitem(spark, dir)
        .select(col("l_returnflag"), xq.as("xq"), yq.as("yq"))
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          sum(col("xq")).cast(DoubleType).as("sx"),
          sum((col("xq") * col("xq")).cast(DecimalType(38, 0))).cast(DoubleType).as("sxx"),
          sum(col("yq")).cast(DoubleType).as("sy"),
          sum((col("yq") * col("yq")).cast(DecimalType(38, 0))).cast(DoubleType).as("syy"),
          sum((col("xq") * col("yq")).cast(DecimalType(38, 0))).cast(DoubleType).as("sxy"),
        )
      val n = col("n").cast(DoubleType)
      // Divisors are NULLIF-guarded: a single-row group (n-1 = 0) or a
      // zero-variance group would be null-vs-inf cross-engine otherwise.
      agg.select(
        col("l_returnflag"),
        col("n").as("n_items"),
        (col("sx") / n / 100.0).as("mean_price"),
        (sqrt((n * col("sxx") - col("sx") * col("sx")) / nullif(n * (n - 1), lit(0.0))) / 100.0)
          .as("stddev_price"),
        ((n * col("sxy") - col("sx") * col("sy")) /
          nullif(
            sqrt(n * col("sxx") - col("sx") * col("sx")) *
              sqrt(n * col("syy") - col("sy") * col("sy")),
            lit(0.0)))
          .as("corr_price_qty"),
      ).orderBy("l_returnflag")
    },

    // A8: exact percentiles (continuous interpolation — Spark's
    // `percentile` and DuckDB's `quantile_cont` share the formula, so the
    // doubles match bit-for-bit; probed before adoption).
    // One array-form percentile call — a single sort buffer per group —
    // then the array is unpacked to scalar columns: the driver's compare
    // hashes values via pandas, which cannot sort array cells.
    "a8_percentiles" -> { (spark, dir) =>
      Tables.lineitem(spark, dir)
        .groupBy("l_returnflag")
        .agg(expr("percentile(l_extendedprice, array(0.25, 0.5, 0.95))").as("pcts"))
        .select(
          col("l_returnflag"),
          col("pcts").getItem(0).as("p25"),
          col("pcts").getItem(1).as("p50"),
          col("pcts").getItem(2).as("p95"),
        )
        .orderBy("l_returnflag")
    },

    // A9: cube — the full grouping-sets lattice (rollup covers the
    // hierarchy; cube completes the group-by family).
    "a9_cube" -> { (spark, dir) =>
      Tables.lineitem(spark, dir)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(decSum(col("l_quantity"), 20, 4).as("sum_qty"), count(lit(1)).as("n_items"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    },

    // A4: DISTINCT + ORDER BY. Reference: silver_to_gold.py:100-101.
    "a4_distinct_orderby" -> { (spark, dir) =>
      Tables.part(spark, dir).select("p_brand").distinct().orderBy("p_brand")
    },

    // A5: exact distinct counts (the scalable twin x_approx_distinct uses HLL).
    "a5_count_distinct" -> { (spark, dir) =>
      Tables.events(spark, dir).agg(
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(col("event_type")).as("n_types"),
      )
    },

    // G1: explode over an array column. Reference: bronze_to_silver.py:70.
    "g1_explode" -> { (spark, dir) =>
      Tables.embeddings(spark, dir)
        .select(col("vec_id"), explode(col("embedding")).as("val"))
        .orderBy("vec_id", "val")
    },

    // G2+G3: arrays_zip (null-padding) + explode of the zipped pairs + the
    // null filter that drops the padding. Reference: bronze_to_silver.py:80-95.
    "g2_arrays_zip" -> { (spark, dir) =>
      Tables.embeddings(spark, dir)
        .withColumn("a", slice(col("embedding"), 1, 6))
        .withColumn("b", slice(col("embedding"), 1, 3))
        .withColumn("p", explode(arrays_zip(col("a"), col("b"))))
        .where(col("p.a").isNotNull && col("p.b").isNotNull)
        .select(col("vec_id"), col("p.a").as("a_val"), col("p.b").as("b_val"))
        .orderBy("vec_id", "a_val")
    },

    // G3 variant with positions (the long-format flatten used by silver).
    "g3_posexplode" -> { (spark, dir) =>
      Tables.embeddings(spark, dir)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("idx", "val")))
        .orderBy("vec_id", "idx")
    },

    // G4: outer explode — rows with null arrays survive with a null value
    // (the G1 inner explode drops them; both semantics offered).
    "g4_explode_outer" -> { (spark, dir) =>
      Tables.embeddings(spark, dir)
        .withColumn("arr",
          when(col("vec_id") % 7 === 0, lit(null)).otherwise(slice(col("embedding"), 1, 2)))
        .select(col("vec_id"), explode_outer(col("arr")).as("val"))
        .orderBy("vec_id", "val")
    },

    // P7: pivot — long-to-wide reshaping (fixed value list, so the output
    // schema is static and cluster-friendly; pivoted counts coalesce to 0).
    "p7_pivot" -> { (spark, dir) =>
      val types = Seq("click", "error", "purchase", "signup", "view")
      Tables.events(spark, dir)
        .groupBy("user_id")
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .select(col("user_id") +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
        .orderBy("user_id")
    },

    // F1: from_json with explicit schema. Reference: bronze_to_silver.py:59-61.
    "f1_from_json" -> { (spark, dir) =>
      Tables.eventsParallel(spark, dir)
        .select(
          col("event_id"),
          from_json(col("props"), StructType(Seq(StructField("k", IntegerType))))
            .getField("k").as("k_val"),
        )
        .orderBy("event_id")
    },

    // F2: get_json_object path extraction. Reference: bronze_to_silver.py:120-126.
    "f2_get_json_object" -> { (spark, dir) =>
      Tables.eventsParallel(spark, dir)
        .select(col("event_id"), get_json_object(col("props"), "$.k").as("k_str"))
        .orderBy("event_id")
    },

    // F3: coalesce over candidate fields. Reference: bronze_to_silver.py:124-132.
    "f3_coalesce" -> { (spark, dir) =>
      Tables.eventsParallel(spark, dir)
        .select(
          col("event_id"),
          coalesce(
            get_json_object(col("props"), "$.missing"),
            get_json_object(col("props"), "$.k"),
            lit("0"),
          ).as("k_or_default"),
        )
        .orderBy("event_id")
    },

    // F4+F5: epoch-seconds -> timestamp round trip (UTC-pinned session).
    // Reference: bronze_to_silver.py:91,143.
    "f4_timestamp_roundtrip" -> { (spark, dir) =>
      Tables.events(spark, dir)
        .select(
          col("event_id"),
          to_timestamp(from_unixtime(expr("ts div 1000000000"))).as("ts_second"),
        )
        .orderBy("event_id")
    },

    // F6: to_date day bucketing. Reference: silver_to_gold.py:30,62.
    "f6_to_date" -> { (spark, dir) =>
      Tables.events(spark, dir)
        .select(col("event_id"), to_date(col("ts_sec")).as("day"))
        .orderBy("event_id")
    },

    // F7+F8: ingestion metadata stamps. Reference: power_ingestion.py:64-69.
    // The wall-clock stamp itself can never hash across engines, so the
    // RESULT projects it through deterministic gates instead: the stamp
    // is applied (real current_timestamp), then asserted non-null and
    // inside the engine's own run-day bracket (±1 day of its own
    // current_date — each engine brackets against its own clock, so both
    // sides yield identical booleans and the query is hash-exact).
    "f7_metadata_stamp" -> { (spark, dir) =>
      Tables.region(spark, dir)
        .withColumn("ingested_at", current_timestamp())
        .withColumn("source", lit("energy-charts"))
        .select(col("r_regionkey"), col("r_name"), col("source"),
          col("ingested_at").isNotNull.as("stamped"),
          to_date(col("ingested_at"))
            .between(date_sub(current_date(), 1), date_add(current_date(), 1))
            .as("stamp_in_bracket"))
        .orderBy("r_regionkey")
    },

    // K4: global top-N — plans as TakeOrderedAndProject (per-partition
    // heap + driver merge of N rows), not a full sort: the only sane
    // "ORDER BY ... LIMIT" shape at 100 TB.
    "k4_topn" -> { (spark, dir) =>
      Tables.orders(spark, dir)
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    },

    // Set ops (beyond the reference, which keeps its two datasets joined only).
    "u1_union_all" -> { (spark, dir) =>
      val c = Tables.customer(spark, dir).select(col("c_nationkey").as("nationkey"))
      val s = Tables.supplier(spark, dir).select(col("s_nationkey").as("nationkey"))
      c.unionAll(s).groupBy("nationkey").agg(count(lit(1)).as("n")).orderBy("nationkey")
    },
    "u2_intersect" -> { (spark, dir) =>
      val c = Tables.customer(spark, dir).select(col("c_nationkey").as("nationkey"))
      val s = Tables.supplier(spark, dir).select(col("s_nationkey").as("nationkey"))
      c.intersect(s).orderBy("nationkey")
    },

    // W1: window top-k per group (foundation for similarity top-k).
    "w1_window_topk" -> { (spark, dir) =>
      val o = Tables.orders(spark, dir)
      val c = Tables.customer(spark, dir)
      val joined = o.join(c, o("o_custkey") === c("c_custkey"))
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      joined
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= 3)
        .select("c_mktsegment", "rank", "o_orderkey", "o_totalprice")
        .orderBy("c_mktsegment", "rank")
    },

    // F9 (beyond ref): the Spark 4 VARIANT path — parse_json into the
    // binary variant encoding, typed extraction with variant_get. The
    // storage-efficient successor to get_json_object string re-parsing
    // (one parse, many typed reads).
    "f9_variant" -> { (spark, dir) =>
      Tables.eventsParallel(spark, dir)
        .select(
          col("event_id"),
          variant_get(parse_json(col("props")), "$.k", "int").as("k_int"),
          variant_get(parse_json(col("props")), "$.missing", "string").as("missing_str"),
        )
        .orderBy("event_id")
    },

    // J7: FULL OUTER join — unmatched rows survive from BOTH sides with
    // nulls on the other (25 customer nations vs 2 supplier nations at
    // this predicate → 23 half-null rows). Key coalesced for output.
    "j7_join_full" -> { (spark, dir) =>
      val c = Tables.customer(spark, dir)
        .where(col("c_acctbal") < -500)
        .groupBy(col("c_nationkey").as("nk"))
        .agg(count(lit(1)).as("n_cust"))
      val s = Tables.supplier(spark, dir)
        .where(col("s_acctbal") < -500)
        .groupBy(col("s_nationkey").as("nk2"))
        .agg(count(lit(1)).as("n_supp"))
      c.join(s, col("nk") === col("nk2"), "full_outer")
        .select(
          coalesce(col("nk"), col("nk2")).as("nationkey"),
          col("n_cust"), col("n_supp"))
        .orderBy("nationkey")
    },

    // J6: null-safe equi-join (<=>): NULL keys match each other — the
    // semantics a naive `=` join silently drops. Aggregated sides keep
    // the joined relation small and the NULL bucket unambiguous.
    "j6_nullsafe_join" -> { (spark, dir) =>
      val ev = Tables.events(spark, dir)
      def keyed(eventType: String, outName: String) = ev
        .where(col("event_type") === eventType)
        .select(
          when(col("user_id") % 10 === 0, lit(null))
            .otherwise(col("user_id") % 7).as("k"))
        .groupBy("k")
        .agg(count(lit(1)).as(outName))
      val a = keyed("click", "n_clicks")
      val b = keyed("view", "n_views").withColumnRenamed("k", "k_b")
      a.join(b, col("k") <=> col("k_b"))
        .select(col("k"), col("n_clicks"), col("n_views"))
        .orderBy(col("k").asc_nulls_first)
    },

    // P8: unpivot (wide → long) — the inverse of p7's pivot.
    "p8_unpivot" -> { (spark, dir) =>
      Tables.lineitem(spark, dir)
        .select("l_orderkey", "l_linenumber", "l_quantity",
          "l_extendedprice", "l_discount", "l_tax")
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          "metric", "value")
        .orderBy("l_orderkey", "l_linenumber", "metric")
    },

    // A13: max_by/min_by (argmax aggregates; DuckDB arg_max/arg_min).
    // The ordering value packs (ship-day, orderkey, linenumber) into one
    // long so the selected rows are deterministic on both engines.
    // Collision-free while l_orderkey*8 + l_linenumber < 10^12, i.e.
    // orderkeys up to ~1.25e11 — far beyond any plausible SF; the day
    // component stays < 10^5, so days*10^12 < 10^17 fits a long.
    "a13_minmax_by" -> { (spark, dir) =>
      val ord = (datediff(to_date(col("l_shipdate")), lit("1970-01-01").cast(DateType))
        .cast(LongType) * 1000000000000L +
        col("l_orderkey") * 8L + col("l_linenumber"))
      Tables.lineitem(spark, dir)
        .select(col("l_returnflag"), col("l_orderkey"), ord.as("ord"))
        .groupBy("l_returnflag")
        .agg(
          max_by(col("l_orderkey"), col("ord")).as("latest_orderkey"),
          min_by(col("l_orderkey"), col("ord")).as("earliest_orderkey"),
          max(col("ord")).as("max_ord"),
        )
        .orderBy("l_returnflag")
    },

    // A12: discrete percentiles — actual data values, no interpolation
    // (a8 covers the continuous form). Computed by rank selection:
    // percentile_disc(k/100) is the value at sorted position
    // ceil(k·n/100) = (k·n + 99) div 100 (exact integer arithmetic — a
    // double ceil(p·n) can land one off when p·n is representable high).
    // Rank selection is Packing.groupRank (a18's shape, VERDICT r11 #4):
    // `row_number() OVER (PARTITION BY l_returnflag)` sorts the entire
    // fact on 3 tasks however many cores exist (the whole-partition sort
    // buffer the r11 sf1.0 profile flagged). The picked VALUE at a rank
    // is tie-order-invariant, so the result is hash-identical to the
    // window form and to the oracle's SQL-standard WITHIN GROUP form
    // (5.63 s → ~1.4 s at sf1.0).
    "a12_percentile_disc" -> { (spark, dir) =>
      val base = Tables.lineitem(spark, dir)
        .select(col("l_returnflag"), col("l_extendedprice"),
          (col("l_orderkey") * lit(8L) + col("l_linenumber")).as("__tb"))
      def pick(k: Int) =
        min(when(col("rn") === expr(s"(${k}L * n + 99L) div 100L"),
          col("l_extendedprice")))
      graft.operators.Packing.groupRank(base, "l_returnflag",
          Seq(col("l_extendedprice"), col("__tb")))
        .groupBy("l_returnflag")
        .agg(pick(25).as("p25_disc"), pick(50).as("p50_disc"),
          pick(95).as("p95_disc"))
        .orderBy("l_returnflag")
    },

    // J5: star-schema join + top-N revenue (TPC-H Q3 shape): selective
    // dimension filter joined through orders into lineitem, revenue per
    // order, top 10. Revenue accumulates as exact integers —
    // cents × (10000 − discount-bp) — so the top-10 cutoff is identical
    // cross-engine; ties break on o_orderkey. At scale: the filtered
    // customer side broadcasts, lineitem never shuffles twice (AQE
    // reuses the o_orderkey exchange for the group-by).
    "j5_star_join_topn" -> { (spark, dir) =>
      val c = Tables.customer(spark, dir)
        .where(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val o = Tables.orders(spark, dir).select("o_orderkey", "o_custkey", "o_orderdate")
      val l = Tables.lineitem(spark, dir)
      val revQ = QueryExprs.revQ
      broadcast(c)
        .join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("order_date"), revQ.as("rq"))
        .groupBy("o_orderkey", "order_date")
        .agg((sum(col("rq")).cast(DoubleType) / 1000000.0).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    },

    // A10: GROUPING SETS with grouping() disambiguation — the general
    // grouping-lattice form (rollup/cube cover the fixed lattices).
    "a10_grouping_sets" -> { (spark, dir) =>
      Tables.lineitem(spark, dir).createOrReplaceTempView("li_gs")
      spark.sql(
        """SELECT l_returnflag, l_linestatus,
          |  CAST(grouping(l_returnflag) AS INT) AS g_rf,
          |  CAST(grouping(l_linestatus) AS INT) AS g_ls,
          |  CAST(SUM(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) AS sum_qty,
          |  COUNT(*) AS n_items
          |FROM li_gs
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
          |ORDER BY g_rf, g_ls, l_returnflag, l_linestatus""".stripMargin)
    },

    // A11: conditional aggregation (CASE-gated sums/counts) — the
    // one-pass "segmented metrics" shape that replaces N filtered scans.
    // l_quantity is integral, so double sums stay exact at any order.
    "a11_conditional_agg" -> { (spark, dir) =>
      Tables.lineitem(spark, dir)
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n_total"),
          count(when(col("l_discount") > 0.05, 1)).as("n_highdisc"),
          sum(when(col("l_discount") > 0.05, col("l_quantity")).otherwise(lit(0.0)))
            .as("qty_highdisc"),
          (count(when(col("l_discount") > 0.05, 1)).cast(DoubleType) /
            count(lit(1))).as("share_highdisc"),
        )
        .orderBy("l_returnflag")
    },

    // U3: EXCEPT (set difference) — the held-out complement of the
    // deterministic sample (u1/u2 cover union/intersect).
    "u3_except" -> { (spark, dir) =>
      val docs = Tables.documents(spark, dir)
      docs.select("doc_id")
        .except(
          graft.operators.Sampling
            .deterministicSample(docs, col("doc_id"), "seed42", sixteenths = 4)
            .select("doc_id"))
        .orderBy("doc_id")
    },

    // F8 (beyond ref): date arithmetic — truncation, offsets, deltas,
    // component extraction. All integer/calendar ops: no float risk.
    "f8_date_arith" -> { (spark, dir) =>
      Tables.orders(spark, dir)
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("d"))
        .select(
          col("o_orderkey"),
          col("d"),
          year(col("d")).as("y"),
          month(col("d")).as("m"),
          dayofmonth(col("d")).as("dom"),
          date_add(col("d"), 30).as("due_date"),
          datediff(to_date(lit("2026-01-01")), col("d")).as("days_until_2026"),
          date_trunc("month", col("d")).cast(DateType).as("month_start"),
          last_day(col("d")).as("month_end"),
        )
        .orderBy("o_orderkey")
    },

    // BUSINESS-day arithmetic — the SLA calendar every ops dashboard
    // needs and no engine ships as a builtin: weekdays between order
    // date and the order's last shipment, in closed form. W(d) =
    // 5·(d div 7) + C(d mod 7) counts weekdays in [epoch, d) (day 0 =
    // Thu 1970-01-01; C is the 7-case cumulative written as the SAME
    // CASE on both engines), so bd = W(ship) − W(order) is pure
    // integer arithmetic — no per-day explode, no calendar table.
    // Census per priority: exact day mass + one trailing mean.
    "f14_business_days" -> { (spark, dir) =>
      val lastShip = Tables.lineitem(spark, dir)
        .groupBy(col("l_orderkey"))
        .agg(max(to_date(col("l_shipdate"))).as("ship"))
      val caseC = "CASE %s %% 7 WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 2 " +
        "WHEN 3 THEN 2 WHEN 4 THEN 2 WHEN 5 THEN 3 ELSE 4 END"
      Tables.orders(spark, dir)
        .join(lastShip, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority").as("prio"),
          datediff(col("ship"), to_date(lit("1970-01-01"))).as("es"),
          datediff(to_date(col("o_orderdate")), to_date(lit("1970-01-01")))
            .as("eo"))
        .withColumn("bd", expr(
          s"CAST((5 * (es div 7) + ${caseC.format("es")}) - " +
            s"(5 * (eo div 7) + ${caseC.format("eo")}) AS BIGINT)"))
        .groupBy("prio")
        .agg(count(lit(1)).as("n_orders"), sum(col("bd")).as("bd_sum"),
          max(col("bd")).as("bd_max"))
        .withColumn("bd_mean",
          col("bd_sum").cast(DoubleType) / col("n_orders").cast(DoubleType))
        .orderBy("prio")
    },

    // W3: running + sliding frame aggregates per customer. The running
    // sum is decimal-exact; the moving average divides two exact values.
    // Window ordering is (o_orderdate, o_orderkey) — unique, so RANGE
    // (engine default) and ROWS frames coincide and results are stable.
    "w3_running_window" -> { (spark, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val w3r = w.rowsBetween(-2, Window.currentRow)
      Tables.orders(spark, dir)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice"))
        .withColumn("rn", row_number().over(w))
        .withColumn("running_spend",
          sum(col("o_totalprice").cast(DecimalType(20, 4))).over(w).cast(DoubleType))
        .withColumn("avg3",
          (sum(col("o_totalprice").cast(DecimalType(20, 4))).over(w3r).cast(DoubleType) /
            count(lit(1)).over(w3r)))
        .withColumn("order_date", to_date(col("o_orderdate")))
        .drop("o_orderdate")
        .orderBy("o_custkey", "rn")
    },

    // W4: lead/lag/ntile/percent_rank/cume_dist — the offset + rank
    // window family. All derive from integer positions over a unique
    // ordering, so doubles (percent_rank/cume_dist) are identical
    // cross-engine.
    "w4_lead_lag" -> { (spark, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(spark, dir)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice"))
        .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
        .withColumn("next_price", lead(col("o_totalprice"), 1).over(w))
        .withColumn("quartile", ntile(4).over(w))
        .withColumn("pct_rank", percent_rank().over(w))
        .withColumn("cume", cume_dist().over(w))
        .drop("o_orderdate")
        .orderBy("o_custkey", "o_orderkey")
    },
  )

  val oracles: Map[String, String] = Map(
    "s2_local_relation" ->
      """SELECT country, ord, 'energy-charts' AS source
        |FROM (VALUES ('de', 1), ('fr', 2), ('ch', 3)) AS t(country, ord)
        |ORDER BY ord""".stripMargin,
    "s3_scan" -> "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
    "s4_date_range" ->
      """SELECT CAST(unnest(generate_series(DATE '2025-01-01', DATE '2025-01-07',
        |  INTERVAL 1 DAY)) AS DATE) AS d ORDER BY d""".stripMargin,
    "k3_count" -> "SELECT COUNT(*) AS n_rows FROM lineitem",
    "p1_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "p2_derived_column" ->
      """SELECT l_orderkey, l_linenumber,
        |  l_extendedprice * (1.0 - l_discount) AS revenue
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "p3_rename" ->
      """SELECT c_custkey AS customer_id, c_name AS customer_name,
        |  c_acctbal AS account_balance
        |FROM customer ORDER BY customer_id""".stripMargin,
    "p4_null_filter" ->
      """SELECT event_id, nullif(json_extract_string(props, '$.k'), '0') AS k_nonzero
        |FROM events
        |WHERE nullif(json_extract_string(props, '$.k'), '0') IS NOT NULL
        |  AND event_id IS NOT NULL
        |ORDER BY event_id""".stripMargin,
    "p5_normalized_filter" ->
      """SELECT p_partkey, p_type, lower(trim(p_type)) AS p_type_norm
        |FROM part WHERE lower(trim(p_type)) = 'promo' ORDER BY p_partkey""".stripMargin,
    "p6_cast" ->
      """SELECT l_orderkey, l_linenumber, CAST(floor(l_quantity) AS INT) AS qty_int,
        |  CAST(l_shipdate AS DATE) AS ship_date
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "k4_topn" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "j1_join_inner" ->
      """SELECT o.o_custkey AS custkey, o.o_orderkey, o.o_totalprice, c.c_mktsegment
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY o.o_orderkey""".stripMargin,
    "j2_join_left" ->
      """SELECT c.c_custkey, c.c_mktsegment, coalesce(o.n_orders, 0) AS n_orders
        |FROM customer c LEFT JOIN (
        |  SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY 1
        |) o ON c.c_custkey = o.o_custkey
        |ORDER BY c.c_custkey""".stripMargin,
    "j3_join_semi" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000.0)
        |ORDER BY c_custkey""".stripMargin,
    "j4_join_anti" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000.0)
        |ORDER BY c_custkey""".stripMargin,
    "a6_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n_items
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "a1_groupby_sum" ->
      """SELECT l_returnflag, CAST(l_shipdate AS DATE) AS ship_date,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(27,6))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "a2_groupby_avg" ->
      """SELECT CAST(ts AS DATE) AS day,
        |  CAST(SUM(CAST(value AS DECIMAL(20,4))) AS DOUBLE) / COUNT(value) AS avg_value,
        |  COUNT(*) AS n_events
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "a4_distinct_orderby" ->
      "SELECT DISTINCT p_brand FROM part ORDER BY p_brand",
    "a9_cube" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n_items
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "a8_percentiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_extendedprice, 0.25) AS p25,
        |  quantile_cont(l_extendedprice, 0.50) AS p50,
        |  quantile_cont(l_extendedprice, 0.95) AS p95
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "a7_stats" ->
      """WITH q AS (
        |  SELECT l_returnflag,
        |    CAST(floor(l_extendedprice * 100) AS BIGINT) AS xq,
        |    CAST(l_quantity AS BIGINT) AS yq
        |  FROM lineitem
        |), s AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    CAST(SUM(xq) AS DOUBLE) AS sx, CAST(SUM(xq * xq) AS DOUBLE) AS sxx,
        |    CAST(SUM(yq) AS DOUBLE) AS sy, CAST(SUM(yq * yq) AS DOUBLE) AS syy,
        |    CAST(SUM(xq * yq) AS DOUBLE) AS sxy
        |  FROM q GROUP BY 1
        |)
        |SELECT l_returnflag, n AS n_items,
        |  sx / n / 100.0 AS mean_price,
        |  sqrt((n * sxx - sx * sx) / nullif(n * (n - 1), 0)) / 100.0 AS stddev_price,
        |  (n * sxy - sx * sy) /
        |    nullif(sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy), 0)
        |    AS corr_price_qty
        |FROM s ORDER BY l_returnflag""".stripMargin,
    "a5_count_distinct" ->
      """SELECT COUNT(DISTINCT user_id) AS n_users,
        |  COUNT(DISTINCT event_type) AS n_types FROM events""".stripMargin,
    "g1_explode" ->
      """SELECT vec_id, u.val FROM embeddings, UNNEST(embedding) AS u(val)
        |ORDER BY vec_id, val""".stripMargin,
    "g2_arrays_zip" ->
      """SELECT vec_id, struct_extract(u.p, 1) AS a_val,
        |  struct_extract(u.p, 2) AS b_val
        |FROM embeddings, UNNEST(list_zip(embedding[1:6], embedding[1:3])) AS u(p)
        |WHERE struct_extract(u.p, 1) IS NOT NULL
        |  AND struct_extract(u.p, 2) IS NOT NULL
        |ORDER BY vec_id, a_val""".stripMargin,
    "g3_posexplode" ->
      """SELECT vec_id, CAST(g.i - 1 AS INT) AS idx, embedding[g.i] AS val
        |FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS g(i)
        |ORDER BY vec_id, idx""".stripMargin,
    "g4_explode_outer" ->
      """SELECT vec_id, u.val
        |FROM embeddings LEFT JOIN UNNEST(
        |  CASE WHEN vec_id % 7 = 0 THEN NULL ELSE embedding[1:2] END) AS u(val) ON true
        |ORDER BY vec_id, val""".stripMargin,
    "p7_pivot" ->
      """SELECT user_id,
        |  COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |  COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error,
        |  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |  COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |  COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "f1_from_json" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k_val
        |FROM events ORDER BY event_id""".stripMargin,
    "f2_get_json_object" ->
      """SELECT event_id, json_extract_string(props, '$.k') AS k_str
        |FROM events ORDER BY event_id""".stripMargin,
    "f3_coalesce" ->
      """SELECT event_id, coalesce(json_extract_string(props, '$.missing'),
        |  json_extract_string(props, '$.k'), '0') AS k_or_default
        |FROM events ORDER BY event_id""".stripMargin,
    "f4_timestamp_roundtrip" ->
      """SELECT event_id, date_trunc('second', ts) AS ts_second
        |FROM events ORDER BY event_id""".stripMargin,
    "f6_to_date" ->
      "SELECT event_id, CAST(ts AS DATE) AS day FROM events ORDER BY event_id",
    // f7: each engine stamps with ITS OWN clock and gates the stamp
    // relationally (non-null, within ±1 day of its own current_date) —
    // the gate booleans are deterministic on both sides, so the query is
    // hash-comparable even though the stamp itself never could be.
    "f7_metadata_stamp" ->
      """SELECT r_regionkey, r_name, 'energy-charts' AS source,
        |  current_timestamp IS NOT NULL AS stamped,
        |  CAST(current_timestamp AS DATE)
        |    BETWEEN current_date - INTERVAL 1 DAY AND current_date + INTERVAL 1 DAY
        |    AS stamp_in_bracket
        |FROM region ORDER BY r_regionkey""".stripMargin,
    "u1_union_all" ->
      """SELECT nationkey, COUNT(*) AS n FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  UNION ALL SELECT s_nationkey FROM supplier
        |) GROUP BY nationkey ORDER BY nationkey""".stripMargin,
    "u2_intersect" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT SELECT s_nationkey FROM supplier ORDER BY nationkey""".stripMargin,
    "w1_window_topk" ->
      """SELECT c_mktsegment, rank, o_orderkey, o_totalprice FROM (
        |  SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY c.c_mktsegment
        |      ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rank
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |) WHERE rank <= 3 ORDER BY c_mktsegment, rank""".stripMargin,
    "f9_variant" ->
      """SELECT event_id,
        |  CAST(json_extract(props, '$.k') AS INT) AS k_int,
        |  json_extract_string(props, '$.missing') AS missing_str
        |FROM events ORDER BY event_id""".stripMargin,
    "j7_join_full" ->
      """WITH c AS (
        |  SELECT c_nationkey AS nk, COUNT(*) AS n_cust
        |  FROM customer WHERE c_acctbal < -500 GROUP BY 1
        |), s AS (
        |  SELECT s_nationkey AS nk2, COUNT(*) AS n_supp
        |  FROM supplier WHERE s_acctbal < -500 GROUP BY 1
        |)
        |SELECT COALESCE(nk, nk2) AS nationkey, n_cust, n_supp
        |FROM c FULL OUTER JOIN s ON nk = nk2
        |ORDER BY nationkey""".stripMargin,
    "j6_nullsafe_join" ->
      """WITH a AS (
        |  SELECT CASE WHEN user_id % 10 = 0 THEN NULL
        |    ELSE user_id % 7 END AS k, COUNT(*) AS n_clicks
        |  FROM events WHERE event_type = 'click' GROUP BY 1
        |), b AS (
        |  SELECT CASE WHEN user_id % 10 = 0 THEN NULL
        |    ELSE user_id % 7 END AS k, COUNT(*) AS n_views
        |  FROM events WHERE event_type = 'view' GROUP BY 1
        |)
        |SELECT a.k AS k, n_clicks, n_views
        |FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
        |ORDER BY k NULLS FIRST""".stripMargin,
    "p8_unpivot" ->
      """SELECT l_orderkey, l_linenumber, metric, value FROM (
        |  SELECT l_orderkey, l_linenumber,
        |    'l_quantity' AS metric, l_quantity AS value FROM lineitem
        |  UNION ALL SELECT l_orderkey, l_linenumber,
        |    'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL SELECT l_orderkey, l_linenumber,
        |    'l_discount', l_discount FROM lineitem
        |  UNION ALL SELECT l_orderkey, l_linenumber,
        |    'l_tax', l_tax FROM lineitem
        |) ORDER BY l_orderkey, l_linenumber, metric""".stripMargin,
    "a13_minmax_by" ->
      """WITH t AS (
        |  SELECT l_returnflag, l_orderkey,
        |    date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
        |      * 1000000000000 + l_orderkey * 8 + l_linenumber AS ord
        |  FROM lineitem
        |)
        |SELECT l_returnflag,
        |  arg_max(l_orderkey, ord) AS latest_orderkey,
        |  arg_min(l_orderkey, ord) AS earliest_orderkey,
        |  MAX(ord) AS max_ord
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,
    "a12_percentile_disc" ->
      """SELECT l_returnflag,
        |  percentile_disc(0.25) WITHIN GROUP (ORDER BY l_extendedprice)
        |    AS p25_disc,
        |  percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice)
        |    AS p50_disc,
        |  percentile_disc(0.95) WITHIN GROUP (ORDER BY l_extendedprice)
        |    AS p95_disc
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "j5_star_join_topn" ->
      """SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS order_date,
        |  CAST(SUM(CAST(
        |    CAST(floor(l.l_extendedprice * 100) AS BIGINT) *
        |    (10000 - CAST(floor(l.l_discount * 10000) AS BIGINT))
        |  AS HUGEINT)) AS DOUBLE) / 1000000.0 AS revenue
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |GROUP BY 1, 2
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
    "a10_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(grouping(l_returnflag) AS INT) AS g_rf,
        |  CAST(grouping(l_linestatus) AS INT) AS g_ls,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY g_rf, g_ls, l_returnflag, l_linestatus""".stripMargin,
    "a11_conditional_agg" ->
      """SELECT l_returnflag, COUNT(*) AS n_total,
        |  COUNT(CASE WHEN l_discount > 0.05 THEN 1 END) AS n_highdisc,
        |  SUM(CASE WHEN l_discount > 0.05 THEN l_quantity ELSE 0.0 END)
        |    AS qty_highdisc,
        |  CAST(COUNT(CASE WHEN l_discount > 0.05 THEN 1 END) AS DOUBLE)
        |    / COUNT(*) AS share_highdisc
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "u3_except" ->
      """SELECT doc_id FROM documents
        |EXCEPT SELECT doc_id FROM documents
        |  WHERE substr(md5('seed42:' || CAST(doc_id AS VARCHAR)), 1, 1)
        |    IN ('0', '1', '2', '3')
        |ORDER BY doc_id""".stripMargin,
    "f8_date_arith" ->
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d,
        |  year(CAST(o_orderdate AS DATE)) AS y,
        |  month(CAST(o_orderdate AS DATE)) AS m,
        |  day(CAST(o_orderdate AS DATE)) AS dom,
        |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE) AS due_date,
        |  date_diff('day', CAST(o_orderdate AS DATE), DATE '2026-01-01')
        |    AS days_until_2026,
        |  CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE)
        |    AS month_start,
        |  last_day(CAST(o_orderdate AS DATE)) AS month_end
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    // weekday-count closed form W(d) = 5·(d div 7) + C(d mod 7),
    // epoch day 0 = Thu 1970-01-01
    "f14_business_days" ->
      """WITH ls AS (
        |  SELECT l_orderkey, MAX(CAST(l_shipdate AS DATE)) AS ship
        |  FROM lineitem GROUP BY 1
        |), d AS (
        |  SELECT o.o_orderpriority AS prio,
        |    date_diff('day', DATE '1970-01-01', ls.ship) AS es,
        |    date_diff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE))
        |      AS eo
        |  FROM orders o JOIN ls ON ls.l_orderkey = o.o_orderkey
        |), b AS (
        |  SELECT prio, CAST(
        |    (5 * (es // 7) + CASE es % 7 WHEN 0 THEN 0 WHEN 1 THEN 1
        |      WHEN 2 THEN 2 WHEN 3 THEN 2 WHEN 4 THEN 2 WHEN 5 THEN 3
        |      ELSE 4 END)
        |    - (5 * (eo // 7) + CASE eo % 7 WHEN 0 THEN 0 WHEN 1 THEN 1
        |      WHEN 2 THEN 2 WHEN 3 THEN 2 WHEN 4 THEN 2 WHEN 5 THEN 3
        |      ELSE 4 END) AS BIGINT) AS bd
        |  FROM d
        |)
        |SELECT prio, COUNT(*) AS n_orders,
        |  CAST(SUM(bd) AS BIGINT) AS bd_sum, CAST(MAX(bd) AS BIGINT) AS bd_max,
        |  CAST(CAST(SUM(bd) AS BIGINT) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |    AS bd_mean
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,
    "w3_running_window" ->
      """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
        |  o_totalprice,
        |  ROW_NUMBER() OVER w AS rn,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) OVER w AS DOUBLE)
        |    AS running_spend,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) OVER w3 AS DOUBLE)
        |    / COUNT(*) OVER w3 AS avg3
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        |  w3 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, rn""".stripMargin,
    "w4_lead_lag" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  LAG(o_totalprice, 1) OVER w AS prev_price,
        |  LEAD(o_totalprice, 1) OVER w AS next_price,
        |  NTILE(4) OVER w AS quartile,
        |  PERCENT_RANK() OVER w AS pct_rank,
        |  CUME_DIST() OVER w AS cume
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
  )
}
