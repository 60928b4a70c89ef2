package graft.queries

import graft.Tables
import graft.functions.WeightedMean
import graft.operators.{IndexStore, Skyline}
import graft.streaming.SessionStream
import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-3 surface continuation: the UDAF tier (typed `Aggregator`),
  * generator surface (`stack` / `inline` — the UDTF-shaped built-ins),
  * XML parsing, the incremental partial-aggregate merge pattern that
  * powers materialized-view maintenance at warehouse scale, and a 2-D
  * skyline (Pareto dominance) operator.
  *
  * All oracle-gated; the usual cross-engine rules apply (exact integer
  * accumulators, single late double division, identical aliases).
  */
object SurfaceQueries {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(

    // UDAF surface: exact weighted mean as a typed Aggregator registered
    // for SQL. Partial aggregation is real: reduce() runs map-side,
    // merge() combines shuffle partials — same two-phase shape as the
    // built-in sum, so the shuffle carries one (num, den) pair per group,
    // not rows.
    "udaf1_weighted_mean" -> { (spark, dir) =>
      spark.udf.register("graft_wmean", F.udaf(WeightedMean.cents))
      Tables.lineitem(spark, dir).createOrReplaceTempView("lineitem_udaf")
      spark.sql("""
        SELECT l_returnflag,
               graft_wmean(CAST(floor(l_extendedprice * 100) AS BIGINT),
                           CAST(floor(l_quantity) AS BIGINT)) AS wavg_price
        FROM lineitem_udaf GROUP BY l_returnflag ORDER BY l_returnflag""")
    },

    // Incremental view maintenance: per-day partials (the stored state a
    // warehouse would persist and append to) merged up to month WITHOUT
    // rescanning the base table. Correct because the aggregate is a pair
    // of exact integer sums — associative, so partials compose; the
    // oracle computes the month rollup directly from base data.
    "inc1_incremental_agg" -> { (spark, dir) =>
      val partials = Tables.orders(spark, dir)
        .groupBy(
          to_date(col("o_orderdate")).as("day"),
          col("o_orderpriority").as("priority"))
        .agg(
          count(lit(1)).as("n"),
          sum(floor(col("o_totalprice") * 100).cast(LongType)).as("cents"))
      partials
        .groupBy(
          date_trunc("month", col("day")).cast(DateType).as("month"),
          col("priority"))
        .agg(sum("n").as("n_orders"), sum("cents").as("revenue_cents"))
        .orderBy("month", "priority")
    },

    // 2-D Pareto skyline (max size, max price): two window passes, local
    // then global — O(n log n) against the oracle's quadratic NOT EXISTS.
    "sky1_skyline" -> { (spark, dir) =>
      val pts = Tables.part(spark, dir)
        .where(col("p_brand") === "Brand#12")
        .select(
          col("p_partkey"),
          col("p_size").cast(LongType).as("p_size_l"),
          floor(col("p_retailprice") * 100).cast(LongType).as("price_cents"))
      Skyline.skyline2D(pts, "p_size_l", "price_cents").orderBy("p_partkey")
    },

    // Generator surface: stack() — the built-in UDTF that emits k rows
    // per input row (wide -> long without Dataset.unpivot).
    "g6_stack" -> { (spark, dir) =>
      Tables.orders(spark, dir)
        .where(col("o_orderkey") <= 500)
        .selectExpr(
          "o_orderkey",
          "stack(2, 'priority', o_orderpriority, 'status', o_orderstatus) AS (attr, val)")
        .orderBy("o_orderkey", "attr")
    },

    // Generator surface: inline() — explode an array of structs into
    // columns directly (the struct-typed UDTF shape).
    "g7_inline" -> { (spark, dir) =>
      Tables.nation(spark, dir)
        .selectExpr(
          "n_nationkey",
          """inline(array(
               named_struct('attr', 'name',   'val', n_name),
               named_struct('attr', 'region', 'val', CAST(n_regionkey AS STRING))))""")
        .orderBy("n_nationkey", "attr")
    },

    // Streaming: flatMapGroupsWithState — multi-row Append-mode state
    // emission (closed sessions flow out as later events prove the gap;
    // the open tail lives in state). The oracle rebuilds the same
    // sessions in SQL and drops each user's final (still-open) one.
    "st9_stream_closed_sessions" -> { (spark, dir) =>
      SessionStream.closedSessions(spark, dir)
    },

    // Streaming: event-time TIMERS (transformWithState) — sessions close
    // by TIMEOUT when the watermark passes last_event + gap, not only
    // when a later event proves the gap. The watermark-driven eviction
    // that bounds state on an unbounded stream; st9 can never emit a
    // user's final session, this does.
    "st14_timer_sessions" -> { (spark, dir) =>
      graft.streaming.TimerSessions.closedByTimeout(spark, dir)
    },

    // Streaming ANN serving from the PERSISTED IVF-PQ index (the x23
    // artifacts): probe assignment is a stateless broadcast-centroid
    // fold on the stream, candidates come from a stream-static join
    // against the on-disk codes, ADC scores against the broadcast
    // codebook, best-per-query in complete mode. nProbe=1, no refine —
    // the latency tier of the serving stack.
    "st16_stream_ann_index" -> { (spark, dir) =>
      graft.streaming.VectorStream.annTop1FromIndex(spark, dir)
    },

    // Continuous index maintenance: streamed vectors upsert into the
    // persisted IVF-PQ code table per micro-batch (encode with BASE
    // artifacts, id-keyed — final index independent of batching);
    // queries served from the merged on-disk index.
    "st21_stream_index_append" -> { (spark, dir) =>
      graft.streaming.VectorStream.streamIndexAppend(spark, dir)
    },

    // UNION DISTINCT (u1 is UNION ALL): set-semantics merge.
    "u7_union_distinct" -> { (spark, dir) =>
      Tables.nation(spark, dir).select(col("n_regionkey").as("k"))
        .union(Tables.region(spark, dir).select(col("r_regionkey").as("k")))
        .distinct()
        .orderBy("k")
    },

    // Binary-function surface: hex / base64 / sha2-256 / md5 / byte
    // length — both engines agree on case conventions (hex uppercase,
    // digest hex lowercase, RFC 4648 base64), probed before trusting.
    "f12_binary_funcs" -> { (spark, dir) =>
      Tables.nation(spark, dir).select(
          col("n_nationkey"),
          hex(col("n_name")).as("hx"),
          base64(col("n_name").cast("binary")).as("b64"),
          sha2(col("n_name"), 256).as("sha256_hex"),
          md5(col("n_name")).as("md5_hex"),
          octet_length(col("n_name")).cast(LongType).as("n_bytes"))
        .orderBy("n_nationkey")
    },

    // Array-function surface, scalar-reduced (the driver compare cannot
    // sort array cells): distinct count, sorted prefix join, membership,
    // position (Spark's missing→0 mirrored with COALESCE), first element.
    "g8_array_funcs" -> { (spark, dir) =>
      Tables.documents(spark, dir)
        .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("w"))
        .select(
          col("doc_id"),
          size(col("w")).cast(LongType).as("n_tokens"),
          size(array_distinct(col("w"))).cast(LongType).as("n_distinct"),
          array_join(slice(sort_array(col("w")), 1, 5), " ").as("first5_sorted"),
          array_contains(col("w"), "the").as("has_the"),
          array_position(col("w"), "the").as("pos_the"),
          element_at(col("w"), 1).as("first_tok"))
        .orderBy("doc_id")
    },

    // Ratio-to-report: share of each (returnflag, linestatus) cell within
    // its returnflag group — exact BIGINT cents, one double division per
    // row against the partition-window total.
    "a21_ratio_to_report" -> { (spark, dir) =>
      Tables.lineitem(spark, dir)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum(floor(col("l_extendedprice") * 100).cast(LongType)).as("grp_cents"))
        .withColumn("share",
          col("grp_cents").cast(DoubleType) /
            sum("grp_cents").over(Window.partitionBy("l_returnflag")).cast(DoubleType))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // Event-time RANGE frame with a true INTERVAL bound (w5 is the epoch-
    // seconds formulation): trailing one-hour count and exact decimal sum
    // per event. Frames are value-defined, so tied timestamps are peers
    // and the result is partitioning-independent.
    "w8_range_interval" -> { (spark, dir) =>
      Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("ts_sec"),
          floor(col("value") * 10000).cast(LongType).as("v4"))
        .createOrReplaceTempView("events_w8")
      spark.sql("""
        SELECT event_id, user_id, ts_sec,
          COUNT(*) OVER w AS n_1h,
          SUM(v4) OVER w AS sum_1h
        FROM events_w8
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec
                     RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        ORDER BY event_id""")
    },

    // The rank-filter idiom, run THROUGH the optimizer rewrite: this SQL
    // plans as TopKPerKeyPlan (RewriteRankFilterToTopK is on by default),
    // so the correctness gate exercises the custom operator against
    // DuckDB's row_number evaluation of the same text. Total order via
    // (cents DESC, orderkey, linenumber) keeps it hash-exact.
    "x17_topk_rewrite" -> { (spark, dir) =>
      Tables.lineitem(spark, dir).createOrReplaceTempView("lineitem_topk")
      spark.sql("""
        WITH c AS (
          SELECT l_returnflag, l_orderkey, l_linenumber,
                 CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents
          FROM lineitem_topk)
        SELECT l_returnflag, l_orderkey, l_linenumber, cents FROM (
          SELECT *, row_number() OVER (PARTITION BY l_returnflag
                      ORDER BY cents DESC, l_orderkey, l_linenumber) AS rn
          FROM c) WHERE rn <= 5
        ORDER BY l_returnflag, cents DESC, l_orderkey, l_linenumber""")
    },

    // Exact distinct counting via mergeable bitmaps (Spark 3.5+ bitmap
    // aggregates): per (group, 32768-bit bucket) bitmaps OR-combine
    // map-side, counts sum across buckets — the exact-tier companion to
    // HLL (x13) when the key domain is dense integers. The per-bucket
    // partial is what an incremental pipeline would persist and merge.
    "x18_bitmap_distinct" -> { (spark, dir) =>
      Tables.lineitem(spark, dir)
        .groupBy(col("l_returnflag"),
          expr("bitmap_bucket_number(l_orderkey)").as("b"))
        .agg(expr("bitmap_count(bitmap_construct_agg(bitmap_bit_position(l_orderkey)))")
          .as("cnt"))
        .groupBy("l_returnflag")
        .agg(sum("cnt").as("n_distinct_orders"))
        .orderBy("l_returnflag")
    },

    // approx_top_k (Spark 4): heavy-hitter sketch. The oracle (an exact
    // COUNT(*) histogram) is comparable ONLY when k covers every distinct
    // item, so k derives from countDistinct at query time — the
    // precondition is enforced, not assumed (a fixture gaining a 9th
    // event type would silently truncate a hardcoded k=8 and fail the
    // gate spuriously; at the k boundary the sketch tie-breaks
    // arbitrarily — never gate THAT).
    "x19_approx_topk" -> { (spark, dir) =>
      val ev = Tables.events(spark, dir)
      val k = math.max(1L,
        ev.agg(countDistinct(col("event_type")).as("n")).head.getLong(0)).toInt
      ev.agg(expr(s"approx_top_k(event_type, $k)").as("tk"))
        .select(explode(col("tk")).as("e"))
        .select(col("e.item").as("item"), col("e.count").as("est_count"))
        .orderBy(col("est_count").desc, col("item"))
    },

    // Count-min sketch on the PORTABLE hash family — unlike x13's HLL /
    // x19's space-saving (engine-internal sketches, rows-only checked),
    // this sketch is md5-keyed, so DuckDB rebuilds the identical 4×256
    // cell table and the per-key estimates gate hash-exact.
    // overcount = est − truth ≥ 0 demonstrates the one-sided error bound
    // live.
    "cms1_countmin" -> { (spark, dir) =>
      graft.operators.Dedup.countMin(Tables.events(spark, dir), "user_id",
          depth = 4, width = 256)
        .select(col("user_id"), col("n").as("n_events"), col("est").as("cms_est"),
          (col("est") - col("n")).as("overcount"))
        .orderBy("user_id")
    },

    // Per-event session-relative features (the behavioral-model training
    // columns): session id, index within session, seconds since session
    // start — one shuffle, second window rides the same partitioning.
    "sess1_session_features" -> { (spark, dir) =>
      graft.operators.Sessionize
        .eventFeatures(Tables.events(spark, dir))
        .orderBy("event_id")
    },

    // Correlated EXISTS + uncorrelated IN in one predicate — the
    // subquery-decorrelation surface (Catalyst rewrites EXISTS to a
    // semi join and IN to a semi join on the subquery relation).
    "sub2_exists_in" -> { (spark, dir) =>
      Tables.customer(spark, dir).createOrReplaceTempView("customer_sub2")
      Tables.orders(spark, dir).createOrReplaceTempView("orders_sub2")
      Tables.nation(spark, dir).createOrReplaceTempView("nation_sub2")
      spark.sql("""
        SELECT c_custkey, c_name FROM customer_sub2 c
        WHERE EXISTS (SELECT 1 FROM orders_sub2 o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
          AND c_nationkey IN (SELECT n_nationkey FROM nation_sub2
                              WHERE n_regionkey <= 1)
        ORDER BY c_custkey""")
    },

    // Streaming state-v2: transformWithState (Spark 4's StatefulProcessor
    // with named, individually-typed ValueStates) over the RocksDB store —
    // the modern replacement for mapGroupsWithState's opaque state blob.
    // Final per-user snapshot == plain batch aggregate (the oracle).
    "st10_transform_with_state" -> { (spark, dir) =>
      graft.streaming.StateV2.userTotals(spark, dir)
    },

    // XML ingestion: from_xml over a deterministically-built payload;
    // the oracle parses the identical string with regexes, so the typed
    // extraction itself is what is being checked.
    "f11_xml" -> { (spark, dir) =>
      val xml = concat(
        lit("<r><name>"), col("n_name"),
        lit("</name><rk>"), col("n_regionkey"), lit("</rk></r>"))
      val schema = StructType(Seq(
        StructField("name", StringType),
        StructField("rk", LongType)))
      Tables.nation(spark, dir)
        .select(col("n_nationkey"), from_xml(xml, schema).as("x"))
        .select(
          col("n_nationkey"),
          col("x").getField("name").as("name"),
          col("x").getField("rk").as("rk"))
        .orderBy("n_nationkey")
    },

    // Hive-style partitioned parquet SINK + partition-pruned read-back:
    // the layout every event warehouse lands in (dt=/type= dirs). The
    // write is partitionBy(event_type); the read-back filter on one
    // partition value prunes to that directory — PlanSpec's partition-
    // pruning guard proves the mechanism; this query proves the sink
    // round-trips losslessly (counts, distincts and exact value cents
    // match the unwritten source in the oracle).
    "pw1_partitioned_sink" -> { (spark, dir) =>
      val out = graft.tools.Scratch.dir("pw1").toString
      Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("ts_sec"), col("value"))
        .write.mode("overwrite").partitionBy("event_type").parquet(out)
      spark.read.parquet(out)
        .where(col("event_type") === "click")
        .groupBy(to_date(col("ts_sec")).as("day"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          sum(floor(col("value") * 100).cast(LongType)).as("value_cents"))
        .orderBy("day")
    },

    // Dynamic partition OVERWRITE — INSERT OVERWRITE that replaces only
    // the partitions present in the incoming batch
    // (partitionOverwriteMode=dynamic), the write-side twin of rst1's
    // restatement manifest: restating one event_type must not touch the
    // other types' partitions. Sequence: land all types; overwrite with
    // a CLICK-only restated batch (cents doubled); the read-back census
    // shows click restated and every other partition byte-identical
    // originals — under STATIC mode the second write would have wiped
    // them, so the non-click rows' survival IS the mode's proof.
    "pw2_dynamic_overwrite" -> { (spark, dir) =>
      val out = graft.tools.Scratch.dir("graft-pw2")
        .toString + "/t"
      val ev = Tables.events(spark, dir)
        .select(col("event_id"), col("event_type"),
          floor(col("value") * 100).cast(LongType).as("cents"))
      ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
      val prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
      try {
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        ev.where(col("event_type") === "click")
          .withColumn("cents", col("cents") * 2)
          .write.mode("overwrite").partitionBy("event_type").parquet(out)
      } finally
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
      spark.read.parquet(out)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents_total"))
        .orderBy("event_type")
    },

    // ORC sink/source round-trip — the other columnar format a Spark
    // warehouse must read and write. Equality with the parquet-sourced
    // oracle proves type fidelity (dates, doubles, strings) through the
    // ORC writer/reader pair.
    "orc1_roundtrip" -> { (spark, dir) =>
      val out = graft.tools.Scratch.dir("orc1").toString
      Tables.orders(spark, dir)
        .select("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice",
          "o_orderdate")
        .write.mode("overwrite").orc(out)
      spark.read.orc(out)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(floor(col("o_totalprice") * 100).cast(LongType)).as("cents"),
          min(to_date(col("o_orderdate"))).as("first_day"),
          max(to_date(col("o_orderdate"))).as("last_day"))
        .orderBy("o_orderpriority")
    },

    // JSON-lines sink/source round-trip over the DOCUMENTS corpus — the
    // interchange format training corpora actually arrive in. The
    // explicit read schema (never inferSchema at scale: that is a full
    // extra pass over 100 TB) plus a portable content checksum proves
    // the text — newlines, quotes, unicode — survives the JSON
    // escape/unescape pair byte-for-byte.
    "jsonl1_roundtrip" -> { (spark, dir) =>
      val out = graft.tools.Scratch.dir("jsonl1").toString
      Tables.documents(spark, dir).write.mode("overwrite").json(out)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      spark.read.schema(schema).json(out)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(graft.operators.Dedup.portableHash60(col("text")) % lit(1000003L))
            .as("content_checksum"))
        .orderBy("lang")
    },

    // Small-file compaction round-trip: 64 tiny parts rewritten to
    // ~targetBytes files (here: 1), then the compacted directory must
    // aggregate IDENTICALLY to the unwritten source — compaction is
    // pure layout, the metadata-stampede fix, never a content change.
    // files_reduced carries the layout claim into the oracle gate.
    "cmp1_compaction_roundtrip" -> { (spark, dir) =>
      val base = graft.tools.Scratch.dir("cmp1").toString
      val src = s"$base/src"
      val dst = s"$base/dst"
      Tables.events(spark, dir)
        .select("event_id", "user_id", "event_type", "value")
        .repartition(64).write.mode("overwrite").parquet(src)
      val (nBefore, nAfter) = graft.operators.Compaction.compact(
        spark, src, dst, targetBytes = 64L * 1024 * 1024)
      spark.read.parquet(dst)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          sum(floor(col("value") * 100).cast(LongType)).as("value_cents"))
        .withColumn("files_reduced", lit(nAfter < nBefore))
        .orderBy("event_type")
    },

    // Corrupt-record JSONL ingestion — the FILE-reader half of dq5's
    // quarantine (which exercised from_json): a landed JSONL file with
    // planted malformed lines reads under PERMISSIVE with
    // columnNameOfCorruptRecord, bad lines route to the corrupt column
    // (never fail the batch, never drop silently), and the census +
    // good-row checksum prove exactly the planted lines — no more, no
    // fewer — were quarantined.
    "src1_jsonl_corrupt" -> { (spark, dir) =>
      val out = graft.tools.Scratch.dir("src1").toString
      val good = Tables.documents(spark, dir)
        .select(to_json(struct(col("doc_id"), col("lang"))).as("value"))
      val bad = spark.range(7)
        .select(concat(lit("{broken json "), col("id")).as("value"))
      good.unionByName(bad).write.mode("overwrite").text(out)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("_corrupt_record", StringType)))
      spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(out)
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("_corrupt_record").isNull, 1L).otherwise(0L))
            .as("n_good"),
          sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L))
            .as("n_bad"),
          sum(when(col("_corrupt_record").isNull, col("doc_id"))
            .otherwise(0L)).as("good_id_sum"))
    },

    // CSV sink/source round-trip (quoted, explicit schema): the
    // spreadsheet-adjacent format ops teams still hand the warehouse.
    // Numeric/date/string columns only — the checksum proves the
    // quote/escape pair and the typed re-read are lossless.
    "csv1_roundtrip" -> { (spark, dir) =>
      val out = graft.tools.Scratch.dir("csv1").toString
      Tables.customer(spark, dir)
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
        .write.mode("overwrite").option("header", "true").csv(out)
      val schema = StructType(Seq(
        StructField("c_custkey", LongType), StructField("c_name", StringType),
        StructField("c_nationkey", LongType),
        StructField("c_acctbal", DoubleType)))
      spark.read.schema(schema).option("header", "true").csv(out)
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n"),
          sum(floor(col("c_acctbal") * 100).cast(LongType)).as("bal_cents"),
          sum(graft.operators.Dedup.portableHash60(col("c_name")) % lit(1000003L))
            .as("name_checksum"))
        .orderBy("c_nationkey")
    },
  )

  val oracles: Map[String, String] = Map(
    "pw1_partitioned_sink" ->
      """SELECT CAST(date_trunc('second', ts) AS DATE) AS day,
        |  COUNT(*) AS n_events,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events WHERE event_type = 'click'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // pw2: click cents restated (doubled), every other partition must
    // survive the dynamic overwrite with its ORIGINAL totals.
    "pw2_dynamic_overwrite" ->
      """SELECT event_type, COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN event_type = 'click'
        |    THEN 2 * CAST(floor(value * 100) AS BIGINT)
        |    ELSE CAST(floor(value * 100) AS BIGINT) END) AS BIGINT)
        |    AS cents_total
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "orc1_roundtrip" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
        |  MIN(CAST(o_orderdate AS DATE)) AS first_day,
        |  MAX(CAST(o_orderdate AS DATE)) AS last_day
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "jsonl1_roundtrip" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(SUM(('0x' || substr(md5(text), 1, 15))::BIGINT % 1000003)
        |    AS BIGINT) AS content_checksum
        |FROM documents GROUP BY 1 ORDER BY lang""".stripMargin,
    "cmp1_compaction_roundtrip" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
        |    AS value_cents,
        |  TRUE AS files_reduced
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "src1_jsonl_corrupt" ->
      """SELECT (SELECT COUNT(*) FROM documents) + 7 AS n_lines,
        |  (SELECT COUNT(*) FROM documents) AS n_good,
        |  CAST(7 AS BIGINT) AS n_bad,
        |  (SELECT CAST(SUM(doc_id) AS BIGINT) FROM documents) AS good_id_sum""".stripMargin,
    "csv1_roundtrip" ->
      """SELECT c_nationkey, COUNT(*) AS n,
        |  CAST(SUM(CAST(floor(c_acctbal * 100) AS BIGINT)) AS BIGINT)
        |    AS bal_cents,
        |  CAST(SUM(('0x' || substr(md5(c_name), 1, 15))::BIGINT % 1000003)
        |    AS BIGINT) AS name_checksum
        |FROM customer GROUP BY 1 ORDER BY c_nationkey""".stripMargin,
    "udaf1_weighted_mean" ->
      """SELECT l_returnflag,
        |  (CAST(SUM(CAST(floor(l_extendedprice * 100) AS BIGINT)
        |            * CAST(floor(l_quantity) AS BIGINT)) AS DOUBLE)
        |   / CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS DOUBLE)) / 100.0
        |    AS wavg_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "inc1_incremental_agg" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |  o_orderpriority AS priority,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS revenue_cents
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "sky1_skyline" ->
      """WITH pts AS (
        |  SELECT p_partkey, CAST(p_size AS BIGINT) AS p_size_l,
        |         CAST(floor(p_retailprice * 100) AS BIGINT) AS price_cents
        |  FROM part WHERE p_brand = 'Brand#12')
        |SELECT p.p_partkey, p.p_size_l, p.price_cents FROM pts p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM pts q
        |  WHERE q.p_size_l >= p.p_size_l AND q.price_cents >= p.price_cents
        |    AND (q.p_size_l > p.p_size_l OR q.price_cents > p.price_cents))
        |ORDER BY p_partkey""".stripMargin,
    "g6_stack" ->
      """SELECT o_orderkey, 'priority' AS attr, o_orderpriority AS val
        |FROM orders WHERE o_orderkey <= 500
        |UNION ALL
        |SELECT o_orderkey, 'status' AS attr, o_orderstatus AS val
        |FROM orders WHERE o_orderkey <= 500
        |ORDER BY o_orderkey, attr""".stripMargin,
    // st14: gap-split sessions; non-final sessions close by 'gap' (a
    // later event exists), the final session closes by 'timeout' iff its
    // ceil-ms expiry (end + gap) is at or below the final watermark
    // (= max second-floored event time, delay 0).
    "st14_timer_sessions" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) AS tns, event_id FROM events),
        |m AS (
        |  SELECT user_id, tns, event_id,
        |    CASE WHEN lag(tns) OVER w IS NULL
        |           OR tns - lag(tns) OVER w > 1800000000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tns, event_id)),
        |g AS (
        |  SELECT user_id, tns,
        |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY tns, event_id
        |                      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m),
        |s AS (
        |  SELECT user_id, sid, min(tns) AS start_ns, max(tns) AS end_ns,
        |         count(*) AS n_events
        |  FROM g GROUP BY 1, 2),
        |s2 AS (
        |  SELECT *, max(sid) OVER (PARTITION BY user_id) AS max_sid FROM s),
        |wm AS (
        |  SELECT (max(epoch_ns(ts)) // 1000000000) * 1000 AS wm_ms FROM events)
        |SELECT user_id,
        |  start_ns // 1000000 AS session_start_ms,
        |  end_ns // 1000000 AS session_end_ms,
        |  n_events,
        |  CASE WHEN sid < max_sid THEN 'gap' ELSE 'timeout' END AS closed_by
        |FROM s2, wm
        |WHERE sid < max_sid
        |   OR (end_ns + 1800000000000 + 999999) // 1000000 <= wm_ms
        |ORDER BY user_id, session_start_ms""".stripMargin,
    "st9_stream_closed_sessions" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) AS tns, event_id FROM events),
        |m AS (
        |  SELECT user_id, tns, event_id,
        |    CASE WHEN lag(tns) OVER w IS NULL
        |           OR tns - lag(tns) OVER w > 1800000000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tns, event_id)),
        |g AS (
        |  SELECT user_id, tns,
        |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY tns, event_id
        |                      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m),
        |s AS (
        |  SELECT user_id, sid, min(tns) AS start_ns, max(tns) AS end_ns,
        |         count(*) AS n_events
        |  FROM g GROUP BY 1, 2),
        |s2 AS (
        |  SELECT *, max(sid) OVER (PARTITION BY user_id) AS max_sid FROM s)
        |SELECT user_id,
        |  start_ns // 1000000 AS session_start_ms,
        |  end_ns // 1000000 AS session_end_ms,
        |  n_events
        |FROM s2 WHERE sid < max_sid
        |ORDER BY user_id, session_start_ms""".stripMargin,
    "g7_inline" ->
      """SELECT n_nationkey, 'name' AS attr, n_name AS val FROM nation
        |UNION ALL
        |SELECT n_nationkey, 'region' AS attr, CAST(n_regionkey AS VARCHAR) AS val
        |FROM nation
        |ORDER BY n_nationkey, attr""".stripMargin,
    "u7_union_distinct" ->
      """SELECT n_regionkey AS k FROM nation
        |UNION
        |SELECT r_regionkey AS k FROM region
        |ORDER BY k""".stripMargin,
    "f12_binary_funcs" ->
      """SELECT n_nationkey,
        |  hex(n_name) AS hx,
        |  to_base64(CAST(n_name AS BLOB)) AS b64,
        |  sha256(n_name) AS sha256_hex,
        |  md5(n_name) AS md5_hex,
        |  CAST(strlen(n_name) AS BIGINT) AS n_bytes
        |FROM nation ORDER BY n_nationkey""".stripMargin,
    "g8_array_funcs" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(w) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct,
        |  array_to_string(list_slice(list_sort(w), 1, 5), ' ') AS first5_sorted,
        |  list_contains(w, 'the') AS has_the,
        |  CAST(COALESCE(list_position(w, 'the'), 0) AS BIGINT) AS pos_the,
        |  w[1] AS first_tok
        |FROM t ORDER BY doc_id""".stripMargin,
    "a21_ratio_to_report" ->
      """WITH g AS (
        |  SELECT l_returnflag, l_linestatus,
        |    CAST(SUM(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |      AS grp_cents
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT l_returnflag, l_linestatus, grp_cents,
        |  CAST(grp_cents AS DOUBLE)
        |    / CAST(SUM(grp_cents) OVER (PARTITION BY l_returnflag) AS DOUBLE)
        |    AS share
        |FROM g ORDER BY 1, 2""".stripMargin,
    "w8_range_interval" ->
      """WITH e AS (
        |  SELECT event_id, user_id, date_trunc('second', ts) AS ts_sec,
        |    CAST(floor(value * 10000) AS BIGINT) AS v4
        |  FROM events)
        |SELECT event_id, user_id, ts_sec,
        |  COUNT(*) OVER w AS n_1h,
        |  CAST(SUM(v4) OVER w AS BIGINT) AS sum_1h
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec
        |             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "x17_topk_rewrite" ->
      """WITH c AS (
        |  SELECT l_returnflag, l_orderkey, l_linenumber,
        |         CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem)
        |SELECT l_returnflag, l_orderkey, l_linenumber, cents FROM (
        |  SELECT *, row_number() OVER (PARTITION BY l_returnflag
        |              ORDER BY cents DESC, l_orderkey, l_linenumber) AS rn
        |  FROM c) q WHERE rn <= 5
        |ORDER BY l_returnflag, cents DESC, l_orderkey, l_linenumber""".stripMargin,
    "x18_bitmap_distinct" ->
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_orderkey) AS n_distinct_orders
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "x19_approx_topk" ->
      """SELECT event_type AS item, COUNT(*) AS est_count
        |FROM events GROUP BY 1
        |ORDER BY est_count DESC, item""".stripMargin,
    "cms1_countmin" ->
      """WITH cells AS (
        |  SELECT g.i AS row_i,
        |    ('0x' || substr(md5(g.i || ':' || user_id), 1, 15))::BIGINT % 256 AS cell,
        |    COUNT(*) AS c
        |  FROM events, UNNEST(generate_series(0, 3)) AS g(i)
        |  GROUP BY 1, 2
        |), truth AS (
        |  SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY 1
        |), probes AS (
        |  SELECT t.user_id, t.n_events, g.i AS row_i,
        |    ('0x' || substr(md5(g.i || ':' || user_id), 1, 15))::BIGINT % 256 AS cell
        |  FROM truth t, UNNEST(generate_series(0, 3)) AS g(i)
        |)
        |SELECT p.user_id, p.n_events,
        |  CAST(MIN(c.c) AS BIGINT) AS cms_est,
        |  CAST(MIN(c.c) - p.n_events AS BIGINT) AS overcount
        |FROM probes p JOIN cells c ON c.row_i = p.row_i AND c.cell = p.cell
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    "sess1_session_features" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) AS tns, event_id FROM events),
        |m AS (
        |  SELECT user_id, tns, event_id,
        |    CASE WHEN lag(tns) OVER w IS NULL
        |           OR tns - lag(tns) OVER w > 1800000000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tns, event_id)),
        |g AS (
        |  SELECT user_id, tns, event_id,
        |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY tns, event_id
        |                      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m)
        |SELECT event_id, user_id,
        |  CAST(sid AS BIGINT) AS session_idx,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY user_id, sid
        |                          ORDER BY tns, event_id) AS BIGINT)
        |    AS idx_in_session,
        |  CAST((tns - MIN(tns) OVER (PARTITION BY user_id, sid)) // 1000000000
        |    AS BIGINT) AS secs_since_start
        |FROM g ORDER BY event_id""".stripMargin,
    "sub2_exists_in" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_orderpriority = '1-URGENT')
        |  AND c_nationkey IN (SELECT n_nationkey FROM nation
        |                      WHERE n_regionkey <= 1)
        |ORDER BY c_custkey""".stripMargin,
    "st10_transform_with_state" ->
      """SELECT user_id,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(floor(value * 10000) AS BIGINT)) AS BIGINT) AS sum_v4,
        |  epoch_ns(max(ts)) // 1000000 AS last_event_ms
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "f11_xml" ->
      """WITH x AS (
        |  SELECT n_nationkey,
        |    '<r><name>' || n_name || '</name><rk>'
        |      || CAST(n_regionkey AS VARCHAR) || '</rk></r>' AS xml
        |  FROM nation)
        |SELECT n_nationkey,
        |  regexp_extract(xml, '<name>(.*)</name>', 1) AS name,
        |  CAST(regexp_extract(xml, '<rk>([0-9]+)</rk>', 1) AS BIGINT) AS rk
        |FROM x ORDER BY n_nationkey""".stripMargin,
  )

  /** The oracles that replay a persisted index, for the corpus at `dir`
    * (see [[ExtensionQueries.indexOracles]]): st21 is x23's replay
    * pointed at the stream-maintained `_stream` root.
    */
  def indexOracles(dir: String): Map[String, String] = Map(
    "st16_stream_ann_index" -> st16Sql(IndexStore.root(IndexStore.Ann, dir)),
    "st21_stream_index_append" ->
      ExtensionQueries.ivfPqReplaySql(IndexStore.root(IndexStore.Ann, dir, "_stream")),
  )

  /** st16: probe (rk=1), ADC, and argmin replayed from the SAME
    * persisted artifacts as x23, at `root` (the Spark side builds them
    * on first call). Persisted codes are 0-based positions into the
    * cw_id-sorted codebook.
    */
  private def st16Sql(root: String): String =
    s"""WITH cent AS (
       |  SELECT centroid_id,
       |    list_transform(c_emb, v -> floor(CAST(v AS DOUBLE) * 1048576.0)) AS cq
       |  FROM read_parquet('${IndexStore.glob(root, "centroids.parquet")}')
       |), qe AS (
       |  SELECT vec_id,
       |    list_transform(embedding, v -> floor(CAST(v AS DOUBLE) * 1048576.0)) AS q
       |  FROM embeddings
       |  WHERE vec_id < 8 AND len(embedding) > 0 AND len(embedding) % 8 = 0
       |), qa AS (
       |  SELECT q_vec, centroid_id AS list_id FROM (
       |    SELECT e.vec_id AS q_vec, c.centroid_id,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        list_dot_product(e.q, c.cq) /
       |          nullif(sqrt(list_dot_product(e.q, e.q)) * sqrt(list_dot_product(c.cq, c.cq)), 0)
       |          DESC, c.centroid_id) AS rk
       |    FROM qe e, cent c) t WHERE rk = 1
       |), cb AS (
       |  SELECT qcw, row_number() OVER (ORDER BY cw_id) - 1 AS pos
       |  FROM read_parquet('${IndexStore.glob(root, "codebook.parquet")}')
       |), cwdim AS (
       |  SELECT pos, g.i - 1 AS dim, qcw[g.i] AS qc
       |  FROM cb, UNNEST(generate_series(1, len(qcw))) AS g(i)
       |), vq AS (
       |  SELECT vec_id, len(embedding) // 8 AS sd, g.i - 1 AS dim,
       |    CAST(floor(CAST(embedding[g.i] AS DOUBLE) * 1048576.0) AS BIGINT) AS qv
       |  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS g(i)
       |  WHERE vec_id < 8 AND len(embedding) > 0 AND len(embedding) % 8 = 0
       |), lut AS (
       |  SELECT v.vec_id, c.pos, v.dim // v.sd AS s,
       |    CAST(SUM((qv - qc) * (qv - qc)) AS BIGINT) AS d
       |  FROM vq v JOIN cwdim c ON c.dim = v.dim
       |  GROUP BY 1, 2, 3
       |), codepos AS (
       |  SELECT i.c_vec, i.list_id, g.s1 - 1 AS s, i.codes[g.s1] AS pos
       |  FROM read_parquet('${IndexStore.glob(root, "index.parquet")}') i,
       |    UNNEST(generate_series(1, len(i.codes))) AS g(s1)
       |), adc AS (
       |  SELECT qa.q_vec, cp.c_vec,
       |    CAST(SUM(l.d) AS BIGINT) AS qdist_approx
       |  FROM codepos cp
       |  JOIN qa ON qa.list_id = cp.list_id
       |  JOIN lut l ON l.s = cp.s AND l.pos = cp.pos AND l.vec_id = qa.q_vec
       |  WHERE cp.c_vec <> qa.q_vec
       |  GROUP BY 1, 2
       |)
       |SELECT q_vec, qdist_approx AS best_qdist, c_vec AS best_c_vec FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_vec
       |    ORDER BY qdist_approx, c_vec) AS rn
       |  FROM adc) t WHERE rn = 1
       |ORDER BY q_vec""".stripMargin
}
