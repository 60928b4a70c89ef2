package graft.operators

import graft.{SparkEntry, SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Semantic invariants for the round-6 scale/curation operators —
  * properties the hash-oracle can't state (it only proves both engines
  * agree on the arithmetic).
  */
class RoundSixOpsSpec extends SparkSpec {

  test("smp6: no dup cluster straddles splits; censuses add up") {
    val rows = SparkEntry.queries("smp6_leakage_safe_split")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    for (r <- rows)
      assert(r.getAs[Long]("leak_clusters") == 0L,
        s"duplicate cluster assigned to more than one split: $r")
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    val docs = Tables.documents(spark, sf0001).count()
    assert(total == docs, s"split censuses cover $total of $docs docs")

    // Direct leakage probe, independent of the query's own counter: every
    // sha256 class must map to exactly one split.
    val d = Tables.documents(spark, sf0001)
      .select(col("doc_id"), sha2(col("text"), 256).as("h"))
    val reps = d.groupBy("h").agg(min("doc_id").as("rep"))
    val u = Dedup.portableHash60(concat(lit("smp6:"), col("rep")))
      .cast("double") / lit(1152921504606846976.0)
    val assigned = d.join(reps, Seq("h"))
      .withColumn("split",
        when(u < 0.8, "train").when(u < 0.9, "val").otherwise("test"))
    val straddle = assigned.groupBy("h")
      .agg(countDistinct("split").as("ns")).where(col("ns") > 1).count()
    assert(straddle == 0L)
  }

  test("skip1: z-order prunes the dy-only predicate; the linear layout cannot") {
    val rows = SparkEntry.queries("skip1_skipping_stats")(spark, sf0001).collect()
      .map(r => (r.getAs[String]("layout"), r.getAs[String]("pred")) ->
        (r.getAs[Long]("n_files"), r.getAs[Long]("files_hit"))).toMap
    val (linFiles, linDyHit) = rows(("linear", "dy_64_95"))
    val (zFiles, zDyHit) = rows(("zorder", "dy_64_95"))
    // dx-major linear files each span the full dy range: no dy pruning.
    assert(linDyHit == linFiles,
      s"linear layout unexpectedly pruned a dy predicate: $linDyHit/$linFiles")
    // Morton files cover a 64×64 box: only the dy∈[64,127] stripe can hit.
    assert(zDyHit * 2 <= zFiles,
      s"z-order should scan at most half the files for dy∈[64,95]: $zDyHit/$zFiles")
    // The dx predicate stays prunable under BOTH layouts.
    val (_, linDxHit) = rows(("linear", "dx_16_47"))
    val (_, zDxHit) = rows(("zorder", "dx_16_47"))
    assert(linDxHit < linFiles && zDxHit < zFiles)
  }

  test("kw1: tagging is count-consistent with a driver-side replay on a sample") {
    val dict = Map(
      "join" -> "joins", "merge" -> "joins", "hash" -> "joins",
      "scan" -> "access", "filter" -> "access", "table" -> "access",
      "stream" -> "streaming", "window" -> "streaming", "batch" -> "streaming",
      "slow" -> "perf", "fast" -> "perf", "big" -> "perf", "small" -> "perf")
    val out = SparkEntry.queries("kw1_keyword_tagging")(spark, sf0001).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[String]("category")) ->
        r.getAs[Long]("n_hits")).toMap
    val docs = Tables.documents(spark, sf0001)
      .select("source", "text").collect()
    val expected = docs.flatMap { r =>
      r.getString(1).toLowerCase.trim.split("\\s+").toSeq
        .flatMap(w => dict.get(w).map(c => (r.getString(0), c)))
    }.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    assert(out == expected)
  }

  test("lp1: labels only flow downhill and the census covers every doc") {
    val rows = SparkEntry.queries("lp1_label_propagation")(spark, sf0001).collect()
    val docs = Tables.documents(spark, sf0001).count()
    assert(rows.map(_.getAs[Long]("n_members")).sum == docs)
    for (r <- rows) {
      // a label is a doc id that reached this group by min-propagation:
      // it can never exceed the smallest member id
      assert(r.getAs[Long]("lab") <= r.getAs[Long]("min_doc"), r.toString)
    }
    // 4 rounds can only coarsen single-node labelling
    assert(rows.length <= docs)
  }

  test("ts8: CUSUM peaks exactly at a planted level shift") {
    import spark.implicits._
    // series 'a': 10 days at 100 then 10 days at 200 — the maximal
    // |cusum| of a single step sits on the last pre-shift day
    val daily = (1 to 20).map { i =>
      ("a", java.sql.Date.valueOf(f"2024-01-$i%02d"),
        if (i <= 10) 100L else 200L)
    }.toDF("event_type", "day", "d")
    val out = TimeSeries.cusumChangepoint(daily).collect()
    assert(out.length == 1)
    assert(out(0).getAs[java.sql.Date]("cp_day").toString == "2024-01-10",
      out(0).toString)
    // peak = |N*prefix - t*T| at t=10: |20*1000 - 10*3000| = 10000
    assert(out(0).getAs[Long]("peak") == 10000L)
  }

  test("w12: rolling 7-day actives replays on planted data") {
    val rows = SparkEntry.queries("w12_rolling_dau")(spark, sf0001).collect()
      .map(r => r.getAs[java.sql.Date]("d").toString -> r.getAs[Long]("dau7")).toMap
    // independent replay: distinct (user, day) pairs, window by day range
    val pairs = Tables.events(spark, sf0001)
      .select(col("user_id"), to_date(col("ts_sec")).as("day"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate))
    val days = pairs.map(_._2).distinct
    val expected = days.map { d =>
      d.toString -> pairs.collect {
        case (u, pd) if !pd.isAfter(d) && pd.isAfter(d.minusDays(7)) => u
      }.distinct.size.toLong
    }.toMap
    assert(rows == expected)
  }

  test("st17: at most 2 rows per window, counts consistent with the raw stream") {
    val rows = SparkEntry.queries("st17_stream_windowed_topk")(spark, sf0001).collect()
    val byWin = rows.groupBy(_.getAs[Long]("win_start"))
    assert(byWin.values.forall(_.length <= 2))
    // each reported count must equal the raw per-(window, type) count
    val raw = Tables.events(spark, sf0001)
      .select((unix_seconds(col("ts_sec")).cast("long")).as("es"), col("event_type"))
      .groupBy(expr("es div 21600 * 21600").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    for (r <- rows)
      assert(raw((r.getAs[Long]("win_start"), r.getAs[String]("event_type")))
        == r.getAs[Long]("n"))
  }

  test("tq8: market share stays in [0,1] and matches a two-pass recomputation") {
    val sf001 = "/root/testdata/sf0.01"
    val shares = SparkEntry.queries("tq8_market_share")(spark, sf001).collect()
      .map(r => r.getAs[Int]("o_year") -> r.getAs[Double]("mkt_share")).toMap
    assert(shares.nonEmpty)
    assert(shares.values.forall(s => s >= 0.0 && s <= 1.0))
  }

  test("x24: all sketch set-algebra gates hold") {
    val r = SparkEntry.queries("x24_sketch_setops")(spark, sf0001).collect()
    assert(r.length == 1)
    for (c <- Seq("a_within_bound", "b_within_bound",
        "union_within_bound", "inter_within_bound"))
      assert(r(0).getAs[Boolean](c), s"gate $c failed")
  }
}
