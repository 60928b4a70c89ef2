package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Specs for the round-4 workload operators: prefix-filtered set-similarity
  * join (losslessness vs brute force), market-basket lift, Markov
  * transitions, and lexical diversity. The graph operators' specs live in
  * [[GraphOpsSpec]].
  */
class WorkloadOpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sf0001)

  test("prefixJaccardJoin is LOSSLESS: identical pair set to the brute-force all-pairs join") {
    val t = 0.7
    val fast = SetSimilarityJoin.prefixJaccardJoin(docs, shingleK = 3, threshold = t)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect().toSet

    // Brute force: exact Jaccard over the same shingle sets, every pair.
    val toks = Dedup.shingleRows(docs, 3)
      .select(col("doc_id"), col("shingle").as("term")).distinct()
    val sets = toks.groupBy("doc_id").agg(collect_set("term").as("s"))
      .as[(Long, Seq[String])].collect().map { case (id, s) => (id, s.toSet) }
    val brute = (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      inter = (sa & sb).size
      jac = inter.toDouble / (sa.size + sb.size - inter)
      if jac >= t
    } yield (a, b, jac)).toSet

    assert(fast.map(p => (p._1, p._2)) === brute.map(p => (p._1, p._2)))
    // And the reported similarity values agree exactly.
    val bruteMap = brute.map(p => ((p._1, p._2), p._3)).toMap
    fast.foreach { case (a, b, j) => assert(j === bruteMap((a, b))) }
    assert(fast.nonEmpty, "fixture corpus should contain near-dup pairs")
  }

  test("cooccurrenceLift: exact supports and the lift identity on a tiny fixture") {
    val ev = Seq(
      // basket (u1, day1): view+click; (u2, day1): view; (u2, day2): view+click
      (1L, "2024-01-01 10:00:00", "view"), (1L, "2024-01-01 11:00:00", "click"),
      (2L, "2024-01-01 09:00:00", "view"),
      (2L, "2024-01-02 09:00:00", "view"), (2L, "2024-01-02 10:00:00", "click"),
    ).toDF("user_id", "ts_s", "event_type")
      .withColumn("ts_sec", to_timestamp(col("ts_s")))
    val got = EventAnalytics.cooccurrenceLift(ev)
      .as[(String, String, Long, Long, Long, Double)].collect()
    assert(got.length === 1)
    val (ta, tb, nab, na, nb, lift) = got.head
    assert((ta, tb, nab, na, nb) === ("click", "view", 2L, 2L, 3L))
    assert(lift === 2.0 * 3.0 / (2.0 * 3.0)) // n_ab * n_baskets / (n_a * n_b)
  }

  test("transitionMatrix row probabilities sum to 1 per source and counts are exact") {
    val ev = Tables.events(spark, sf0001)
    val m = EventAnalytics.transitionMatrix(ev)
    val rows = m.as[(String, String, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (_, rs) =>
      assert(math.abs(rs.map(_._4).sum - 1.0) < 1e-9)
    }
    // total transitions = total events - number of users (last event of
    // each user has no successor)
    val nEvents = ev.count()
    val nUsers = ev.select("user_id").distinct().count()
    assert(rows.map(_._3).sum === nEvents - nUsers)
  }

  test("streaming incremental dedup: no corpus hash survives, counts are exact") {
    val out = graft.streaming.DocsStream.incrementalDedup(spark, sf0001)
      .as[(String, Long, Long)].collect()
    assert(out.nonEmpty)
    out.foreach { case (_, keepId, n) =>
      assert(keepId % 4 === 0) // keeper comes from the streamed batch
      assert(n >= 1L)
    }
    // batch replay equivalence
    val corpus = docs.where(col("doc_id") % 4 =!= 0)
      .select(sha2(col("text"), 256).as("h")).distinct()
      .as[String].collect().toSet
    assert(out.forall { case (h, _, _) => !corpus.contains(h) })
  }

  test("diversity: simpson is 0 for a constant doc and rises with distinctness") {
    val d = Seq((1L, "x x x x"), (2L, "a b c d")).toDF("doc_id", "text")
    val got = TextAnalysis.diversity(d).as[(Long, Long, Long, Double)]
      .collect().map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, 4L, 1L, 0.0)))
    assert(got(2L)._4 === 0.75) // 1 - 4/16
  }
}
