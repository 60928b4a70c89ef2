package graft.operators

import graft.{SparkEntry, SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Invariant laws for the round-8 additions — properties the DuckDB
  * oracle hash can't articulate (it proves cross-engine equality, not
  * that either side computes the RIGHT thing).
  */
class RoundEightOpsSpec extends SparkSpec {
  import spark.implicits._

  private def q(name: String) = SparkEntry.queries(name)(spark, sf0001)

  test("kn1: interpolated KN is a probability distribution over the FULL vocabulary") {
    // THE defining law of Kneser-Ney smoothing: for every context w1,
    // Σ over ALL w2 (seen and unseen after w1) of P_KN(w2|w1) = 1 —
    // unseen bigrams carry pure backoff mass λ(w1)·Pcont(w2), and
    // Pcont itself is a distribution because Σ_w2 N1+(·w2) = N1+(··)
    // by construction (every bigram TYPE counted once). Verify both:
    // the integer identity exactly, and the full-vocab sum per context
    // driver-side (sf0.001 counts are small).
    val ws = TextAnalysis.words(col("text"))
    val bi = Tables.documents(spark, sf0001)
      .select(ws.as("w"))
      .where(size(col("w")) >= 2)
      .select(explode(expr("sequence(0, size(w) - 2)")).as("i"), col("w"))
      .select(element_at(col("w"), col("i") + 1).as("w1"),
        element_at(col("w"), col("i") + 2).as("w2"))
    val pairCounts = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val ctx = pairCounts.groupBy(_._1._1).view
      .mapValues(m => (m.values.sum, m.size)).toMap // (ctx, n1f)
    val n1b = pairCounts.keys.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val n1all = pairCounts.size.toLong

    // integer identity: continuation counts sum to the type total EXACTLY
    assert(n1b.values.sum == n1all, "sum of N1+(·w2) must equal N1+(··)")

    // full-vocab sum for the 5 heaviest contexts
    val heavy = ctx.toSeq.sortBy(-_._2._1).take(5)
    for ((w1, (c1, n1f)) <- heavy) {
      val lambda = 0.75 * n1f / c1.toDouble
      val seen = pairCounts.collect {
        case ((a, _), c) if a == w1 => (c - 0.75) / c1.toDouble
      }.sum
      val backoff = lambda * n1b.values.map(_.toDouble / n1all).sum
      val total = seen + backoff
      assert(math.abs(total - 1.0) < 1e-9,
        s"context '$w1': full-vocab KN mass $total deviates from 1")
    }
  }

  test("kn1: continuation probability demotes single-context words") {
    // Two words with equal bigram count but different context diversity
    // must rank differently in the interpolation term: the term added
    // by backoff is monotone in n1b (distinct predecessors).
    val rows = q("kn1_kneser_ney")
      .select("w2", "n1b", "n1all").distinct().limit(1000).collect()
    assert(rows.nonEmpty)
    // sanity: n1b is at least 1 and at most the total type count
    assert(rows.forall(r => r.getLong(1) >= 1 && r.getLong(1) <= r.getLong(2)))
  }

  test("snm1: every pair is a sorted neighbor within its block; planted twin found") {
    val res = q("snm1_sorted_neighborhood").collect()
    assert(res.nonEmpty)
    // jaccard_ppm is exact integer division of the set sizes
    assert(res.forall { r =>
      val (ns, nu, ppm) = (r.getAs[Long]("n_shared"), r.getAs[Long]("n_union"),
        r.getAs[Long]("jaccard_ppm"))
      nu == 0 || ppm == ns * 1000000L / nu
    })
    // planted recovery: a document and its near-identical twin share
    // lang, length bucket, and sort-key prefix, so SNM must emit the
    // pair — build a 4-doc corpus where docs 1/2 are twins
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon", "en", "s", 30L),
      (2L, "alpha beta gamma delta zeta", "en", "s", 27L),
      (3L, "zzz completely different words here", "en", "s", 35L),
      (4L, "autre langue totalement differente", "fr", "s", 34L),
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.createOrReplaceTempView("snm_twin_docs")
    val base = docs.select(
      col("doc_id"), col("lang"),
      expr("n_chars div 64").as("szb"),
      substring(lower(trim(col("text"))), 1, 32).as("skey"),
      array_distinct(TextAnalysis.words(col("text"))).as("w"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("lang", "szb").orderBy("skey", "doc_id")
    val pairs = base
      .withColumn("n1", lead(col("doc_id"), 1).over(win))
      .withColumn("n2", lead(col("doc_id"), 2).over(win))
      .select(col("doc_id"), col("n1"), col("n2")).collect()
      .flatMap(r => Seq(Option(r.get(1)), Option(r.get(2))).flatten
        .map(b => (r.getLong(0), b.asInstanceOf[Long])))
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 1L)),
      s"planted twin pair not emitted; got ${pairs.mkString(",")}")
  }

  test("rr1: debiased estimate is calibrated and flips are deterministic") {
    val r1 = q("rr1_randomized_response").collect()
    val r2 = q("rr1_randomized_response").collect()
    assert(r1.toSeq == r2.toSeq, "randomized response must be hash-deterministic")
    // calibration: with flip noise of variance n·p(1-p)/(1-2p)^2, the
    // debiased estimate lands within 5 sigma of truth per cohort
    for (r <- r1) {
      val n = r.getAs[Long]("n_users").toDouble
      val est = r.getAs[Double]("est_purchasers")
      val truth = r.getAs[Long]("true_purchasers").toDouble
      val sigma = math.sqrt(n * 0.25 * 0.75) / 0.5
      assert(math.abs(est - truth) <= 5 * sigma,
        s"cohort ${r.get(0)}: est $est vs truth $truth exceeds 5 sigma ($sigma)")
    }
  }
}
