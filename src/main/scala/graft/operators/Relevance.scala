package graft.operators

import graft.functions.VectorMath
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Lexical relevance ranking: BM25-style scoring of a document corpus for
  * a query term set — the retrieval primitive a training-data pipeline
  * uses for targeted corpus slicing ("pull the docs about X") and quality
  * mixing.
  *
  * Log-free BM25: the classic idf = ln((N−df+0.5)/(df+0.5)) is replaced
  * by the rational (N−df+0.5)/(df+0.5) itself. Per-term that is a strictly
  * monotone transform of the original (same per-term ranking); the summed
  * score weighs rare terms more aggressively than log-BM25 — acceptable
  * here, and it keeps every operation a correctly-rounded IEEE basic op
  * (+,−,×,÷), which ln is NOT guaranteed to be across libms. Per-term
  * scores are then 2^20-quantized to BIGINT before summing, so the
  * cross-term sum is order-independent and the oracle matches exactly.
  *
  * Scale posture: the query-term table is a literal broadcast; tf/dl
  * build in one pass over the tokenized corpus (one shuffle on doc_id,
  * one tiny df aggregate); the final top-k is TakeOrderedAndProject, not
  * a global sort.
  */
object Relevance {

  /** Top-`k` documents for `terms` by quantized BM25 (k1 = 1.2, b = 0.75).
    * Emits (doc_id, n_hits, score_q) — score_q is the summed quantized
    * per-term score.
    */
  def bm25TopK(docs: DataFrame, terms: Seq[String], k: Int): DataFrame = {
    // Pin the tokenized relation: it feeds THREE independent subtrees
    // (per-doc lengths, the corpus totals derived from them, and the
    // query-term tf counts), and without the checkpoint each subtree
    // re-runs the scan + regex tokenize + explode from scratch — the
    // whole query's cost is ~3 tokenize passes instead of 1 (the r5→r3
    // bm1 drift). dl is doc-count-sized and feeds two subtrees; pin it
    // too.
    val toks = docs
      .select(col("doc_id"), explode(TextAnalysis.words(col("text"))).as("term"))
      .where(col("term") =!= "")
      .localCheckpoint(eager = true)
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      .localCheckpoint(eager = true)
    val corpus = dl.agg(
      count(lit(1)).cast(DoubleType).as("n_docs"),
      sum(col("dl")).cast(DoubleType).as("sum_dl"))
    val qtf = toks.where(col("term").isin(terms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = qtf.groupBy("term").agg(count(lit(1)).cast(DoubleType).as("df"))
    // Identical double expression shape on both engines: every step is a
    // correctly-rounded IEEE basic op on identical inputs.
    val tfD = col("tf").cast(DoubleType)
    val dlD = col("dl").cast(DoubleType)
    val idf = (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
    val tfNorm = (tfD * lit(2.2)) /
      (tfD + lit(1.2) * (lit(0.25) + lit(0.75) * (dlD * col("n_docs") / col("sum_dl"))))
    qtf
      .join(broadcast(df), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(corpus))
      .select(col("doc_id"),
        VectorMath.quantize(idf * tfNorm).as("score_term_q"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"), sum(col("score_term_q")).as("score_q"))
      .orderBy(col("score_q").desc, col("doc_id"))
      .limit(k)
  }
}
