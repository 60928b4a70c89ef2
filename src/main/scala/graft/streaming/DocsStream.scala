package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming face of the incremental-dedup tier (the streaming twin of
  * `Dedup.incrementalDedup`'s exact tier): newly-arriving documents are
  * screened against the content-hash index of an existing corpus as they
  * stream in, instead of in a nightly batch.
  *
  * Scale posture: the corpus index is DISTINCT 32-byte hashes — the
  * smallest possible representation — and joins the stream as a
  * broadcast anti-join, so the unbounded stream is never shuffled for
  * the membership test. (At a corpus size where the hash index outgrows
  * broadcast, the same plan runs as a shuffled stream-static join —
  * Spark picks by statistics; the semantics don't change.) The surviving
  * hashes aggregate in complete mode with exact min/count, so the result
  * is deterministic under any arrival order / parallelism — there is no
  * "first arrival wins" race on which copy survives.
  */
object DocsStream {
  /** The screening plan itself — shared by the streaming drive and the
    * plan-shape spec (which applies it to a batch frame, the only way to
    * inspect the join after a stream is stopped): broadcast anti-join
    * against the corpus index, then the deterministic survivor rollup.
    * `newDocs` must carry (doc_id, content_hash).
    */
  private[graft] def screen(newDocs: DataFrame, corpusIndex: DataFrame): DataFrame =
    newDocs
      .join(broadcast(corpusIndex), Seq("content_hash"), "left_anti")
      .groupBy("content_hash")
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))

  /** New docs (the doc_id % 4 == 0 slice, matching d10's batch split)
    * stream against the static index of everyone else. Output: one row
    * per NEW distinct content hash with its keeper id and copy count.
    */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val newDocs = StreamRun.parquetSource(spark, dir, "documents.parquet")
      .where(col("doc_id") % 4 === 0)
      .select(col("doc_id"), sha2(col("text"), 256).as("content_hash"))
    val corpusIndex = spark.read.parquet(s"$dir/documents.parquet")
      .where(col("doc_id") % 4 =!= 0)
      .select(sha2(col("text"), 256).as("content_hash"))
      .distinct()
    StreamRun.toMemorySnapshot(screen(newDocs, corpusIndex), "complete",
        "stream_inc_dedup")
      .orderBy("content_hash")
  }

  /** Streaming ingest QUALITY GATE: each arriving micro-batch of
    * documents is judged by the SAME Gopher gate definition as the batch
    * gq1 (`DataQuality.gopherMetrics` — per-doc windows are legal inside
    * foreachBatch, where the micro-batch is an ordinary DataFrame), and
    * the per-source census (docs seen / docs passing / words admitted)
    * MERGES into an AtomicLayer snapshot by key-wise partial-aggregate
    * summation — the imv1 pattern, so the census after any number of
    * micro-batches equals the batch census exactly (counts and sums are
    * associative). This is the ingest-side gating a training pipeline
    * runs continuously; the oracle is the batch gate census.
    */
  def streamQualityGate(spark: SparkSession, dir: String): DataFrame = {
    gateDrive(spark,
      StreamRun.parquetSource(spark, dir, "documents.parquet"))
  }

  /** The gate drive itself, over any prepared documents stream —
    * factored out so the multi-batch merge law is testable: the spec
    * drives a 3-file source at maxFilesPerTrigger=1 (three real
    * micro-batches) and asserts the merged census equals the batch one.
    */
  private[graft] def gateDrive(spark: SparkSession, docs: DataFrame): DataFrame = {
    import graft.energy.AtomicLayer
    val root = graft.tools.Scratch.dir("graft-gate")
      .toString + "/census.parquet"
    StreamRun.driveForeachBatch(docs, "append",
        "quality_gate") { (batch, batchId) =>
      mergeCensus(spark, root, batch, batchId): Unit
    }
    AtomicLayer.read(spark, root)
      .drop("_merged_batch_id").orderBy("source")
  }

  /** Streaming DRIFT gate: every arriving micro-batch's per-(source,
    * term) token counts merge into an AtomicLayer state relation by
    * key-wise summation (counts are associative — the imv1 merge rule,
    * idempotent under foreachBatch retries), and the read side computes
    * the SAME closed-form total-variation census as the batch tv1
    * (`TextAnalysis.totalVariationBySource` — one shared definition).
    * After any number of micro-batches the result equals the batch
    * census exactly. Scale posture: the streamed state is the grouped
    * (source, term) relation — bounded by Σ|vocab_s|, never by the
    * token stream; each micro-batch shuffles only its own vocabulary.
    */
  def streamDriftCensus(spark: SparkSession, dir: String): DataFrame = {
    driftDrive(spark,
      StreamRun.parquetSource(spark, dir, "documents.parquet"))
  }

  /** The drift drive over any prepared documents stream — factored out
    * so the multi-batch merge law is testable the same way as
    * [[gateDrive]]'s.
    */
  private[graft] def driftDrive(spark: SparkSession, docs: DataFrame): DataFrame = {
    import graft.energy.AtomicLayer
    val root = graft.tools.Scratch.dir("graft-drift")
      .toString + "/term_counts.parquet"
    StreamRun.driveForeachBatch(docs, "append",
        "drift_census") { (batch, batchId) =>
      mergeTermCounts(spark, root, batch, batchId): Unit
    }
    graft.operators.TextAnalysis.totalVariationBySource(
        AtomicLayer.read(spark, root).drop("_merged_batch_id"))
      .orderBy("source")
  }

  /** One micro-batch's (source, term) count merge — same idempotence
    * contract as [[mergeCensus]] (batchId guard, null-safe over an
    * empty first snapshot). Returns true when merged, false on a retry.
    */
  private[graft] def mergeTermCounts(spark: SparkSession, root: String,
      batch: DataFrame, batchId: Long): Boolean = {
    graft.energy.AtomicLayer.mergeBatch(spark, root, batchId) { state =>
      val counts = batch
        .select(col("source"),
          explode(graft.operators.TextAnalysis.words(col("text"))).as("term"))
        .where(col("term") =!= "")
        .groupBy("source", "term").agg(count(lit(1)).as("cs"))
      state.fold(counts)(_.unionByName(counts)
        .groupBy("source", "term")
        .agg(sum(col("cs")).as("cs")))
    }
  }

  /** One micro-batch's census merge, IDEMPOTENT under foreachBatch's
    * at-least-once retry contract through `AtomicLayer.mergeBatch`: the
    * committed snapshot carries the highest batchId already folded in
    * (`_merged_batch_id`, constant across rows), and a batch at-or-below
    * it is a no-op — a retried micro-batch must not double-count. The
    * guard read is a 1-row aggregate of the (per-source, bounded)
    * census, not a data scan. Returns true when the batch was merged,
    * false when skipped.
    */
  private[graft] def mergeCensus(spark: SparkSession, root: String,
      batch: DataFrame, batchId: Long): Boolean = {
    graft.energy.AtomicLayer.mergeBatch(spark, root, batchId) { state =>
      // Parallelism restore FIRST (r11 st24 profile): a micro-batch read
      // from one small parquet file is ONE split, so the compute-heavy
      // interpreted gopher folds would run on a single core inside
      // foreachBatch — measured 14.6 s of the 15.2 s sf1.0 drain (batch
      // gq1 over the same corpus: 2.8 s on 32 cores via the same
      // repartition). A real deployment's micro-batches arrive as many
      // splits and take the no-shuffle branch (withScanParallelism only
      // repartitions when the planned split count is degenerate).
      // (no checkpoint on `spread`: its two consumers share the identical
      // repartition subtree, which ReuseExchange dedups — measured 2.4x
      // cheaper than a checkpoint for this shape — and a per-batch pin
      // would reintroduce the pinned-block accumulation ADVICE r10 fixed)
      val spread = graft.Tables.withScanParallelism(spark, batch)
      // barrier = false: the checkpoint pin is for batch filter-pushdown
      // only; per-micro-batch checkpoints would accumulate pinned blocks
      // between ContextCleaner GC cycles on a long stream (ADVICE r10)
      val census = graft.operators.DataQuality.gopherMetrics(spread, barrier = false)
        .join(spread.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          expr("count_if(gopher_pass)").as("n_pass"),
          sum(when(col("gopher_pass"), col("n_words")).otherwise(0L))
            .as("pass_words"))
      state.fold(census)(_.unionByName(census)
        .groupBy("source")
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("n_pass")).as("n_pass"),
          sum(col("pass_words")).as("pass_words")))
    }
  }
}
