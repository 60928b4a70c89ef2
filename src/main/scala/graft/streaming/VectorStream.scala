package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming face of the similarity-search tier: query vectors arrive as
  * a stream and are scored ONLINE against the static corpus index — the
  * serving shape of a vector store (ingest-side indexing is the batch
  * tier; this is the lookup path as a continuous query).
  */
object VectorStream {
  /** Streaming nearest neighbor (top-1) via LSH candidates: each
    * streamed query vector hashes to its OR-construction buckets
    * map-side (the native LshBuckets kernel — no state, no shuffle of
    * the stream), joins the static corpus's bucket table, and the
    * per-query argmax maintains the best neighbor in complete mode.
    *
    * The stream side never shuffles for candidate generation and the
    * static side is planned once per micro-batch — the standard
    * stream-static join posture for joining an unbounded stream against
    * an index. The argmax is `max(struct(cosine, -c_vec))`: highest
    * cosine, then LOWEST candidate id — the same (cosine DESC, c_vec)
    * total order as the batch x2 ranking, so the DuckDB oracle replays
    * the result exactly (quantized cosine, integer hyperplanes).
    */
  def annTop1(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.{LshBuckets, VectorMath}
    def withBuckets(df: DataFrame, emb: String): DataFrame =
      df.select(col("*"),
        posexplode(LshBuckets.buckets(col(emb), 4, 4)).as(Seq("t", "b")))
    val qs = withBuckets(
      StreamRun.parquetSource(spark, dir, "embeddings.parquet")
        .where(col("vec_id") < 8)
        .select(col("vec_id").as("q_vec"), col("embedding").as("q_emb")),
      "q_emb")
    val corpus = withBuckets(
      spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id").as("c_vec"), col("embedding").as("c_emb")),
      "c_emb")
    val best = qs.join(corpus, Seq("t", "b"))
      .where(col("c_vec") =!= col("q_vec"))
      .select(col("q_vec"), col("c_vec"),
        VectorMath.cosineExact(col("q_emb"), col("c_emb")).as("cosine"))
      .groupBy("q_vec")
      .agg(max(struct(col("cosine"), (-col("c_vec")).as("neg_c"))).as("best"))
      .select(col("q_vec"),
        col("best.cosine").as("best_cosine"),
        (-col("best.neg_c")).as("best_c_vec"))
    StreamRun.toMemorySnapshot(best, "complete", "stream_ann")
      .orderBy("q_vec")
  }

  /** Streaming IVF-PQ serving from the PERSISTED index (the x23
    * artifacts): each streamed query vector assigns to its nearest
    * inverted list via the broadcast centroid fold (stateless,
    * map-side — the stream never shuffles for candidate generation),
    * stream-static-joins that list's persisted codes, ADC-scores them
    * against the broadcast codebook, and keeps the per-query best in
    * complete mode. nProbe = 1 and no refine — the latency tier of the
    * serving stack; batch x23 with probe-2 + refine is the quality
    * tier. Everything is exact-integer, so the DuckDB oracle replays
    * probe, ADC, and the argmin from the same persisted files.
    */
  def annTop1FromIndex(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{IndexStore, Similarity}
    val root = IndexStore.root(IndexStore.Ann, dir)
    Similarity.buildIvfPqIndex(
      spark.read.parquet(s"$dir/embeddings.parquet"), root)
    val centroids = IndexStore.get(spark, root, "centroids.parquet")
    val sample = IndexStore.get(spark, root, "codebook.parquet")
    val index = IndexStore.get(spark, root, "index.parquet")
    val qs = StreamRun.parquetSource(spark, dir, "embeddings.parquet")
      .where(col("vec_id") < 8 &&
        size(col("embedding")) > 0 && size(col("embedding")) % 8 === 0)
      .select(col("vec_id").as("q_vec"), col("embedding").as("q_emb"))
    val cands = Similarity.withNearestList(qs, centroids, "q_emb")
      .join(index, Seq("list_id")) // stream-static: index planned per batch
      .where(col("c_vec") =!= col("q_vec"))
    val best = Similarity.withAdcDist(cands, sample, "q_emb", nSub = 8)
      .groupBy("q_vec")
      .agg(min(struct(col("qdist_approx"), col("c_vec"))).as("best"))
      .select(col("q_vec"),
        col("best.qdist_approx").as("best_qdist"),
        col("best.c_vec").as("best_c_vec"))
    StreamRun.toMemorySnapshot(best, "complete",
        "stream_ivfpq")
      .orderBy("q_vec")
  }

  /** Continuous index MAINTENANCE: the ingest half of the vector-store
    * loop st16/x23 only served. New vectors arrive as a stream; each
    * micro-batch encodes against the PERSISTED base centroids/codebook
    * and upserts into the on-disk code table via
    * [[graft.operators.Similarity.appendToIvfPqIndex]] (id-keyed, so the
    * final index is identical however the stream was micro-batched —
    * and identical to the batch x29 path). Queries are then answered
    * from the merged on-disk index. foreachBatch owns persistence, the
    * engine owns exactly-once batch ids, AtomicLayer owns atomicity —
    * the same division of labor as st13's gold refresh.
    */
  def streamIndexAppend(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{IndexStore, Similarity}
    val emb = graft.Tables.embeddings(spark, dir)
    val root = IndexStore.root(IndexStore.Ann, dir, "_stream")
    Similarity.buildIvfPqIndex(emb.where(col("vec_id") < 400), root)
    val feed = StreamRun.parquetSource(spark, dir, "embeddings.parquet")
      .where(col("vec_id") >= 400)
    StreamRun.driveForeachBatch(feed, "append",
        "st21_index_append") { (batch, _) =>
      if (!batch.isEmpty) Similarity.appendToIvfPqIndex(batch, root)
    }
    Similarity.ivfPqTopKFromIndex(emb.where(col("vec_id") < 8), emb, root, k = 3)
      .orderBy("q_vec", "rank")
  }

  /** Continuous GRAPH-index maintenance — st21's division of labor
    * applied to the NN-descent tier (VERDICT r10 #4): the base graph
    * builds + freezes once; each arriving micro-batch of vectors
    * NSW-inserts into the persisted edge artifact via
    * [[graft.operators.Similarity.streamInsertIntoGraphIndex]]
    * (beam-locate over the IMMUTABLE frozen base, reverse-link, one
    * monoid top-K re-prune — id-keyed idempotent, AtomicLayer
    * snapshots), so the final graph is identical however the stream was
    * micro-batched and identical to one big batch (GraphIndexSpec pins
    * the law). Queries are then served from the stream-built artifact;
    * the oracle replays the beam search FROM the same persisted edges.
    */
  def streamGraphAppend(spark: SparkSession, dir: String): DataFrame = {
    val (emb, root) = streamBuiltGraphIndex(spark, dir, "_stream", "st29_graph_append")
    graft.operators.Similarity.serveGraphAudit(emb, root)
  }

  /** The stream-built graph index st29 and st30 serve from: the base
    * graph over [0, 400) builds and freezes once under
    * `IndexStore.root(Graph, dir, suffix)`, then a stream drive named after
    * `name` NSW-inserts [400, 500). Returns (embeddings, root).
    */
  private def streamBuiltGraphIndex(spark: SparkSession, dir: String,
      suffix: String, name: String): (DataFrame, String) = {
    import graft.operators.{IndexStore, Similarity}
    val emb = graft.Tables.embeddings(spark, dir)
    val root = IndexStore.root(IndexStore.Graph, dir, suffix)
    val old = emb.where(col("vec_id") < 400)
    Similarity.buildNndGraphIndex(old, root)
    Similarity.freezeGraphIndexBase(spark, root)
    val feed = StreamRun.parquetSource(spark, dir, "embeddings.parquet")
      .where(col("vec_id") >= 400 && col("vec_id") < 500)
    StreamRun.driveForeachBatch(feed, "append",
        name) { (batch, _) =>
      if (!batch.isEmpty) Similarity.streamInsertIntoGraphIndex(old, batch, root)
    }
    (emb, root)
  }

  /** st29 + the OFFLINE RECONCILIATION pass (VERDICT r11 #2): the same
    * stream-built index on its own root, then ONE
    * [[graft.operators.Similarity.reconcileGraphIndex]] NN-descent
    * round links the cross-batch new×new neighborhoods the
    * batching-invariant inserts deliberately leave for repair, and
    * queries serve from the reconciled artifact (the oracle replays the
    * beam from the same persisted edges — x37's pattern). The reconcile
    * is built once like the index, behind a committed
    * `reconciled.parquet` marker, so the QUERY is run-once deterministic
    * (each unguarded reconcile call is one further refinement round by
    * design — the maintenance cadence, not query-time work).
    */
  def streamGraphReconcile(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{IndexStore, Similarity}
    val (emb, root) = streamBuiltGraphIndex(spark, dir, "_rec", "st30_graph_reconcile")
    IndexStore.buildOnce(spark, root, "reconciled.parquet") {
      Similarity.reconcileGraphIndex(emb.where(col("vec_id") < 500), root)
      IndexStore.put(spark.range(1).toDF("done"), root, "reconciled.parquet")
    }
    Similarity.serveGraphAudit(emb, root)
  }
}
