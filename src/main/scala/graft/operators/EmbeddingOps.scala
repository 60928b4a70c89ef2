package graft.operators

import graft.functions.VectorMath
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Embedding-column operations for a training-data pipeline: norms,
  * centroid (average) pooling, int8 quantization statistics.
  *
  * Cross-engine determinism follows the repo-wide quantization contract
  * (SCALE.md): floats are scaled by 2^20 (an exponent shift — no
  * rounding) and floored to longs, all accumulation is exact integer
  * arithmetic, and any final division is a single double op with
  * bit-identical operands on every engine.
  *
  * Scale shapes:
  *  - norms / quant stats are higher-order-function folds — narrow,
  *    codegen'd, zero shuffle, linear in splits;
  *  - centroid pooling explodes to (label, dim) and aggregates — one
  *    shuffle keyed on (label, dim), map-side partials do the heavy
  *    reduction, and the result cardinality (labels × dims) is tiny no
  *    matter how many vectors flow in.
  */
object EmbeddingOps {

  /** L2 norms from exact integer squares: (vec_id, n_dims, qnorm2, norm).
    * qnorm2 < dims * 2^42 — safe in a long up to ~2^20 dims.
    *
    * Edge parity with the SQL-oracle shape (UNNEST + SUM): null elements
    * contribute nothing (SUM-skips-nulls, via the coalesce in the fold —
    * a bare `acc + q*q` would poison the whole sum to NULL), and empty
    * embeddings are filtered out (UNNEST of an empty list emits no rows).
    */
  def norms(embeddings: DataFrame): DataFrame =
    embeddings
      .where(size(col("embedding")) > 0)
      .select(
        col("vec_id"),
        size(col("embedding")).as("n_dims"),
        aggregate(
          col("embedding"),
          lit(0L),
          (acc, v) => acc + coalesce(VectorMath.quantize(v) * VectorMath.quantize(v), lit(0L)),
        ).as("qnorm2"),
      ).withColumn("norm", sqrt(col("qnorm2").cast(DoubleType)) / VectorMath.Scale)

  /** Average-pool embeddings per label (class centroids): one output row
    * per (label, dim). The centroid component is sum(q)/(n * 2^20) — an
    * exact-integer numerator and denominator, one double division.
    */
  def centroids(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("label", "dim")
      .agg(count(lit(1)).as("n_vecs"), sum(VectorMath.quantize(col("v"))).as("sum_q"))
      .select(
        col("label"),
        col("dim"),
        col("n_vecs"),
        (col("sum_q").cast(DoubleType) / (col("n_vecs").cast(DoubleType) * VectorMath.Scale))
          .as("centroid"),
      )

  /** Long-form centroids (label, dim, centroid) packed one row per
    * label: (label, qcs), the quantized coordinates in dim order.
    */
  private def packedCentroids(centroidsLong: DataFrame): DataFrame =
    centroidsLong
      .select(col("label"), col("dim"), VectorMath.quantize(col("centroid")).as("qc"))
      .groupBy("label")
      .agg(
        transform(
          array_sort(collect_list(struct(col("dim"), col("qc")))),
          s => s.getField("qc")).as("qcs"))

  /** K-means ASSIGNMENT step: each vector goes to its nearest centroid.
    *
    * The centroid table (long format, from [[centroids]]) is re-quantized
    * to exact integers, folded into one array per cluster
    * (`array_sort(collect_list(struct(dim, qc)))` — collect order is
    * partition-dependent, the sort restores determinism), then the k
    * cluster rows collapse into ONE broadcast row holding every centroid.
    * The argmin is an `array_min(transform(...))` fold over that array
    * per input row — the whole assignment is MAP-ONLY: no corpus-
    * cardinality exchange at all (the previous shape crossJoined k rows
    * per vector and re-aggregated them by vec_id, paying an N-row
    * shuffle per assignment even though every candidate already lived in
    * the vector's own partition). Struct ordering inside `array_min`
    * makes ties break on the lower label, bit-identical to the old
    * `min(struct(qdist, label))`.
    *
    * All distance arithmetic is exact integer (qdiff² < 2^44, × dims
    * safely inside a long), so assignments are engine-portable —
    * this is the per-iteration cost shape of Lloyd's algorithm at 100 TB.
    *
    * `carry` names input columns to pass through unchanged (so a caller
    * iterating assign→update, [[kmeansFit]], can keep the embedding next
    * to its cluster without a corpus-wide relabel join).
    */
  def assignToCentroids(
      embeddings: DataFrame,
      centroidsLong: DataFrame,
      carry: Seq[String] = Nil,
      restoreScanParallelism: Boolean = true,
  ): DataFrame = {
    val centArr = packedCentroids(centroidsLong).agg(
      array_sort(collect_list(struct(col("label"), col("qcs")))).as("__cents"))
    // Empty/NULL embeddings drop — same UNNEST semantics as the oracle
    // (and as norms()); without the guard they would score qdist 0
    // against every centroid and land in the lowest label.
    // Scan parallelism restored (guarded — no-op on a real many-split
    // corpus): map-only means the fold inherits the SCAN's task count,
    // and the single-row-group local fixture would otherwise run the
    // whole k×dims scoring on one core (the old crossJoin shape got
    // reduce-side parallelism from its argmin exchange by accident).
    // NOTE (ADVICE r12): this guard IS a conditional corpus repartition
    // — it fires exactly when the input plans fewer splits than
    // defaultParallelism/2, so the "corpus contributes ZERO exchanges"
    // invariant holds on the no-op branch, which a many-split corpus
    // always takes. `restoreScanParallelism = false` pins that branch
    // deterministically (the plan spec uses it; callers with their own
    // partitioning control may too).
    val narrowed = embeddings
      .where(size(col("embedding")) > 0)
      .select(
        col("vec_id") +:
          VectorMath.quantizeArray(col("embedding")).as("qv") +:
          carry.map(col): _*)
    val vecs =
      if (restoreScanParallelism)
        graft.Tables.withScanParallelism(embeddings.sparkSession, narrowed)
      else narrowed
    vecs
      .crossJoin(broadcast(centArr))
      // an empty centroid table must yield an empty assignment (the old
      // crossJoin-with-k-rows semantics), not null clusters
      .where(size(col("__cents")) > 0)
      .withColumn("__best",
        array_min(transform(col("__cents"), c =>
          struct(
            aggregate(
              zip_with(col("qv"), c.getField("qcs"),
                (a, b) => coalesce((a - b) * (a - b), lit(0L))),
              lit(0L),
              (acc, d) => acc + d).as("qdist"),
            c.getField("label").as("label")))))
      .select(
        col("vec_id") +:
          col("__best.label").as("cluster") +:
          col("__best.qdist").as("qdist") +:
          carry.map(col): _*)
  }

  /** K-means TRAINING loop (Lloyd's algorithm) built from the assignment
    * step: seed centroids from the existing label column (or any initial
    * assignment), then alternate assign → recompute for `iterations`
    * rounds. Each assignment carries the embedding through to its
    * checkpoint, so the next round's centroid recompute is a straight
    * scan of the previous round's output — no per-round relabel join —
    * and scoring itself is a map-only broadcast fold (see
    * [[assignToCentroids]]). A Lloyd round therefore shuffles only the
    * (label, dim)-keyed centroid partials, never the corpus.
    * `localCheckpoint` between rounds keeps lineage flat (same
    * discipline as [[GraphOps.connectedComponents]]).
    *
    * Returns the final assignment (vec_id, cluster, qdist). With real
    * (unquantized) means the Lloyd objective Σ dist is non-increasing;
    * here centroids re-quantize through floor (the cross-engine
    * contract), which can land up to one q-unit off the true mean — on
    * adversarial data a round may tick the integer objective up
    * slightly. In practice (and on the spec fixture) it decreases
    * monotonically.
    */
  def kmeansFit(embeddings: DataFrame, iterations: Int = 3): DataFrame = {
    require(iterations >= 1, "at least one assign round")
    // Carry the raw embedding through every non-final assignment so the
    // next round's centroid recompute reads (embedding, cluster) straight
    // off the checkpoint — the per-round corpus relabel JOIN (which
    // shuffled both the vectors and the labels) disappears; with the
    // map-only assign above, a Lloyd round costs one corpus scan plus the
    // tiny (label, dim) centroid aggregation, and nothing else.
    def carryAt(round: Int): Seq[String] =
      if (round < iterations - 1) Seq("embedding") else Nil
    var assigned = assignToCentroids(
        embeddings, centroids(embeddings), carry = carryAt(0))
      .localCheckpoint()
    for (i <- 1 until iterations) {
      val relabeled = assigned
        .select(col("embedding"), col("cluster").as("label"))
      val next = assignToCentroids(
          embeddings, centroids(relabeled), carry = carryAt(i))
        .localCheckpoint()
      Checkpoints.release(assigned)
      assigned = next
    }
    assigned.select("vec_id", "cluster", "qdist")
  }

  /** Product-quantization code assignment: split each embedding into
    * `nSub` contiguous subspaces and, per subspace, assign the nearest
    * codeword from `centroidsLong` restricted to those dims (codebook =
    * the class centroids — k codewords per subspace). Output is the
    * PQ code tuple plus the total quantized reconstruction distance,
    * i.e. (vec_id, code0..code{nSub-1}, qdist_total).
    *
    * Same execution shape as [[assignToCentroids]]: the codebook is
    * broadcast, subspace distances are fused `slice`+`zip_with` folds
    * over the quantized arrays (no per-dim explosion of the corpus), and
    * the per-subspace argmins combine map-side via `min(struct(...))` —
    * the one exchange carries nSub structs per (task, vec). At index
    * time this replaces a d-dim float scan per query with nSub byte
    * codes + a small lookup table, which is why PQ is the standard
    * memory tier for billion-vector ANN.
    */
  def pqAssign(
      embeddings: DataFrame,
      centroidsLong: DataFrame,
      nSub: Int = 4,
  ): DataFrame = {
    require(nSub >= 1, s"need at least one subspace, got $nSub")
    val cent = packedCentroids(centroidsLong)
    // Vectors whose length doesn't split evenly into nSub subspaces drop
    // (a real PQ index pads or rejects them at ingest); empty ones too.
    val vecs = embeddings
      .where(size(col("embedding")) > 0 && size(col("embedding")) % nSub === 0)
      .select(
        col("vec_id"),
        VectorMath.quantizeArray(col("embedding")).as("qv"))
      .withColumn("__subdim", size(col("qv")) / nSub)
    val subDists = (0 until nSub).map { s =>
      aggregate(
        zip_with(
          slice(col("qv"), col("__subdim") * s + 1, col("__subdim")),
          slice(col("qcs"), col("__subdim") * s + 1, col("__subdim")),
          (a, b) => coalesce((a - b) * (a - b), lit(0L))),
        lit(0L),
        (acc, d) => acc + d).as(s"d$s")
    }
    val scored = vecs
      .crossJoin(broadcast(cent))
      .select(col("vec_id") +: col("label") +: subDists: _*)
    val bests = (0 until nSub).map(s =>
      min(struct(col(s"d$s"), col("label"))).as(s"b$s"))
    scored
      .groupBy("vec_id")
      .agg(bests.head, bests.tail: _*)
      .select(
        col("vec_id") +:
          (0 until nSub).map(s => col(s"b$s.label").as(s"code$s")) :+
          (0 until nSub).map(s => col(s"b$s.d$s"))
            .reduce(_ + _).as("qdist_total"): _*)
  }

  /** Int8 quantization statistics per vector: clip count (|v| > 1 would
    * saturate), the quantized sum, and the quantized min/max — the
    * calibration numbers an int8 export pipeline collects in one pass.
    * The quantized array is materialized ONCE (a `transform` projection)
    * and the three stats fold over it — not three independent
    * re-quantizations. Null elements: skipped by the sum (coalesce, =
    * SQL SUM semantics) and by array_min/array_max natively.
    */
  def int8QuantStats(embeddings: DataFrame): DataFrame = {
    // Null must propagate explicitly: least/greatest SKIP nulls (in Spark
    // and DuckDB alike), so a bare clamp would quantize NULL to 127.
    def q8(v: org.apache.spark.sql.Column) =
      when(v.isNotNull,
        greatest(lit(-127L), least(lit(127L), floor(v.cast(DoubleType) * 127.0).cast(LongType))))
    embeddings
      .select(
        col("vec_id"),
        size(filter(col("embedding"), v => abs(v.cast(DoubleType)) > 1.0)).as("n_clipped"),
        transform(col("embedding"), q8(_)).as("q8arr"),
      )
      .select(
        col("vec_id"),
        col("n_clipped"),
        aggregate(col("q8arr"), lit(0L), (acc, v) => acc + coalesce(v, lit(0L)))
          .as("sum_q8"),
        array_min(col("q8arr")).as("min_q8"),
        array_max(col("q8arr")).as("max_q8"),
      )
  }
}
