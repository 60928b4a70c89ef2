package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Prefix-filtered set-similarity self-join (the PPJoin/AllPairs family):
  * the deterministic, exact-threshold alternative to MinHash-LSH candidate
  * generation. Where LSH trades recall for speed, prefix filtering is
  * LOSSLESS: every pair with Jaccard >= t shares at least one token in the
  * other's "prefix", so joining on prefix tokens alone finds ALL qualifying
  * pairs — no missed duplicates, no tuning bands.
  *
  * The prefix rule: order each document's token set by ascending global
  * document frequency (rarest first, ties on the token string so the order
  * is total and engine-independent); a set of size n keeps its first
  * n - ceil(t*n) + 1 tokens. Two sets with Jaccard >= t must overlap in
  * at least one prefix token, so the candidate join keys on prefix tokens
  * only. Rare-first ordering makes prefix tokens the LEAST shared tokens,
  * which is what keeps the candidate join's fanout small.
  *
  * Scale posture:
  *  - candidate generation joins PREFIX rows only (a few tokens per doc,
  *    each rare by construction) — never the full doc-token relation
  *    against itself, and never all doc pairs;
  *  - the df table is one narrow aggregate over the token relation, and
  *    the per-doc rank window partitions by doc_id (each partition is one
  *    document's token set — bounded, no global sort);
  *  - every heavy relation moves 8-BYTE TOKEN HASHES, never strings
  *    (r14): posting rows, candidate keys, and the screen's per-doc
  *    arrays are all xxhash64 values — lossless for candidates (a
  *    collision only ADDS a pair) and lossless for the screen (the
  *    per-doc duplicate-hash slack bounds deflation, see
  *    screenThenVerify);
  *  - verification is candidate-bounded and two-staged: the hash
  *    screen intersects cheap long arrays for all candidates, and the
  *    exact STRING verify runs as a token join over the ~2% survivors
  *    only — no string arrays are ever built or shuffled. (The r13
  *    shape shipped hash+string arrays with every candidate; at sf10
  *    that was ~35 GB of shuffle for 17.4 M candidates and the time
  *    curve went e≈2.3 from spill thrash while every row count stayed
  *    exactly linear — the bytes, not the work, were the axis.) The
  *    similarity itself stays exact BIGINT counts with one final
  *    double division (bit-identical cross-engine).
  */
object SetSimilarityJoin {

  /** Per-doc rarest-first HASHED term arrays: (doc_id, n_tok, hterms,
    * n_hdup), `hterms` = xxhash64 of each token, ordered by (global df
    * ascending, term) — the ONE relation the prefix slices, the
    * candidate length filters, and the hash screen all derive from.
    * STRING token arrays are deliberately NOT built (r14, found by the
    * sf10 stage profile): carrying them made every candidate pair ship
    * KB-scale string arrays through the verify exchanges — ~35 GB of
    * shuffle at sf10 for 17.4 M candidates, and the d11 curve went
    * e≈2.3 from spill thrash at fixed local parallelism while every
    * ROW COUNT stayed exactly linear. All heavy relations now move
    * 8-byte hashes; the exact STRING verify runs as a skinny token
    * join on the ~2% screen survivors (see [[screenThenVerify]]).
    * Hash-keyed candidates stay lossless — a collision can only ADD a
    * candidate, and the exact verify disposes of it. Not checkpointed:
    * the plan census shows the aggregate computed once per consumer
    * (4×) either way — exchange reuse does not fire across the
    * differently-pruned consumers — and the A/B measured the eager
    * materialization as a net LOSS at sf0.1 (d11 3.7→4.9 s, the fixed
    * checkpoint job) for no gain at sf3 (12.5 vs 12.1 s): the 4
    * recomputes start from the pinned shingle checkpoint and the
    * hash-only aggregate is cheap. A document's token set is bounded
    * by the document's length, so the per-row array is safe at any
    * corpus size.
    */
  private def docTermArrays(toks: DataFrame): DataFrame = {
    val df = toks.groupBy("term").agg(count(lit(1)).as("df"))
    toks
      // vocab-width relation: shuffle-hash, never broadcast (the term
      // shuffle is already paid by the groupBy; ReuseExchange shares it)
      .join(df.hint("shuffle_hash"), Seq("term"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("term")))).as("ts"),
        count(lit(1)).as("n_tok"))
      .select(col("doc_id"), col("n_tok"),
        expr("transform(ts, t -> xxhash64(t.term))").as("hterms"))
      // within-doc hash-collision count (n_tok minus distinct hashes;
      // ~always 0): the screen's losslessness slack, see below
      .withColumn("n_hdup", col("n_tok") - size(array_distinct(col("hterms"))))
  }

  /** Lossless verify screen: with T = |A∩B| on the true (string) sets
    * and H = size(array_intersect(ha, hb)) on the 64-bit token hashes,
    * T <= H + min(dupA, dupB) where dupX = n_x − |distinct hashes of X|.
    * (array_intersect DEDUPES, so a hash collision between two shared
    * terms of the SAME pair deflates H below T — ADVICE r13; but every
    * collision inside A∩B is a collision inside A AND inside B, so the
    * deflation is bounded by min(dupA, dupB), precomputed per doc in
    * [[docTermArrays]] and ~always 0.) `H + least(dup_a, dup_b) >=
    * required` is therefore a NECESSARY condition — pairs failing it
    * cannot qualify and skip the exact string intersect entirely.
    * Exactness is untouched: survivors (measured ~2% of candidates at
    * sf3) still get the exact string verify, which also disposes of any
    * collision-inflated survivor. The hashes are engine-internal (never
    * output, never replayed by the oracle).
    */
  private def screenThenVerify(
      cand: DataFrame, byDoc: DataFrame, toks: DataFrame,
      required: org.apache.spark.sql.Column,
  ): DataFrame = {
    // The byDoc relation is CORPUS-WIDTH with array columns whose sizes
    // Catalyst cannot estimate — left to AQE it gets broadcast on bad
    // stats and the driver OOMs building a multi-GiB broadcast (found
    // at sf10, r13). Sort-merge is the scale-safe strategy on the
    // id-keyed array joins: spillable, never materializes a side in
    // memory. The screen ships ONLY the 8-byte hash arrays with the
    // candidate pairs (r14 — string arrays used to ride along and the
    // shuffle bytes, not the row counts, were the sf10 scale-killer).
    val screened = cand
      .join(byDoc.select(col("doc_id").as("doc_a"), col("hterms").as("ha"),
        col("n_tok").as("n_a"), col("n_hdup").as("dup_a")).hint("merge"),
        Seq("doc_a"))
      .join(byDoc.select(col("doc_id").as("doc_b"), col("hterms").as("hb"),
        col("n_tok").as("n_b"), col("n_hdup").as("dup_b")).hint("merge"),
        Seq("doc_b"))
      .where(size(array_intersect(col("ha"), col("hb"))) +
        least(col("dup_a"), col("dup_b")) >= required)
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"))
    // Exact STRING verify as a token join — no arrays move at all: the
    // survivors (~2% of candidates) explode to (pair, term) rows
    // against the pinned token relation, and the per-pair match count
    // IS |A∩B| exactly (toks is distinct (doc_id, term)). The token
    // relation moves once more as skinny rows; survivor-token rows are
    // survivor-bounded. `screened` is consumed ONCE — n_a/n_b ride the
    // group key instead of joining back (a second consumer would
    // duplicate the entire upstream pipeline: plan census showed 8
    // collect_list aggregations vs 4). INNER token-join semantics are
    // exact here: a survivor with zero true intersection (its whole
    // hash overlap was collisions) drops out, and with threshold > 0
    // (required by both callers) such a pair can never qualify anyway.
    // The survivor relation is SKINNY (4 longs/row, ~2% of candidates
    // — 51 k rows / ~2 MB at sf10) and usually broadcast-sized, but
    // its count is DATA-dependent (grows with qualifying near-dup
    // pairs, shrinks with threshold, which callers only require > 0),
    // so it carries NO forced broadcast hint (ADVICE r14): AQE picks
    // the strategy from its ACCURATE post-shuffle size — broadcast
    // when small, spillable sort-merge when a dup-heavy corpus or a
    // low threshold inflates the survivors. This is safe where the
    // r13 byDoc incident was not: that relation was CORPUS-width with
    // array columns whose STATIC estimate misled the planner; here
    // the survivor relation sits behind an exchange, so the decision
    // uses measured bytes, never an estimate. (An eager-checkpoint +
    // counted-gate variant was A/B'd and REJECTED: the forced
    // materialization read 52 s vs 24 s on d11 at suf3 — the fixed
    // checkpoint job costs more than the adaptivity buys.)
    screened
      .join(toks.select(col("doc_id").as("doc_a"), col("term")), Seq("doc_a"))
      .join(toks.select(col("doc_id").as("doc_b"), col("term"))
        .hint("shuffle_hash"), Seq("doc_b", "term"))
      .groupBy("doc_a", "doc_b", "n_a", "n_b")
      .agg(count(lit(1)).as("n_inter"))
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_a"), col("n_b"))
  }

  /** The token-set-and-prefix step [[prefixJaccardJoin]] and
    * [[containmentJoin]] share: (toks, byDoc, prefix), where `toks` is
    * the distinct (doc_id, term) relation over k-word shingles — the SET
    * both measures are defined on — `byDoc` its per-doc arrays from
    * [[docTermArrays]], and `prefix` each doc's first
    * n_tok − ceil(threshold·n_tok) + 1 tokens as (doc_id, n_tok, pos,
    * term). Ranking each doc's tokens rarest-first ONCE (collect the
    * (df, term) set, sort it locally) and slicing the prefix off that
    * array, re-exploded WITH POSITIONS, saves one doc-keyed exchange and
    * a sort-based window pass over the join-sizes + row_number
    * formulation. Prefix rows carry the HASHED token (8 bytes) as the
    * join key — lossless: a collision can only add a candidate, and
    * every true shared prefix token hashes equal on both sides.
    */
  private def tokenPrefix(docs: DataFrame, shingleK: Int, threshold: Double)
      : (DataFrame, DataFrame, DataFrame) = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0, 1], got $threshold")
    val toks = Dedup.shingleRows(docs, shingleK)
      .select(col("doc_id"), col("shingle").as("term"))
      .distinct()
      .localCheckpoint(eager = true)
    val byDoc = docTermArrays(toks)
    val prefixLen = (col("n_tok") -
      ceil(lit(threshold) * col("n_tok")).cast("long") + 1).cast("int")
    val prefix = byDoc.select(col("doc_id"), col("n_tok"),
      posexplode(slice(col("hterms"), lit(1), prefixLen)).as(Seq("pos", "term")))
    (toks, byDoc, prefix)
  }

  /** All document pairs (doc_a < doc_b) whose k-shingle sets have Jaccard
    * similarity >= `threshold`, with exact intersection / set sizes.
    * Output: (doc_a, doc_b, n_inter, n_a, n_b, jaccard), exact.
    */
  def prefixJaccardJoin(docs: DataFrame, shingleK: Int, threshold: Double): DataFrame = {
    val (toks, byDoc, prefix) = tokenPrefix(docs, shingleK, threshold)

    // Candidates: docs sharing any prefix token, RESTRICTED by the
    // AllPairs length filter — Jaccard >= t forces t·|A| <= |B| and
    // t·|B| <= |A| — AND PPJoin's positional filter: both term arrays
    // share one total order (df asc, term), so at the pair's EARLIEST
    // shared token every earlier token on both sides is unshared and
    // overlap <= 1 + min(|A|-i-1, |B|-j-1); a qualifying pair needs
    // overlap >= ceil(t/(1+t)·(|A|+|B|)), so a match failing the bound
    // prunes. Keeping pairs where ANY match passes is a superset of
    // "earliest match passes" — still lossless. This is the filter
    // that bounds the super-linear axis (the candidate join's output
    // on shared-token posting lists, r13 sf3 curve): size-compatible
    // pairs colliding on a LATE prefix token no longer reach distinct.
    val minOverlap = ceil(
      lit(threshold / (1.0 + threshold)) * (col("a.n_tok") + col("b.n_tok")))
    val cand = prefix.as("a")
      // posting rows are corpus-width on both sides: sort-merge, never
      // broadcast (same AQE bad-stats hazard as the verify joins)
      .join(prefix.as("b").hint("merge"),
        col("a.term") === col("b.term") && col("a.doc_id") < col("b.doc_id") &&
          col("b.n_tok") >= ceil(lit(threshold) * col("a.n_tok")) &&
          col("a.n_tok") >= ceil(lit(threshold) * col("b.n_tok")) &&
          (lit(1) + least(col("a.n_tok") - col("a.pos") - 1,
            col("b.n_tok") - col("b.pos") - 1)) >= minOverlap)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()

    // Exact verification on candidates only: hash screen first (the
    // Jaccard bound i >= ceil(t/(1+t)·(|A|+|B|)) on cheap long arrays),
    // then the exact string verify as a survivor-bounded token join,
    // one double division of exact counts.
    val jac = col("n_inter").cast(DoubleType) /
      (col("n_a") + col("n_b") - col("n_inter")).cast(DoubleType)
    screenThenVerify(cand, byDoc, toks,
        ceil(lit(threshold / (1.0 + threshold)) * (col("n_a") + col("n_b"))))
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_a"), col("n_b"),
        jac.as("jaccard"))
      .where(jac >= threshold)
  }

  /** All ORDERED pairs (doc_a ≠ doc_b) with set containment
    * C(A→B) = |A∩B| / |A| >= `threshold` — the asymmetric near-dup
    * measure Jaccard misses: a short document wholesale-quoted inside a
    * long one scores high containment but low Jaccard, and training
    * pipelines drop the contained copy. Output: (doc_a = contained,
    * doc_b = container, n_inter, n_a, n_b, containment), exact.
    *
    * Lossless probe-side prefix filter (ProbeCount shape): if A misses
    * all of its (1−t)-prefix tokens in B, then |A∩B| <= ceil(t·n_a) − 1
    * < t·n_a, so joining A's prefix against the FULL token relation of
    * candidate containers finds every qualifying pair. The container
    * side needs no prefix (containment is one-sided), only the length
    * bound n_b >= ceil(t·n_a) (since A∩B ⊆ B). Verification is
    * candidate-bounded and exact, as in [[prefixJaccardJoin]].
    */
  def containmentJoin(docs: DataFrame, shingleK: Int, threshold: Double): DataFrame = {
    val (toks, byDoc, prefix) = tokenPrefix(docs, shingleK, threshold)

    // the container side needs no prefix (containment is one-sided):
    // A's prefix probes B's FULL posting rows, with the length bound
    // n_b >= ceil(t·n_a) (A∩B ⊆ B) and the same positional bound as
    // prefixJaccardJoin (shared total order ⇒ at the earliest shared
    // token overlap <= 1 + min of the two remainders; containment
    // needs overlap >= ceil(t·n_a)) — lossless, ANY-match semantics
    val full = byDoc.select(col("doc_id"), col("n_tok"),
      posexplode(col("hterms")).as(Seq("pos", "term")))
    val cand = prefix.as("a")
      // container-side postings are corpus-width: sort-merge, never
      // broadcast (same AQE bad-stats hazard as the verify joins)
      .join(full.as("b").hint("merge"),
        col("a.term") === col("b.term") && col("a.doc_id") =!= col("b.doc_id") &&
          col("b.n_tok") >= ceil(lit(threshold) * col("a.n_tok")) &&
          (lit(1) + least(col("a.n_tok") - col("a.pos") - 1,
            col("b.n_tok") - col("b.pos") - 1)) >=
            ceil(lit(threshold) * col("a.n_tok")))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()

    val cont = col("n_inter").cast(DoubleType) / col("n_a").cast(DoubleType)
    screenThenVerify(cand, byDoc, toks, ceil(lit(threshold) * col("n_a")))
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_a"), col("n_b"),
        cont.as("containment"))
      .where(cont >= threshold)
  }
}
