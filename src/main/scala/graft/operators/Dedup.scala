package graft.operators

import graft.functions.VectorMath
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for a training-data pipeline: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Scale posture (the design target is ~100 TB of documents):
  *  - exact dedup groups on a 256-bit content hash, never on the raw text,
  *    so the shuffle carries 32-byte keys instead of documents;
  *  - MinHash/SimHash candidate generation is banded LSH: only documents
  *    sharing a band bucket are compared, and buckets above a cap are
  *    dropped (a degenerate bucket — e.g. the empty document — would
  *    otherwise produce a quadratic pair explosion);
  *  - pair verification (exact Jaccard / cosine) runs only on candidates.
  */
object Dedup {

  /** Exact dedup: group by sha256(text). Returns one row per distinct
    * content with the survivor id and copy count.
    */
  def exact(docs: DataFrame): DataFrame =
    docs
      .withColumn("content_hash", sha2(col("text"), 256))
      .groupBy("content_hash")
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))

  /** (doc_id, shingle) rows of k-word shingles, lower-cased, possibly with
    * duplicates. Documents with fewer than k words are dropped (no shingle
    * is definable).
    *
    * Plan shape matters here: the explode runs over a cheap integer
    * sequence and the shingle string is assembled per exploded row, AFTER
    * any upstream exchange. (Exploding a precomputed array-of-shingles
    * column instead makes `InferFiltersFromGenerate` synthesize a
    * `size(shingles) > 0` predicate containing the whole shingle
    * expression and push it below the exchange — onto the scan side,
    * which for a single-file local table is one serial task.)
    */
  def shingleRows(docs: DataFrame, k: Int): DataFrame = {
    val ws = TextAnalysis.words(col("text"))
    docs
      .select(col("doc_id"), ws.as("w"))
      .where(size(col("w")) >= k)
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(0), size(col("w")) - k)).as("i"))
      .select(
        col("doc_id"),
        concat_ws(" ", slice(col("w"), col("i") + 1, lit(k))).as("shingle"),
      )
  }

  /** (doc_id, shingles-set) — the deduplicated shingle sets (for exact
    * Jaccard verification).
    */
  def shingleSets(docs: DataFrame, k: Int): DataFrame =
    shingleRows(docs, k)
      .groupBy("doc_id")
      .agg(collect_set(col("shingle")).as("shingles"))

  /** URL canonicalization for crawl dedup (the CommonCrawl first-pass
    * key): lowercase scheme+host(+path — the synthetic corpus has no
    * case-significant paths), strip the fragment, strip utm_* tracking
    * parameters, repair the separator damage, strip one trailing slash.
    * TWO repairs are needed after the utm strip: "?&x" (the '?' survived
    * a later-param deletion) and the dangling "&x" with no '?' at all —
    * stripping a FIRST param '?utm_a=1&x=2' deletes the '?' with it,
    * leaving the malformed '/p&x=2' that would never merge with '/p?x=2'
    * (ADVICE r10). The dangling repair anchors on the FIRST separator
    * (`[^?&]*`, ADVICE r11) — the greedy `[^?]*` converted the LAST '&'
    * before any '?', turning '/p&x=2&y=3' into '/p&x=2?y=3' instead of
    * '/p?x=2&y=3'. Known residual: a literal unencoded '&' in a PATH
    * ('/a&b', already malformed per RFC 3986) is indistinguishable from
    * separator damage and gets repaired to '/a?b'; distinguishing the
    * two would need strip-time state, not a post-hoc regex.
    * Patterns stay inside the Java-regex ∩ RE2 dialect
    * (the Pii rule) so the same canonicalization runs on any engine —
    * the d13 oracle replays it in DuckDB with the 'g' flag matching
    * Spark's replace-all default.
    */
  def canonicalUrl(url: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(lower(url), "#.*$", ""),
            "[?&]utm_[a-z]+=[^&#]*", ""),
          "\\?&", "?"),
        "^([^?&]*)&", "$1?"),
      "/$", "")

  /** Engine-portable 60-bit hash: the top 15 hex digits of md5, read as an
    * integer. Unlike xxhash64 this is reproducible by any engine with an
    * md5 function (DuckDB: `('0x' || substr(md5(s), 1, 15))::BIGINT`), so
    * signatures built on it can be checked — or consumed — outside Spark.
    * 60 bits keeps the value comfortably inside a signed 64-bit integer.
    */
  def portableHash60(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast(LongType)

  /** Count-Min sketch of `keyCol`'s frequencies over the portable hash
    * family: `depth` rows of `width` cells, row r hashing key k to cell
    * `portableHash60("r:k") % width`. Returns (`keyCol`, `n` = true
    * count, `est` = min over rows of the key's cell count); `est >= n`
    * always. The hashes are md5, so DuckDB rebuilds the identical cell
    * table and every estimate is oracle-checkable.
    *
    * One pass hashes each row `depth` times and reduces to per-(key,
    * row, cell) counts; the sketch, the estimates and the true counts
    * all derive from that one small aggregate (hashing the input twice
    * would dominate the cost). The cell table is what stays mergeable
    * across partitions and days where exact per-key counts are not.
    * NULL keys hash to no cell and are absent from the result.
    */
  def countMin(df: DataFrame, keyCol: String, depth: Int, width: Int): DataFrame = {
    val perKeyCell = df
      .select(col(keyCol), explode(sequence(lit(0), lit(depth - 1))).as("__r"))
      .select(col(keyCol), col("__r"),
        (portableHash60(concat(col("__r"), lit(":"), col(keyCol))) % width)
          .as("__cell"))
      .groupBy(keyCol, "__r", "__cell").agg(count(lit(1)).as("__c"))
      .localCheckpoint(eager = true)
    val sketch = perKeyCell.groupBy("__r", "__cell").agg(sum(col("__c")).as("__cnt"))
    val est = perKeyCell.select(col(keyCol), col("__r"), col("__cell"))
      .join(sketch, Seq("__r", "__cell"))
      .groupBy(keyCol).agg(min(col("__cnt")).as("est"))
    perKeyCell.where(col("__r") === 0)
      .select(col(keyCol), col("__c").as("n"))
      .join(est, Seq(keyCol))
  }

  /** Modulus of the portable slot family: the Mersenne prime 2^31-1.
    * Small enough that multiplier·hash products stay under 2^62 (exact
    * in 64-bit integers on any engine), large enough that per-slot min
    * collisions are negligible at realistic shingles-per-doc counts.
    */
  val portableP: Long = 2147483647L

  /** MinHash signatures over the portable multiplicative family
    * h_i(s) = (a_i · hv(s) + i) mod p, where hv = portableHash60 mod p
    * (ONE md5 per shingle for the whole family), p = 2^31-1 and
    * a_i = ((2i+1) · 1103515245) mod p — distinct odd-derived
    * multipliers, so the mod-p wrap-around decorrelates the slots (the
    * textbook 2-universal construction; plain h1 + i·h2 would NOT work
    * here: with sub-hashes of unequal width the high bits dominate the
    * argmin and every slot degenerates to the same min-shingle). Every
    * step is exact 64-bit integer arithmetic reproducible in any engine
    * with md5 — the d2/d7/d8/d10 oracles recompute it in DuckDB.
    * Output is one (doc_id, h_idx, min_hash) row per signature slot;
    * the min reduces with a map-side partial aggregate on
    * (doc_id, h_idx).
    */
  def minHashPortable(docs: DataFrame, k: Int, numHashes: Int): DataFrame =
    shingleRows(docs, k)
      .select(col("doc_id"), (portableHash60(col("shingle")) % portableP).as("hv"))
      .select(col("doc_id"),
        explode(sequence(lit(0), lit(numHashes - 1))).as("h_idx"),
        col("hv"))
      .select(col("doc_id"), col("h_idx"),
        (((col("h_idx") * 2 + 1) * lit(1103515245L) % portableP * col("hv")
          + col("h_idx")) % portableP).as("h"))
      .groupBy("doc_id", "h_idx")
      .agg(min(col("h")).as("min_hash"))

  /** Banded LSH keys over the PORTABLE signature rows of
    * [[minHashPortable]]: signature slots group into bands of
    * `rowsPerBand`, and each band keys on portableHash60 of the
    * slot-ordered min-hashes joined with ','. Every step (md5, string
    * formatting of longs, ordered aggregation) is reproducible in any
    * engine, so band buckets — and the candidate pairs they induce —
    * can be recomputed and checked outside Spark (the d2 oracle does).
    */
  def portableBandKeys(sigs: DataFrame, rowsPerBand: Int): DataFrame =
    sigs
      .withColumn("band_idx", expr(s"h_idx div $rowsPerBand").cast(IntegerType))
      .groupBy("doc_id", "band_idx")
      // collect order is partition-dependent; sorting by the slot index
      // restores the deterministic h_idx-ascending concatenation
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("h_idx"), col("min_hash")))),
          s => s.getField("min_hash").cast(StringType)),
        ",").as("band_str"))
      .select(col("doc_id"), col("band_idx"),
        portableHash60(col("band_str")).as("band_key"))

  /** Bucket-capped banded-LSH candidate pairs over a band relation
    * (doc_id, band_idx, band_key) with one row per (doc, band), as
    * [[portableBandKeys]] emits: the distinct (doc_a < doc_b) pairs
    * that share at least one bucket holding 2 to `maxBucket` members,
    * with `n_bands` = how many such buckets they share. A bucket above
    * the cap is dropped whole (a degenerate bucket, e.g. the empty
    * document's, would otherwise produce a quadratic pair explosion);
    * scripts/skew_census.py replays the same [2, maxBucket] gate.
    *
    * One grouping of the band relation builds each bucket's member list
    * and applies the cap on the grouped row, so the band relation is
    * read once; joining a separate count-filter relation back onto it
    * would read it three times. d2, d7 (via [[minHashCandidatesPortable]])
    * and dr1 all derive their candidates here.
    */
  def bandPairs(bands: DataFrame, maxBucket: Int): DataFrame =
    bands
      .groupBy("band_idx", "band_key")
      .agg(collect_list(col("doc_id")).as("ids"))
      .where(size(col("ids")).between(2, maxBucket))
      .select(explode(col("ids")).as("doc_a"), col("ids"))
      .select(col("doc_a"), explode(col("ids")).as("doc_b"))
      .where(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_bands"))

  /** LSH candidate pairs: [[minHashPortable]] signatures banded with
    * [[portableBandKeys]], bucket-capped by [[bandPairs]], verified with
    * exact Jaccard over the shingle sets. Every hash is md5-derived, so
    * candidate GENERATION (not just verification) is recomputable by
    * any engine; the d7 oracle replays it in DuckDB. The KM construction
    * keeps the hashing cost at ONE md5 per shingle regardless of family
    * size.
    */
  def minHashCandidatesPortable(
      docs: DataFrame,
      k: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      maxBucket: Int = 64,
  ): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val pairs = bandPairs(
      portableBandKeys(minHashPortable(docs, k, numHashes), numHashes / bands),
      maxBucket)
    val sets = shingleSets(docs, k)
    pairs
      .join(sets.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("shingles", "sh_a"), Seq("doc_a"))
      .join(sets.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("shingles", "sh_b"), Seq("doc_b"))
      .select(
        col("doc_a"), col("doc_b"), col("n_bands"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType) /
          size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"),
      )
  }

  /** SimHash signatures (32-bit) over the portable hash family: per-word
    * [[portableHash60]], each bit position accumulates +1/-1 by whether
    * the word hash has that bit set, and the signature takes the sign of
    * each accumulator. Every step (hash, bit sums, sign assembly) is
    * reproducible in any engine with md5, so signatures AND candidate
    * counts are oracle-checkable (d3).
    */
  def simHashPortableSignatures(docs: DataFrame, bits: Int = 32): DataFrame = {
    val wordsDf = docs
      .select(col("doc_id"), explode(TextAnalysis.words(col("text"))).as("word"))
      .withColumn("h", portableHash60(col("word")))
    val bitSums = (0 until bits).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"s$b"))
    val sig = (0 until bits)
      .map(b => when(col(s"s$b") > 0, lit(1L << b)).otherwise(0L))
      .reduce(_ + _)
    wordsDf
      .groupBy("doc_id")
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), sig.as("simhash"))
  }

  /** SimHash near-dup pairs over (doc_id, simhash) signatures from
    * [[simHashPortableSignatures]]: band the 32-bit signature into 4
    * bytes; pairs sharing any byte-band are candidates; keep those
    * within `maxHamming`. Like the MinHash path, degenerate bands are
    * capped at `maxBucket` members (a hot byte value — e.g. millions of
    * boilerplate docs — would otherwise go quadratic in the self-join).
    */
  def simHashCandidates(
      sigs: DataFrame,
      maxHamming: Int = 6,
      maxBucket: Int = 64,
  ): DataFrame = {
    val banded = sigs.select(
      col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("simhash"), b * 8).bitwiseAND(0xFF)): _*))
        .as(Seq("band_idx", "band_key")),
    )
    val bucketCounts = banded
      .groupBy("band_idx", "band_key")
      .agg(count(lit(1)).as("bucket_n"))
      .where(col("bucket_n").between(2, maxBucket))
    val capped = banded.join(bucketCounts, Seq("band_idx", "band_key"))
    val a = capped.select(col("band_idx"), col("band_key"),
      col("doc_id").as("doc_a"), col("simhash").as("sim_a"))
    val b = capped.select(col("band_idx"), col("band_key"),
      col("doc_id").as("doc_b"), col("simhash").as("sim_b"))
    a.join(b, Seq("band_idx", "band_key"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** Embedding-cosine near-dup over consecutive vec_id pairs (the oracle-
    * checkable slice; the general ANN path lives in [[Similarity]]).
    */
  def cosineNearDupPairs(embeddings: DataFrame): DataFrame = {
    val a = embeddings.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
    val b = embeddings.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
    a.join(b, col("vec_b") === col("vec_a") + 1)
      .select(
        col("vec_a"), col("vec_b"),
        VectorMath.cosineExact(col("emb_a"), col("emb_b")).as("cosine"),
      )
  }

  /** End-to-end dedup decision pipeline — the full production shape:
    * MinHash/LSH candidate generation → exact-Jaccard verification at
    * `minJaccard` → transitive clustering → keep-lowest-id decision.
    * Returns one row per input document: (doc_id, cluster_id, is_kept).
    *
    * Each stage bounds the next: LSH keeps candidate pairs near-linear,
    * verification prunes false LSH positives BEFORE clustering, and the
    * component loop runs only on verified near-dup edges (a relation
    * orders of magnitude smaller than the corpus at 100 TB).
    */
  def dedupPipeline(
      docs: DataFrame,
      minJaccard: Double = 0.5,
      k: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
  ): DataFrame = {
    val verified = minHashCandidatesPortable(docs, k, numHashes, bands)
      .where(col("jaccard") >= minJaccard)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    clusterAndKeep(docs, verified)
  }

  /** Shared dedup tail: cluster the edge relation over all documents and
    * mark the keep-lowest-id decision. One definition so the decision
    * semantics cannot diverge between pipelines.
    */
  private def clusterAndKeep(docs: DataFrame, edges: DataFrame): DataFrame =
    GraphOps.connectedComponents(docs.select(col("doc_id").as("id")), edges)
      .withColumn("is_kept", (col("doc_id") === col("cluster_id")).cast(IntegerType))

  /** Consecutive-pair bigram overlap — the oracle-checkable chain graph
    * shared by d4 (reports it), and d6 pointer jumping / r1 recursive
    * CTE (threshold it via [[consecutiveBigramEdges]]): one row per
    * (doc_a, doc_b = doc_a + 1) where both have ≥ 2 words, with
    * `n_shared` / `n_union` = sizes of the intersection / union of the
    * two distinct-bigram sets. One definition, so a tokenization change
    * can never desynchronize the queries.
    */
  def consecutiveBigramPairs(docs: DataFrame): DataFrame = {
    val ws = TextAnalysis.words(col("text"))
    val bigrams = array_distinct(transform(
      sequence(lit(0), size(col("w")) - 2),
      i => concat(element_at(col("w"), i + 1), lit(" "), element_at(col("w"), i + 2)),
    ))
    // NOTE: both halves of the self-join read `side` (the bigram pipeline
    // evaluates twice). Pinning it with localCheckpoint was measured
    // SLOWER for d6 (3.0 s → 6.9 s at sf0.1 — the materialized wide
    // bigram arrays outweigh the recompute, and the CC loop's own
    // checkpoints already bound its lineage); callers that reuse the
    // EDGES output across iterations pin that instead (r1).
    val side = docs
      .select(col("doc_id"), ws.as("w"))
      .where(size(col("w")) >= 2)
      .select(col("doc_id"), bigrams.as("bg"))
    val a = side.select(col("doc_id").as("doc_a"), col("bg").as("bg_a"))
    val b = side.select(col("doc_id").as("doc_b"), col("bg").as("bg_b"))
    a.join(b, col("doc_b") === col("doc_a") + 1)
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("bg_a"), col("bg_b"))).as("n_shared"),
        size(array_union(col("bg_a"), col("bg_b"))).as("n_union"))
  }

  /** Chain edges (doc_a, doc_b) of [[consecutiveBigramPairs]] whose
    * bigram Jaccard clears `minJaccard`.
    */
  def consecutiveBigramEdges(docs: DataFrame, minJaccard: Double): DataFrame =
    consecutiveBigramPairs(docs)
      .where((col("n_shared").cast(DoubleType) / col("n_union")) >= minJaccard)
      .select(col("doc_a"), col("doc_b"))

  /** Cluster assignment for the oracle-checkable consecutive-pair graph:
    * documents whose bigram Jaccard with their successor clears
    * `minJaccard` form chain edges; components collapse the chains.
    * Output adds `is_kept` — the canonical keep-lowest-id decision.
    */
  def nearDupClusters(docs: DataFrame, minJaccard: Double = 0.5): DataFrame = {
    val edges = consecutiveBigramEdges(docs, minJaccard)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    clusterAndKeep(docs, edges)
  }

  /** Incremental dedup: a NEW batch checked against the EXISTING corpus —
    * the shape continuous ingestion actually runs (re-deduping 100 TB
    * from scratch per batch is not a plan). Two tiers:
    *
    *  1. exact — a batch doc is an exact dup when its sha256(text)
    *     exists in the corpus OR in a more-senior (lower doc_id) doc of
    *     the SAME batch — without the intra-batch check, two identical
    *     arrivals in one batch would both pass and the duplicate pair
    *     would live in the corpus forever. The shuffle carries 32-byte
    *     hashes, and at scale the corpus side is a write-once
    *     materialized hash index, not a re-scan;
    *  2. near — exact-tier survivors build portable-MinHash band keys
    *     and join the CORPUS band table (again: a maintained index at
    *     scale) on (band_idx, band_key); degenerate corpus buckets
    *     (> `maxBucket` members) are dropped, candidate pairs verify
    *     with exact shingle Jaccard — computed only for CANDIDATE docs
    *     on both sides — and any hit ≥ `minJaccard` marks the batch doc
    *     a near-dup. (Intra-batch NEAR-dup detection is deliberately out
    *     of scope: run [[dedupPipeline]] over the admitted set for
    *     that — this operator's contract is batch-vs-corpus.)
    *
    * The batch side is typically tiny relative to the corpus, so its
    * hash/band relations broadcast; the corpus ships only 60-bit band
    * keys and hashes, never text. Candidate pairs are pinned
    * (`localCheckpoint`) before fan-out to the two set-verify branches —
    * the relation is candidate-sized, and re-deriving it would re-run
    * the md5 band pipeline per consumer. Returns one row per incoming
    * doc: (doc_id, status ∈ exact_dup | near_dup | new). Every step is
    * on the portable (md5) family — the d10 oracle replays both tiers.
    */
  def incrementalDedup(
      corpus: DataFrame,
      incoming: DataFrame,
      k: Int = 3,
      numHashes: Int = 16,
      rowsPerBand: Int = 4,
      maxBucket: Int = 64,
      minJaccard: Double = 0.5,
  ): DataFrame = {
    val corpusHashes = corpus
      .select(sha2(col("text"), 256).as("content_hash")).distinct()
    // per-hash senior within the batch: the lowest doc_id owns the text
    val seniors = incoming
      .groupBy(sha2(col("text"), 256).as("content_hash"))
      .agg(min(col("doc_id")).as("__senior"))
    // Pinned: three consumers (survivors, candidate-bounded shingles, the
    // final status join) would otherwise each replay the sha2 pass over
    // the batch AND the corpus-hash distinct+join. The relation is
    // batch-sized — cheap to hold, expensive to re-derive.
    val flagged = incoming
      .select(col("doc_id"), col("text"), sha2(col("text"), 256).as("content_hash"))
      .join(corpusHashes.withColumn("__in_corpus", lit(true)), Seq("content_hash"), "left")
      .join(seniors, Seq("content_hash"))
      .withColumn("__exact",
        col("__in_corpus").isNotNull || col("doc_id") =!= col("__senior"))
      .localCheckpoint()
    val survivors = flagged.where(!col("__exact"))
      .select(col("doc_id"), col("text"))
    val incBands = portableBandKeys(minHashPortable(survivors, k, numHashes), rowsPerBand)
    // One pass over the corpus band pipeline: group each bucket's member
    // list and apply the degeneracy cap on the grouped row — joining a
    // separate count-filter relation back onto the band table would
    // evaluate the whole md5 pipeline twice.
    val corpBuckets = portableBandKeys(minHashPortable(corpus, k, numHashes), rowsPerBand)
      .groupBy("band_idx", "band_key")
      .agg(collect_list(col("doc_id")).as("__ids"))
      .where(size(col("__ids")) <= maxBucket)
    val cand = incBands
      .join(corpBuckets, Seq("band_idx", "band_key"))
      .select(col("doc_id"), explode(col("__ids")).as("corpus_doc"))
      .distinct()
      .localCheckpoint()
    // shingle sets ONLY for candidate docs — the verify cost is bounded
    // by the candidate set, not the corpus
    val incSets = shingleSets(
      survivors.join(cand.select("doc_id").distinct(), Seq("doc_id"), "left_semi"), k)
      .select(col("doc_id"), col("shingles").as("sh_i"))
    val corpSets = shingleSets(
      corpus.join(cand.select(col("corpus_doc").as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi"), k)
      .select(col("doc_id").as("corpus_doc"), col("shingles").as("sh_c"))
    val nearIds = cand
      .join(incSets, Seq("doc_id"))
      .join(corpSets, Seq("corpus_doc"))
      .where(
        (size(array_intersect(col("sh_i"), col("sh_c"))).cast(DoubleType) /
          size(array_union(col("sh_i"), col("sh_c")))) >= minJaccard)
      .select(col("doc_id")).distinct()
    flagged
      .join(nearIds.withColumn("__near", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("__exact"), lit("exact_dup"))
          .when(col("__near"), lit("near_dup"))
          .otherwise(lit("new")).as("status"))
  }

  /** Semantic (embedding-space) dedup, the SemDeDup shape (Abbas et al.,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication", 2023): cluster the corpus with k-means, then compare
    * pairs only WITHIN a cluster and drop every vector that has a
    * more-senior (lower vec_id) near-twin — cluster bucketing turns the
    * all-pairs O(N²) into O(Σ|cluster|²), and the paper's operating point
    * keeps clusters at ~√N so the quadratic term stays linear overall.
    *
    * Execution shape: assignment is the broadcast-centroid map-side
    * argmin of [[EmbeddingOps.assignToCentroids]] (zero corpus exchange);
    * the pair generation is ONE shuffle of the corpus by cluster id and a
    * per-cluster self-join; scoring is the codegen'd exact-integer
    * quantized cosine, so assignments, scores, and the drop decision are
    * engine-portable (the sd2 oracle replays all of it in SQL).
    *
    * The drop rule is deliberately non-transitive — `vec_b` drops when ANY
    * lower-id same-cluster vector scores ≥ `minCosine`, whether or not
    * that vector itself survives. That is SemDeDup's own semantics (one
    * representative per ε-ball, greedy by seniority), and it is what
    * keeps the decision a single semi-join instead of an iterative
    * closure ([[nearDupClusters]] is the transitive variant when that is
    * wanted).
    *
    * Requires a `label` column (the k-means seeding of
    * [[EmbeddingOps.centroids]]). Returns one row per input vector:
    * (vec_id, cluster, is_kept) — a vector with an empty or null
    * embedding cannot be assigned or compared, so it carries
    * cluster = null and is_kept = true (nothing to dedup it against)
    * rather than silently vanishing from the decision set.
    */
  def semanticDedup(embeddings: DataFrame, minCosine: Double = 0.3): DataFrame = {
    // The assignment CARRIES the embedding (map-only fold, see
    // assignToCentroids) — no relabel join; eager pin because the fold
    // feeds three branches (both pair sides + the final left join).
    val clustered = EmbeddingOps
      .assignToCentroids(
        embeddings, EmbeddingOps.centroids(embeddings), carry = Seq("embedding"))
      .localCheckpoint(eager = true)
    val assigned = clustered.select(col("vec_id"), col("cluster"))
    val a = clustered.select(
      col("cluster"), col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
    val b = clustered.select(
      col("cluster"), col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
    val dups = a.join(b, Seq("cluster"))
      .where(col("vec_a") < col("vec_b") &&
        VectorMath.cosineExact(col("emb_a"), col("emb_b")) >= minCosine)
      .select(col("vec_b").as("vec_id"))
      .distinct()
    val result = embeddings.select(col("vec_id"))
      .join(assigned, Seq("vec_id"), "left")
      .join(dups.withColumn("__dup", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("__dup"), lit(false)).unary_!.as("is_kept"))
      // Eager-checkpoint the NARROW decision set (vec_id, cluster,
      // is_kept — no embedding) so the embedding-width pin above can be
      // dropped NOW instead of lingering until GC + ContextCleaner in a
      // long-lived serving session (ADVICE r12, same discipline as
      // kmeansFit's per-round unpersist). The result is materialized
      // here anyway by every caller; what a session keeps resident is
      // now 3 scalar columns, not the corpus' vectors.
      .localCheckpoint(eager = true)
    Checkpoints.release(clustered)
    result
  }

  /** SemDeDup with a BOUNDED-bucket cluster key — the scale path next
    * to [[semanticDedup]]'s exact-within-cluster reference. The label
    * clusters come from a FIXED centroid set, so their sizes grow
    * linearly with the corpus and the within-cluster pair join grows
    * quadratically (measured 7.1× sf0.1→sf1.0, the worst ratio in the
    * r10 full-registry curve). Sub-bucketing each cluster by
    * `nTables` independent `nPlanes`-hyperplane LSH tables (x2's
    * OR-construction) caps expected candidate work per cluster at
    * nTables·(cluster/2^nPlanes)² — corpus-linear for fixed dials —
    * and a pair is examined when it shares a bucket in ANY table.
    *
    * RECALL IS THRESHOLD-DEPENDENT (the honest LSH trade): collision
    * probability per table is (1 − θ/π)^nPlanes. At SemDeDup's
    * production bars (cosine ≥ 0.95, θ ≈ 0.32) that is ≈ 0.65/table →
    * ≈ 0.985 with 4 tables; at this fixture's deliberately LOW 0.3 bar
    * (θ ≈ 1.27 — the synthetic corpus has no true near-dups, the same
    * reason d6 runs Jaccard at 0.05) it is ≈ 0.13/table → measured
    * 0.54 of sd2's drops at ~1/16 the per-table pair work. The dials
    * (nPlanes, nTables) tune recall exactly like x2's.
    *
    * DUPLICATE-MASS DEGENERACY (VERDICT r10 #3): LSH cannot subdivide a
    * blob of near-identical vectors — they MUST share every bucket
    * (that is LSH working), so a blob of size m costs m² pairs however
    * the dials are set (measured on the clustered ScaleGen tree:
    * sub-buckets of 2050, scored pairs 7.4M → 35.9M organic→clustered
    * at sf1.0). The EXEMPLAR PRE-FILTER below makes that case linear
    * WITHOUT changing the result set: within each bucket, every member
    * is first checked against the bucket's minimum-id member (the
    * exemplar — senior to everyone, so a hit is a definitive drop; one
    * linear pass), and only exemplar-SURVIVORS enter the pairwise
    * senior scan. A degenerate blob drops wholesale in phase 1
    * (survivors ≈ 0 ⇒ phase-2 ≈ 0 pairs); an organic bucket keeps its
    * previous cost. Exact because a phase-1 drop is a true senior twin
    * and a phase-2 candidate is still compared against every senior
    * bucket member except the already-checked exemplar.
    */
  def semanticDedupBucketed(
      embeddings: DataFrame,
      minCosine: Double = 0.3,
      nPlanes: Int = 4,
      nTables: Int = 4,
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // EAGER pin: the centroid-assignment fold is the expensive upstream
    // and feeds FOUR branches (phase-1 exemplar scan, both phase-2
    // join sides, the final left join) — lazy lineage would re-run it
    // per branch (measured 2x on the organic sf1.0 tree when phase 1
    // first landed without the pin). The assignment CARRIES the
    // embedding (map-only fold, see assignToCentroids), so the one
    // corpus-width relation of (vec_id, cluster, embedding) comes
    // straight off the scan — no relabel join before the checkpoint.
    val clustered = EmbeddingOps
      .assignToCentroids(
        embeddings, EmbeddingOps.centroids(embeddings), carry = Seq("embedding"))
      .localCheckpoint(eager = true)
    val assigned = clustered.select(col("vec_id"), col("cluster"))
    val bucketed = clustered.select(col("cluster"),
      col("vec_id"), col("embedding"),
      posexplode(
        graft.functions.LshBuckets.buckets(col("embedding"), nPlanes, nTables))
        .as(Seq("t", "b")))
    // PHASE 1 — exemplar pre-filter (see scaladoc): each bucket's
    // minimum-id member reaches every row via a WINDOW struct-min over
    // the bucket key (vec_id leads the struct, so the embedding never
    // decides the min; the window's partitioning is the same key the
    // phase-2 self-join shuffles on), and every junior member scores
    // against it once — a hit is a definitive drop, the exemplar is
    // senior to everyone in the bucket.
    val withEx = bucketed.withColumn("__m",
      min(struct(col("vec_id"), col("embedding")))
        .over(Window.partitionBy("cluster", "t", "b")))
    val p1dups = withEx
      .where(col("vec_id") > col("__m.vec_id") &&
        VectorMath.cosineExact(col("embedding"), col("__m.embedding")) >= minCosine)
      .select(col("vec_id"))
      .distinct()
      .localCheckpoint(eager = true) // consumed by the survivor anti-join AND the union
    // PHASE 2 — pairwise senior scan for exemplar-SURVIVORS only.
    // embeddings CARRIED through the bucket join and the cosine
    // evaluated inline (x2/lshTopK's shape): a pair colliding in
    // several tables is scored up to nTables times, which measured
    // cheaper than the dedup-then-refetch alternative (pair distinct +
    // two id-keyed embedding joins) — scoring is a fused map-side
    // expression, the refetch was two extra exchanges. The exemplar
    // column is skipped on the senior side (phase 1 already scored it).
    val a = bucketed.select(col("cluster"), col("t"), col("b"),
      col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
    val bb = withEx
      .join(p1dups, Seq("vec_id"), "left_anti")
      .select(col("cluster"), col("t"), col("b"), col("__m.vec_id").as("m_id"),
        col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
    val p2dups = a.join(bb, Seq("cluster", "t", "b"))
      .where(col("vec_a") < col("vec_b") && col("vec_a") =!= col("m_id") &&
        VectorMath.cosineExact(col("emb_a"), col("emb_b")) >= minCosine)
      .select(col("vec_b").as("vec_id"))
    val dups = p1dups.unionByName(p2dups).distinct()
    embeddings.select(col("vec_id"))
      .join(assigned, Seq("vec_id"), "left")
      .join(dups.withColumn("__dup", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("__dup"), lit(false)).unary_!.as("is_kept"))
  }
}
