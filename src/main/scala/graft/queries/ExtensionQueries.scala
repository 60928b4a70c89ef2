package graft.queries

import graft.Tables
import graft.functions.VectorMath
import graft.operators.{Dedup, GraphOps, Multimodal, Sessionize, Similarity, TextAnalysis}
import graft.streaming.EventsStream
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** The large-scale training-data-pipeline extension set (BASELINE.json
  * north star): dedup, similarity search, text analysis, multimodal
  * plumbing, streaming, sketches. Every query carries oracle SQL;
  * where a result depends on a hash, the hash is md5
  * (`Dedup.portableHash60`), which the oracle engine replays.
  */
object ExtensionQueries {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // --- Deduplication ---
    "d1_dedup_exact" -> { (spark, dir) =>
      Dedup.exact(Tables.documents(spark, dir)).orderBy("content_hash")
    },
    // MinHash+LSH near-dup over the PORTABLE (md5) hash family: per-doc
    // signature summary + banded-LSH candidate count. Every step — the
    // signatures (d8 proves them), the band keys, the bucket-capped
    // candidate pairs — is recomputed by the DuckDB oracle. The pairs
    // are Dedup.bandPairs, the same relation d7 and dr1 build on;
    // n_candidates is each doc's degree in it.
    "d2_dedup_minhash" -> { (spark, dir) =>
      val docs = Tables.documentsParallel(spark, dir)
      // The md5 signature pipeline fans out to two consumers (bands and
      // the summary); pin both relations so the 16-hashes-per-shingle
      // scan runs once — at scale these are the persisted index tables.
      val sigs = Dedup.minHashPortable(docs, 3, 16) // (doc_id, h_idx, min_hash)
        .localCheckpoint(eager = true)
      val bands = Dedup.portableBandKeys(sigs, 4).localCheckpoint(eager = true)
      val cands = Dedup.bandPairs(bands, 64)
        .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_candidates"))
      sigs.groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_hashes"),
          min("min_hash").as("sig_min"),
          max("min_hash").as("sig_max"))
        .join(cands, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_hashes"), col("sig_min"), col("sig_max"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"))
        .orderBy("doc_id")
    },
    // SimHash near-dup over the PORTABLE (md5) hash family: signatures
    // + per-doc candidate count, all recomputed by the DuckDB oracle
    // (bit sums, sign assembly, byte-banding, Hamming filter).
    "d3_dedup_simhash" -> { (spark, dir) =>
      val docs = Tables.documentsParallel(spark, dir)
      // PIN the signatures (optimization r15): sigs feed the band
      // self-join (both sides) AND the final per-doc join. The r14 plan
      // deduplicated those subtrees via ReuseExchange at the groupBy's
      // shuffle; with documentsParallel now hash-partitioned by doc_id
      // that exchange no longer exists, so without this pin every
      // consumer re-runs the per-word md5 pass (measured d3 1.8→2.9 s).
      // The pinned relation is (doc_id, simhash) — 16 bytes/doc at any
      // corpus size, the standard materialize-signatures posture.
      // ACCEPTED LEAK (ADVICE r15): queries return lazily, so the pin
      // cannot be released in-query; the blocks (16 B/doc) linger until
      // the harness's per-execution dropPinned() or ContextCleaner GC —
      // same accepted class as tm2's gate-barrier checkpoint.
      val sigs = Dedup.simHashPortableSignatures(docs)
        .localCheckpoint(eager = true)
      val cands = Dedup.simHashCandidates(sigs, maxHamming = 10)
      val perDoc = cands
        .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_near"))
      sigs
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("simhash"),
          coalesce(col("n_near"), lit(0L)).as("n_near"))
        .orderBy("doc_id")
    },
    // Exact bigram-Jaccard between consecutive doc pairs (oracle-checked).
    // Sorted-neighborhood blocking (Hernandez-Stolfo SNM) — the third
    // candidate-generation family next to hashing (d1) and LSH banding
    // (d2): records sort by a cheap normalized key INSIDE coarse blocks
    // (lang × length-bucket) and only a fixed window of sorted
    // neighbors (w=3 → lead 1..2) is ever compared, so candidate count
    // is exactly (w-1)·n whatever the corpus — no bucket-degeneracy
    // risk at all, the property hash blocking needs caps to get.
    // Verification is exact word-set Jaccard in integer ppm. The sort
    // partitions by block, never globally; at 100 TB each block sorts
    // where its data sits.
    "snm1_sorted_neighborhood" -> { (spark, dir) =>
      val docs = Tables.documentsParallel(spark, dir)
      val base = docs.select(
        col("doc_id"), col("lang"),
        expr("n_chars div 64").as("szb"),
        substring(lower(trim(col("text"))), 1, 32).as("skey"),
        array_distinct(TextAnalysis.words(col("text"))).as("w"))
      val win = Window.partitionBy("lang", "szb").orderBy("skey", "doc_id")
      val nb = base
        .withColumn("n1_id", lead(col("doc_id"), 1).over(win))
        .withColumn("n1_w", lead(col("w"), 1).over(win))
        .withColumn("n2_id", lead(col("doc_id"), 2).over(win))
        .withColumn("n2_w", lead(col("w"), 2).over(win))
      nb.select(col("doc_id").as("doc_a"), col("w").as("wa"),
          explode(array(
            struct(col("n1_id").as("nid"), col("n1_w").as("nw")),
            struct(col("n2_id").as("nid"), col("n2_w").as("nw")))).as("p"))
        .where(col("p.nid").isNotNull)
        .select(col("doc_a"), col("p.nid").as("doc_b"),
          size(array_intersect(col("wa"), col("p.nw"))).cast(LongType).as("n_shared"),
          size(array_union(col("wa"), col("p.nw"))).cast(LongType).as("n_union"))
        .withColumn("jaccard_ppm",
          expr("n_shared * 1000000 div nullif(n_union, 0)"))
        .orderBy("doc_a", "doc_b")
    },
    "d4_ngram_jaccard" -> { (spark, dir) =>
      Dedup.consecutiveBigramPairs(Tables.documentsParallel(spark, dir))
        .select(col("doc_a"), col("doc_b"), col("n_shared"),
          (col("n_shared").cast("double") / col("n_union")).as("jaccard"))
        .orderBy("doc_a")
    },
    // Embedding-cosine near-dup on consecutive pairs (oracle-checked,
    // exact-decimal accumulation).
    "d5_cosine_neardup" -> { (spark, dir) =>
      Dedup.cosineNearDupPairs(Tables.embeddings(spark, dir)).orderBy("vec_a")
    },
    // URL-canonicalization dedup — the crawl pipeline's FIRST dedup
    // tier (cheaper than any content hash: no page fetch needed).
    // Synthetic crawl URLs dress every 4 consecutive doc_ids as one
    // logical page in different clothes (scheme/host case, trailing
    // slash, utm_* tracking params, fragment); Dedup.canonicalUrl
    // collapses the variants and min doc_id keeps. Scale shape: one
    // narrow projection + a groupBy on the canonical string — the
    // exchange carries URLs, never documents.
    "d13_url_dedup" -> { (spark, dir) =>
      val raw = concat(
        when(col("doc_id") % 4 === 1, lit("HTTPS://WWW.Example.ORG"))
          .otherwise(lit("https://www.example.org")),
        lit("/docs/"), expr("doc_id div 4"),
        when(col("doc_id") % 4 === 1, lit("/")).otherwise(lit("")),
        when(col("doc_id") % 4 === 2, lit("?utm_source=feed&utm_medium=rss"))
          .otherwise(lit("")),
        when(col("doc_id") % 4 === 3, lit("#section-2")).otherwise(lit("")))
      Tables.documents(spark, dir)
        .select(col("doc_id"), raw.as("url"),
          Dedup.canonicalUrl(raw).as("canonical_url"))
        .groupBy("canonical_url")
        .agg(count(lit(1)).as("n_variants"),
          countDistinct(col("url")).as("n_distinct_raw"),
          min(col("doc_id")).as("keep_doc_id"))
        .orderBy("canonical_url")
    },
    // SEMANTIC decontamination census — the embedding-space sibling of
    // the n-gram contamination report (cont1): for every EVAL vector,
    // its nearest TRAIN vector by exact quantized cosine and whether
    // that exceeds the contamination bar (an eval item semantically
    // duplicated in training data corrupts the benchmark even when no
    // n-gram is shared — the Phi/LLM-report decontamination step).
    // Exact form here is the semantics oracle; at corpus scale the
    // same census serves from the ANN index (x22's IVFADC shortlist,
    // exact-refined) instead of the brute scan — rnn1's posture.
    "scont1_semantic_contamination" -> { (spark, dir) =>
      // Eval side BOUNDED (id < 2500 ∧ %5): eval benchmarks are fixed-
      // size while the train corpus grows, so the census is x1's shape —
      // tiny eval broadcast, train corpus streams, linear in corpus. An
      // unbounded %5 eval side measured 62.7 s at sf1.0 (n² in the
      // corpus) before the bound; at sf0.01/sf0.1-census scales the
      // bound is vacuous so the oracle rows are unchanged there.
      val emb = Tables.embeddings(spark, dir)
      val evalSet = emb.where(col("vec_id") % 5 === 0 && col("vec_id") < 2500)
      val trainSet = emb.where(col("vec_id") % 5 =!= 0)
      Similarity.bruteForceTopK(evalSet, trainSet, k = 1)
        .select(col("q_vec").as("vec_id"), col("c_vec").as("nn_train"),
          col("cosine"), (col("cosine") >= 0.9).as("contaminated"))
        .orderBy("vec_id")
    },
    // Semantic decontamination SCALE PATH (the sd2→sd3 pattern applied
    // to scont1): the same eval-vs-train nearest-neighbor census served
    // through IVF probing instead of the full brute scan — each eval
    // vector scores only its nProbe=2 of nCentroids=16 inverted lists,
    // an 8× cut in pair work that grows with nCentroids at a real
    // deployment. Round 12 (VERDICT r11 #3): the train-side index is
    // PERSISTED (buildIvfIndex — build once at write time, x23's
    // treatment; lists.parquet is physically partitioned by list_id so
    // probing reads 1/nCentroids of the data off disk) and the census
    // serves via ivfTopKFromIndex — query time pays probe + probed-list
    // scan only (AnnIndexSpec pins no-cluster-in-serve via ivfBuilds).
    // Approximate by construction (a true NN outside the probed lists
    // is missed — rnn1's posture), but fully deterministic: the oracle
    // replays probing and the rank-1 census FROM the persisted
    // centroids/lists artifacts (x37's pattern). scont1 stays as the
    // exact-semantics oracle; RoundElevenOpsSpec pins the dominance
    // laws (an IVF cosine can never beat the exact one; contaminated ⇒
    // scont1-contaminated).
    "scont2_semantic_contamination_ivf" -> { (spark, dir) =>
      val emb = Tables.embeddings(spark, dir)
      val evalSet = emb.where(col("vec_id") % 5 === 0 && col("vec_id") < 2500)
      val trainSet = emb.where(col("vec_id") % 5 =!= 0)
      val root = Similarity.indexRoot(dir) + "_scont"
      Similarity.buildIvfIndex(trainSet, root, nLists = 16)
      Similarity.ivfTopKFromIndex(evalSet, root, k = 1, nProbe = 2)
        .select(col("q_vec").as("vec_id"), col("c_vec").as("nn_train"),
          col("cosine"), (col("cosine") >= 0.9).as("contaminated"))
        .orderBy("vec_id")
    },
    // End-to-end dedup pipeline: LSH candidates -> exact-Jaccard verify
    // -> clusters -> keep decision, on the PORTABLE hash family. The
    // DuckDB oracle replays the entire pipeline — signatures, band
    // buckets, candidate pairs, Jaccard verification, and the
    // transitive closure (recursive CTE) — so even the iterative
    // pointer-jumping component loop is gated. Invariants also in
    // DedupSpec.
    "d7_dedup_pipeline" -> { (spark, dir) =>
      Dedup.dedupPipeline(Tables.documentsParallel(spark, dir), minJaccard = 0.05)
        .orderBy("doc_id")
    },
    // Transitive near-dup clusters: connected components (iterative
    // min-label propagation) over the consecutive-pair bigram-Jaccard
    // graph, checked against a DuckDB recursive-CTE closure. Threshold
    // 0.05: the synthetic corpus has no true near-dups, so a low bar is
    // what makes the component structure non-trivial here.
    "d6_dedup_clusters" -> { (spark, dir) =>
      Dedup.nearDupClusters(Tables.documentsParallel(spark, dir), minJaccard = 0.05)
        .orderBy("doc_id")
    },

    // QUALITY-canonical dedup — the keep rule real curation uses where
    // d6 keeps the lowest id: within each near-dup cluster, the member
    // with the MOST words survives (ties → lowest id; rank window is
    // per-cluster). The census carries kept/total word masses, so the
    // cost of the keep decision is visible. Same CC engine as d6 —
    // one definition, two keep policies.
    "d12_quality_canonical" -> { (spark, dir) =>
      val docs = Tables.documentsParallel(spark, dir)
      val edges = Dedup.consecutiveBigramEdges(docs, minJaccard = 0.05)
        .select(col("doc_a").as("a"), col("doc_b").as("b"))
      val clusters = GraphOps.connectedComponents(
        docs.select(col("doc_id").as("id")), edges)
      val nw = docs.select(col("doc_id"),
        size(expr("filter(split(lower(trim(text)), '\\\\s+'), t -> t <> '')"))
          .cast(LongType).as("n_words"))
      // Keep decision as ONE hash aggregate (optimization r15, guide
      // §2.3): the r14 shape ranked members with a per-cluster
      // row_number window and then re-grouped — a full partition sort
      // plus a second pass, with no map-side partial aggregation. The
      // winner under (n_words DESC, doc_id ASC) is the MAX of the pair
      // packed into ONE BIGINT (optimization r16, VERDICT r15 #7):
      // packed = n_words·2^32 + (2^32−1−doc_id), so larger word counts
      // dominate and, within a count, the LOWEST doc_id packs highest.
      // max(struct(...)) expressed the same argmax but a struct-typed
      // buffer falls out of HashAggregateExec's mutable-buffer row
      // (the r15 plan ran 4 SortAggregates); max(BIGINT) keeps the whole
      // keep decision hash-aggregated with map-side partials. Domain:
      // exact while 0 ≤ doc_id < 2^32 and n_words < 2^31. n_words is
      // an INT size(), so only doc_id (unvalidated input) can leave the
      // domain; such a row fails the query via raise_error inside the
      // aggregate's own input, so the check adds no job (past 4.3e9
      // docs, widen to the struct form or DECIMAL).
      val packed = when(col("doc_id").between(0L, 4294967295L),
          shiftleft(col("n_words"), 32) + (lit(4294967295L) - col("doc_id")))
        .otherwise(raise_error(concat(
          lit("d12_quality_canonical: doc_id outside [0, 2^32) breaks the packed argmax: "),
          col("doc_id").cast("string"))))
      clusters.join(nw, Seq("doc_id"))
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("n_members"),
          max(packed).as("b"),
          sum(col("n_words")).as("cluster_words"))
        .select(col("cluster_id"), col("n_members"),
          (lit(4294967295L) - col("b").bitwiseAND(lit(4294967295L)))
            .as("kept_doc"),
          shiftright(col("b"), 32).as("kept_n_words"),
          col("cluster_words"),
          (col("cluster_words") - shiftright(col("b"), 32)).as("words_dropped"))
        .orderBy("cluster_id")
    },

    // Incremental (batch-vs-corpus) dedup: docs with doc_id % 4 == 0
    // arrive as the new batch; the rest are the existing corpus. Exact
    // tier = sha256 anti-join; near tier = portable-MinHash bands vs the
    // corpus band table + shingle-Jaccard verify. Oracle replays both
    // tiers (threshold 0.05: the synthetic corpus has no true near-dups,
    // a low bar keeps the decision structure non-trivial).
    "d10_incremental_dedup" -> { (spark, dir) =>
      val docs = Tables.documentsParallel(spark, dir)
      Dedup.incrementalDedup(
        docs.where(col("doc_id") % 4 =!= 0),
        docs.where(col("doc_id") % 4 === 0),
        minJaccard = 0.05)
        .orderBy("doc_id")
    },

    // --- Similarity search ---
    "x1_ann_bruteforce" -> { (spark, dir) =>
      val emb = Tables.embeddings(spark, dir)
      Similarity.bruteForceTopK(emb.where(col("vec_id") < 8), emb, k = 5)
        .orderBy("q_vec", "rank")
    },
    // FILTERED vector search (metadata predicate + similarity): top-5
    // same-label neighbors per query. The label joins BEFORE ranking —
    // post-filtering an unfiltered top-k under-fills k under selective
    // predicates (the classic filtered-ANN pitfall); here k is always
    // honest and the candidate work is label-sharded at any scale.
    "x32_filtered_ann" -> { (spark, dir) =>
      val emb = Tables.embeddings(spark, dir)
      Similarity.filteredTopK(emb.where(col("vec_id") < 8), emb, k = 5)
        .orderBy("q_vec", "rank")
    },
    // LSH-bucketed variant. Oracle-checked end to end: integer
    // hyperplane weights + quantized embeddings make bucket assignment
    // exact-integer, and the quantized-cosine ranking is too — DuckDB
    // recomputes buckets, candidate pairs, and ranks bit for bit.
    "x2_ann_lsh" -> { (spark, dir) =>
      val emb = Tables.embeddings(spark, dir)
      Similarity.lshTopK(emb.where(col("vec_id") < 8), emb, k = 3)
        .orderBy("q_vec", "rank")
    },
    // IVF-style variant: corpus partitioned by nearest centroid, queries
    // probe nProbe lists. Oracle-checked end to end: the similarity is
    // the integer-quantized cosine, so centroid argmaxes and ranks are
    // order-independent and DuckDB recomputes the WHOLE pipeline —
    // centroid selection, corpus assignment, query probes, final rank.
    "x5_ann_ivf" -> { (spark, dir) =>
      val emb = Tables.embeddings(spark, dir)
      Similarity.ivfTopK(emb.where(col("vec_id") < 8), emb, k = 3)
        .orderBy("q_vec", "rank")
    },
    // MMR diversified re-ranking (Carbonell & Goldstein 1998) — the RAG
    // retrieval-diversity primitive: from the query's top-20 shortlist,
    // greedily select 5 results maximizing λ·rel − (1−λ)·max-sim-to-
    // selected (λ=0.5). The DISTRIBUTED work is the shortlist scan
    // (brute-force quantized cosine over the corpus — the x1 pipeline);
    // the greedy selection is inherently sequential and runs as 5
    // one-row argmax scalars over the 20-row shortlist (the bounded-
    // collect pattern). All similarities are the exact-integer quantized
    // cosine, so scores — and therefore the selection — are
    // bit-identical on both engines. Oracle replays shortlist, pairwise
    // sims, and all 5 greedy steps in chained CTEs.
    "mmr1_diversified_topk" -> { (spark, dir) =>
      val emb = Tables.embeddings(spark, dir)
      val q = broadcast(emb.where(col("vec_id") === 0)
        .select(col("embedding").as("q_emb")))
      val shortlist = emb.where(col("vec_id") =!= 0)
        .crossJoin(q)
        .select(col("vec_id").as("c"), col("embedding").as("e"),
          VectorMath.cosineExact(col("q_emb"), col("embedding")).as("rel"))
        .orderBy(col("rel").desc, col("c"))
        .limit(20)
        .localCheckpoint()
      val sims = shortlist.select(col("c").as("a"), col("e").as("ea"))
        .join(shortlist.select(col("c").as("b"), col("e").as("eb")),
          col("a") =!= col("b"))
        .select(col("a"), col("b"),
          VectorMath.cosineExact(col("ea"), col("eb")).as("sim"))
        .localCheckpoint()
      var selected = Vector.empty[(Long, Double, Double)] // (vec, rel, score)
      for (step <- 1 to 5) {
        val selIds = selected.map(_._1)
        val cands = shortlist.where(!col("c").isInCollection(selIds ++ Seq(-1L)))
        val top = {
          if (selIds.isEmpty)
            cands.select(col("c"), col("rel"), (col("rel") * 0.5).as("score"))
              .orderBy(col("score").desc, col("c")).limit(1).collect().headOption
          else
            cands.join(sims.where(col("b").isInCollection(selIds)),
                col("c") === col("a"))
              .groupBy(col("c"), col("rel"))
              .agg(max(col("sim")).as("maxsim"))
              .select(col("c"), col("rel"),
                (col("rel") * 0.5 - col("maxsim") * 0.5).as("score"))
              .orderBy(col("score").desc, col("c")).limit(1).collect().headOption
        }.getOrElse(throw new IllegalStateException(
          s"MMR step $step: shortlist exhausted after ${selected.size} " +
            "selections — corpus yielded fewer than 5 candidates " +
            "(is the embeddings fixture unexpectedly small, or vec_id 0 absent?)"))
        selected :+= ((top.getLong(0), top.getDouble(1), top.getDouble(2)))
      }
      import spark.implicits._
      selected.zipWithIndex
        .map { case ((v, r, s), i) => (i + 1, v, r, s) }
        .toDF("rank", "vec_id", "rel", "mmr_score")
        .orderBy("rank")
    },

    // LSH recall instrumentation: recall@3 of the bucketed path (x2)
    // against exact brute force (x1) — the QUALITY number that must ride
    // alongside the bucketed path's speed (an ANN variant that silently
    // degrades recall is not "faster", it is wrong). Oracle-checked:
    // both sides are exact-integer pipelines, so DuckDB recomputes the
    // recall itself. The floor is ALSO asserted in SimilaritySpec.
    "x2r_ann_lsh_recall" -> { (spark, dir) =>
      val emb = Tables.embeddings(spark, dir)
      val qs = emb.where(col("vec_id") < 8)
      val exact = Similarity.bruteForceTopK(qs, emb, k = 3)
        .select(col("q_vec"), col("c_vec"))
      val lsh = Similarity.lshTopK(qs, emb, k = 3)
        .select(col("q_vec"), col("c_vec"), lit(1L).as("__hit"))
      exact.join(lsh, Seq("q_vec", "c_vec"), "left")
        .agg(
          count(lit(1)).as("n_exact"),
          sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
        .select(col("n_exact"), col("n_hit"),
          (col("n_hit").cast(DoubleType) / col("n_exact")).as("recall"))
    },
    // Mutual-kNN census — the reciprocal-neighbor graph behind SemDeDup
    // variants and kNN-graph clustering: (a,b) is mutual iff each sits
    // in the other's top-5. Computed here over a bounded id-slice with
    // the exact ranking (the semantics oracle); at corpus scale the
    // same self-join runs over the ANN index's served top-k lists
    // (x22/x23) instead of brute force — the mutual join itself keys on
    // (q,c) pairs and shuffles only id pairs either way.
    "rnn1_mutual_knn" -> { (spark, dir) =>
      val sub = Tables.embeddings(spark, dir).where(col("vec_id") < 500)
      val tk = Similarity.bruteForceTopK(sub, sub, k = 5)
        .select(col("q_vec"), col("c_vec"))
        .localCheckpoint(eager = true) // feeds both sides of the mutual join
      val rev = tk.select(col("c_vec").as("q_vec"), col("q_vec").as("c_vec"))
      val mutual = tk.join(rev, Seq("q_vec", "c_vec"), "left_semi")
        .groupBy("q_vec")
        .agg(count(lit(1)).as("cnt"), min(col("c_vec")).as("best"))
      sub.select(col("vec_id"))
        .join(mutual, col("vec_id") === col("q_vec"), "left")
        .select(col("vec_id"),
          coalesce(col("cnt"), lit(0L)).as("n_mutual"),
          coalesce(col("best"), lit(-1L)).as("best_mutual"))
        .orderBy("vec_id")
    },
    // Graph-based ANN (the NSW/HNSW family, completing the index tier
    // set next to LSH/IVF/PQ): greedy beam search over the corpus
    // slice's top-5 proximity graph — fixed entry vertex, 3 expand-
    // score-prune rounds at beam 8, report the top-5 visited. Fully
    // deterministic (exact quantized cosine, id tiebreaks), so the
    // oracle replays the whole traversal round by round.
    "x33_graph_ann_beam" -> { (spark, dir) =>
      val emb = Tables.embeddings(spark, dir)
      Similarity.graphAnnBeam(
          emb.where(col("vec_id") < 500), emb.where(col("vec_id") < 8),
          k = 5, beam = 8, rounds = 3, graphK = 5)
        .orderBy("q_vec", "rank")
    },
    // NN-descent kNN-graph BUILD quality census (VERDICT r9 #2): the
    // scale-true graph construction (hash-bucket seeds, 3 rounds of
    // neighbor-of-neighbor refinement at build K=15 — every relation
    // node-linear, O(n·K²·d) compute vs brute force's O(n²·d)) scored
    // against the exact brute-force top-5 graph: per node, how many of
    // its 5 true nearest neighbors did the descent recover? 0.963
    // overall recall on this fixture. Fully deterministic (portable md5
    // seeding, exact quantized cosine, id tiebreaks), so the oracle
    // replays the seeding and all three rounds.
    "x34_nn_descent" -> { (spark, dir) =>
      val sub = Tables.embeddings(spark, dir).where(col("vec_id") < 500)
      val nnd = Similarity
        .nnDescent(sub, graphK = 15, rounds = 3, seedBucketSize = 32)
        .where(col("rank") <= 5)
        .select(col("v"), col("nbr"), lit(1L).as("__hit"))
      Similarity.bruteForceTopK(sub, sub, k = 5)
        .select(col("q_vec").as("v"), col("c_vec").as("nbr"))
        .join(nnd, Seq("v", "nbr"), "left")
        .groupBy("v")
        .agg(count(lit(1)).as("n_true"),
          sum(coalesce(col("__hit"), lit(0L))).as("n_recovered"))
        .select(col("v").as("vec_id"), col("n_true"), col("n_recovered"))
        .orderBy("vec_id")
    },
    // The PRODUCTION graph-ANN pairing (x33's serve fed by x34's
    // build): beam search over the NN-DESCENT top-5 graph instead of
    // the brute-force graph — both tiers node-linear, completing
    // VERDICT r9 #2. Round 11 (VERDICT r10 #1): the graph comes off the
    // PERSISTED index artifact (build-once via buildNndGraphIndex —
    // query time pays serve only), while the oracle still composes the
    // FULL NN-descent build replay with the round-by-round beam replay:
    // the artifact is the deterministic build, so the strongest oracle
    // form stays valid. x37 is the same serve gated by the
    // replay-from-artifact oracle (the x23 pattern).
    "x35_graph_ann_nnd" -> { (spark, dir) =>
      val emb = Tables.embeddings(spark, dir)
      val sub = emb.where(col("vec_id") < 500)
      val root = Similarity.graphIndexRoot(dir)
      Similarity.buildNndGraphIndex(sub, root)
      Similarity.graphAnnServeFromIndex(emb.where(col("vec_id") < 8), sub, root,
          k = 5, beam = 8, rounds = 3, degree = 5)
        .orderBy("q_vec", "rank")
    },
    // Serve from the PERSISTED graph index, gated by the
    // replay-from-artifact oracle — x23's pattern applied to the graph
    // tier: DuckDB reads the SAME edges.parquet snapshot the Spark side
    // wrote and replays the whole beam traversal from it, proving the
    // on-disk layout (not just the build math — x35's oracle covers
    // that) is engine-portable. Build-once semantics: the first call
    // builds, every later call serves; GraphIndexSpec pins that serving
    // never constructs a graph (nndBuilds counter).
    "x37_graph_index_persisted" -> { (spark, dir) =>
      val emb = Tables.embeddings(spark, dir)
      val sub = emb.where(col("vec_id") < 500)
      val root = Similarity.graphIndexRoot(dir)
      Similarity.buildNndGraphIndex(sub, root)
      Similarity.graphAnnServeFromIndex(emb.where(col("vec_id") < 8), sub, root,
          k = 5, beam = 8, rounds = 3, degree = 5)
        .orderBy("q_vec", "rank")
    },
    // Graph-index DELETE + APPEND lifecycle from persisted artifacts —
    // the graph analogue of x30: build the base graph on [0,400), APPEND
    // [400,500) (persisted NSW merge — the write path; idempotent under
    // re-delivery via the id-keyed anti-join), DELETE [8,208) into the
    // tombstone side-table (O(batch), never an edge rewrite), RE-ADD
    // [8,108) (resurrection = tombstone clear; the ids are already
    // indexed so the edge relation is untouched), and serve from the
    // artifacts. The net-dead [108,208) must leave the traversal on
    // BOTH edge endpoints; the oracle replays the beam from the same
    // persisted edges + tombstones. Compaction is pinned in
    // GraphIndexSpec (the x30/AnnIndexSpec division of labor).
    // STREAMED graph-index ingest (the graph twin of st21): micro-batches
    // of vectors NSW-insert into the persisted edge artifact via
    // foreachBatch — beam-locate over the frozen base graph, reverse-
    // link, monoid top-K re-prune — so the final artifact is identical
    // however the stream was batched (GraphIndexSpec pins the law).
    // Queries serve from the stream-built index; the oracle replays the
    // beam from the same persisted edges (x37's pattern).
    "st29_stream_graph_append" -> { (spark, dir) =>
      graft.streaming.VectorStream.streamGraphAppend(spark, dir)
    },
    // st29 + the OFFLINE RECONCILIATION pass (VERDICT r11 #2): after
    // the batching-invariant stream inserts, ONE reconcileGraphIndex
    // NN-descent round links the cross-batch new×new neighborhoods the
    // inserts leave for repair (marker-guarded so the query is
    // run-once deterministic); serve from the reconciled artifact and
    // replay the beam from the same persisted edges (x37's pattern).
    // GraphIndexSpec pins the monotone-improvement law + recall census.
    "st30_graph_reconcile" -> { (spark, dir) =>
      graft.streaming.VectorStream.streamGraphReconcile(spark, dir)
    },
    "x38_graph_index_delete" -> { (spark, dir) =>
      val emb = Tables.embeddings(spark, dir)
      val root = Similarity.graphIndexRoot(dir) + "_gd"
      val old = emb.where(col("vec_id") < 400)
      val nw = emb.where(col("vec_id") >= 400 && col("vec_id") < 500)
      Similarity.buildNndGraphIndex(old, root)
      Similarity.appendToNndGraphIndex(old, nw, root)
      Similarity.deleteFromGraphIndex(
        emb.where(col("vec_id") >= 8 && col("vec_id") < 208).select("vec_id"),
        root)
      Similarity.appendToNndGraphIndex(emb.where(col("vec_id") < 500),
        emb.where(col("vec_id") >= 8 && col("vec_id") < 108), root)
      Similarity.graphAnnServeFromIndex(
          emb.where(col("vec_id") < 8), emb.where(col("vec_id") < 500), root,
          k = 5, beam = 8, rounds = 3, degree = 5)
        .orderBy("q_vec", "rank")
    },
    // INCREMENTAL graph upsert — the lifecycle's third tier (x34 BUILD,
    // x35/x37 SERVE, x36 UPSERT — the graph analogue of the IVFADC
    // x23–x30 path): 100 new vectors join the 400-slice's PREBUILT
    // NN-descent graph without a rebuild. Round 11 (VERDICT r10 #1):
    // the base graph comes off its persisted artifact (build-once), so
    // query time pays ONLY the upsert share — beam-locate each new node
    // (the standard NSW insertion), reverse-link located edges into the
    // old nodes, batch-seed new×new candidates, one bounded re-prune +
    // one reconciling descent round. The oracle replays the build in
    // SQL (= the artifact, deterministically) plus the full merge.
    // Census: true top-5 edges (brute force over all 500) recovered by
    // the upserted graph — covering BOTH the new nodes' placement and
    // the old nodes' edge improvements via reverse links.
    "x36_nnd_upsert" -> { (spark, dir) =>
      val emb = Tables.embeddings(spark, dir)
      val old = emb.where(col("vec_id") < 400)
      val nw = emb.where(col("vec_id") >= 400 && col("vec_id") < 500)
      val root = Similarity.graphIndexRoot(dir) + "_b400"
      Similarity.buildNndGraphIndex(old, root)
      val g = graft.energy.AtomicLayer.read(spark, s"$root/edges.parquet")
        .select(col("v"), col("nbr").as("u"), col("cosine"))
      val upserted = Similarity.nnDescentUpsertWithGraph(g, old, nw)
        .where(col("rank") <= 5)
        .select(col("v"), col("nbr"), lit(1L).as("__hit"))
      val all = emb.where(col("vec_id") < 500)
      Similarity.bruteForceTopK(all, all, k = 5)
        .select(col("q_vec").as("v"), col("c_vec").as("nbr"))
        .join(upserted, Seq("v", "nbr"), "left")
        .groupBy("v")
        .agg(count(lit(1)).as("n_true"),
          sum(coalesce(col("__hit"), lit(0L))).as("n_recovered"))
        .select(col("v").as("vec_id"), col("n_true"), col("n_recovered"))
        .orderBy("vec_id")
    },
    // Mutual-kNN CLUSTERS: connected components over the reciprocal-
    // neighbor edges (rnn1's graph) — the clustering step of
    // mutual-NN dedup/coreset pipelines. Reuses the pointer-jumping CC
    // (d6's engine); edges are id pairs only. Oracle: recursive-CTE
    // reachability min-root, same as d6's.
    "rnn2_mutual_knn_clusters" -> { (spark, dir) =>
      val sub = Tables.embeddings(spark, dir).where(col("vec_id") < 500)
      val tk = Similarity.bruteForceTopK(sub, sub, k = 5)
        .select(col("q_vec"), col("c_vec"))
        .localCheckpoint(eager = true)
      val rev = tk.select(col("c_vec").as("q_vec"), col("q_vec").as("c_vec"))
      val mutual = tk.join(rev, Seq("q_vec", "c_vec"), "left_semi")
        .where(col("q_vec") < col("c_vec"))
        .select(col("q_vec").as("a"), col("c_vec").as("b"))
      GraphOps
        .connectedComponents(sub.select(col("vec_id").as("id")), mutual)
        .select(col("doc_id").as("vec_id"), col("cluster_id").as("cluster"))
        .orderBy("vec_id")
    },
    // Reciprocal-rank quality of the LSH index (the MRR ingredient,
    // recall's order-sensitive sibling): where does each query's TRUE
    // nearest neighbor land in the approximate top-10? rank 0 = missed.
    // The reciprocal is kept exact by scaling with 2520 = lcm(1..10) —
    // 2520 div rank is an integer for every possible rank, so the
    // relation (and any MRR averaged from it) is float-free.
    "mrr1_ann_rank_quality" -> { (spark, dir) =>
      val emb = Tables.embeddings(spark, dir)
      val qs = emb.where(col("vec_id") < 8)
      val truth = Similarity.bruteForceTopK(qs, emb, k = 1)
        .select(col("q_vec"), col("c_vec").as("true_nn"))
      val approx = Similarity.lshTopK(qs, emb, k = 10)
        .select(col("q_vec").as("aq"), col("c_vec"), col("rank"))
      truth.join(approx,
          col("q_vec") === col("aq") && col("true_nn") === col("c_vec"),
          "left")
        .select(col("q_vec"), col("true_nn"),
          coalesce(col("rank"), lit(0)).cast("int").as("found_rank"),
          coalesce(expr("2520 div rank"), lit(0L)).as("rr_scaled"))
        .orderBy("q_vec")
    },
    // PQ-ADC search: the corpus is stored as 4 codeword ids per vector
    // and a query scans CODES (lookup-table adds), not floats — the
    // memory tier of billion-vector ANN. Oracle-checked end to end: the
    // codebook, code assignment, per-query lookup tables, approximate
    // distances, and ranks are all exact-integer, so DuckDB recomputes
    // the ENTIRE index build + search in SQL.
    "x20_ann_pq" -> { (spark, dir) =>
      val emb = Tables.embeddings(spark, dir)
      Similarity.pqTopK(emb.where(col("vec_id") < 8), emb, k = 5)
        .orderBy("q_vec", "rank")
    },
    // PQ recall instrumentation: recall@3 of the code-scan path (x20)
    // against exact brute force — the quality dial that rides with PQ's
    // compression (nSub codes ↔ recall trade). Oracle-checked: both
    // sides are exact-integer pipelines.
    "x20r_ann_pq_recall" -> { (spark, dir) =>
      val emb = Tables.embeddings(spark, dir)
      val qs = emb.where(col("vec_id") < 8)
      val exact = Similarity.bruteForceTopK(qs, emb, k = 3)
        .select(col("q_vec"), col("c_vec"))
      val pq = Similarity.pqTopK(qs, emb, k = 3)
        .select(col("q_vec"), col("c_vec"), lit(1L).as("__hit"))
      exact.join(pq, Seq("q_vec", "c_vec"), "left")
        .agg(
          count(lit(1)).as("n_exact"),
          sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
        .select(col("n_exact"), col("n_hit"),
          (col("n_hit").cast(DoubleType) / col("n_exact")).as("recall"))
    },
    // PQ with exact re-rank (IVFADC-refine): the code scan produces a
    // 32-deep shortlist; only those candidates' real vectors are fetched
    // and re-ranked by exact quantized L2. Oracle-checked end to end —
    // shortlist AND refine are exact-integer.
    "x21_ann_pq_refine" -> { (spark, dir) =>
      val emb = Tables.embeddings(spark, dir)
      Similarity.pqRefineTopK(emb.where(col("vec_id") < 8), emb, k = 3, refine = 32)
        .orderBy("q_vec", "rank")
    },
    // Refined-PQ recall@3 vs the metric-matched exact reference
    // (quantized-L2 brute force): the number that justifies the refine
    // tier — 0.17 codes-only → ~0.7 here at sf0.01.
    "x21r_ann_pq_refine_recall" -> { (spark, dir) =>
      val emb = Tables.embeddings(spark, dir)
      val qs = emb.where(col("vec_id") < 8)
      val exact = Similarity.bruteForceL2TopK(qs, emb, k = 3)
        .select(col("q_vec"), col("c_vec"))
      val pq = Similarity.pqRefineTopK(qs, emb, k = 3, refine = 32)
        .select(col("q_vec"), col("c_vec"), lit(1L).as("__hit"))
      exact.join(pq, Seq("q_vec", "c_vec"), "left")
        .agg(
          count(lit(1)).as("n_exact"),
          sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
        .select(col("n_exact"), col("n_hit"),
          (col("n_hit").cast(DoubleType) / col("n_exact")).as("recall"))
    },
    // IVFADC (IVF + PQ + refine): probe 2/16 inverted lists, ADC-scan
    // only those lists' codes, exact-re-rank a 32-deep shortlist — the
    // composed billion-vector index architecture. Oracle replays list
    // assignment, codes, LUTs, probed-list ADC, and the refine.
    "x22_ann_ivfpq" -> { (spark, dir) =>
      val emb = Tables.embeddings(spark, dir)
      Similarity.ivfPqTopK(emb.where(col("vec_id") < 8), emb, k = 3)
        .orderBy("q_vec", "rank")
    },
    // IVFADC recall@3 vs the metric-matched exact reference — the
    // compounded quality number (list recall × in-list PQ recall).
    "x22r_ann_ivfpq_recall" -> { (spark, dir) =>
      val emb = Tables.embeddings(spark, dir)
      val qs = emb.where(col("vec_id") < 8)
      val exact = Similarity.bruteForceL2TopK(qs, emb, k = 3)
        .select(col("q_vec"), col("c_vec"))
      val ivfpq = Similarity.ivfPqTopK(qs, emb, k = 3)
        .select(col("q_vec"), col("c_vec"), lit(1L).as("__hit"))
      exact.join(ivfpq, Seq("q_vec", "c_vec"), "left")
        .agg(
          count(lit(1)).as("n_exact"),
          sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
        .select(col("n_exact"), col("n_hit"),
          (col("n_hit").cast(DoubleType) / col("n_exact")).as("recall"))
    },
    // Recall-vs-nProbe tuning curve — the quality/latency trade every
    // IVF deployment measures before picking its operating point: the
    // same IVFADC search at nProbe ∈ {1, 2, 4}, each scored against the
    // exact metric-matched top-3 (recall = |approx ∩ exact| / |exact|).
    // The exact reference is computed ONCE (checkpoint-pinned) and
    // reused by all three probe settings; each probe level scans only
    // its probed lists, so the curve costs ~Σ nProbe/nLists of one full
    // scan — the cheap sweep that justifies the production setting.
    // NOTE the curve need NOT be monotone at fixed refine depth (and on
    // this fixture it isn't): widening the probe set grows the ADC
    // candidate pool competing for the fixed 32-slot shortlist, and
    // quantization error can evict true neighbors a narrower probe
    // would have kept — the sweep exists precisely to expose such
    // operating-point surprises (production raises refine with nProbe).
    "x31_ann_recall_curve" -> { (spark, dir) =>
      val emb = Tables.embeddings(spark, dir)
      val qs = emb.where(col("vec_id") < 8)
      val exact = Similarity.bruteForceL2TopK(qs, emb, k = 3)
        .select(col("q_vec"), col("c_vec"))
        .localCheckpoint(eager = true)
      // r11: the three probe levels search the PERSISTED x23 artifacts
      // (build-once, shared with x23 — the inline form re-derived
      // centroids + codebook + the full corpus encode once PER PROBE
      // LEVEL, tripling the only corpus-sized work in the query; the
      // sweep's point is that widening nProbe costs ~nProbe/nLists of a
      // scan, which only holds when the index is a fixed artifact).
      // Index content is identical to the inline derivation, so the
      // oracle's inline replay stays valid.
      val root = Similarity.indexRoot(dir)
      Similarity.buildIvfPqIndex(emb, root)
      val (index, cents, sample) = Similarity.loadIvfPqArtifacts(spark, root)
      Seq(1, 2, 4).map { p =>
        val approx = Similarity
          .ivfPqTopKFromArtifacts(index, cents, sample, qs, emb, k = 3, nProbe = p)
          .select(col("q_vec"), col("c_vec"), lit(1L).as("__hit"))
        exact.join(approx, Seq("q_vec", "c_vec"), "left")
          .agg(count(lit(1)).as("n_exact"),
            sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
          .select(lit(p.toLong).as("n_probe"), col("n_exact"), col("n_hit"),
            (col("n_hit").cast(DoubleType) / col("n_exact")).as("recall"))
      }.reduce(_ unionByName _).orderBy("n_probe")
    },
    // IVFADC from a PERSISTED index — the serving half of the
    // billion-vector story that x22 only models inline (x22 re-derives
    // centroids, codebook, and codes on every call; a real deployment
    // builds them ONCE at write time). The artifacts land as three
    // parquet tables under AtomicLayer commit-marker snapshots; query
    // time reads them off disk and pays only probe + probed-list ADC +
    // refine. The oracle replays the search FROM THE SAME PERSISTED
    // FILES (read_parquet by literal path), proving the on-disk layout
    // — not just the math — is engine-portable. Build-once semantics:
    // the first call builds, every later call serves.
    "x23_ann_ivfpq_persisted" -> { (spark, dir) =>
      val emb = Tables.embeddings(spark, dir)
      val root = Similarity.indexRoot(dir)
      Similarity.buildIvfPqIndex(emb, root)
      Similarity.ivfPqTopKFromIndex(emb.where(col("vec_id") < 8), emb, root, k = 3)
        .orderBy("q_vec", "rank")
    },
    // Incremental index maintenance — build the persisted IVF-PQ index
    // from the FIRST 400 vectors, then ADD the remaining 100 with the
    // EXISTING centroids/codebook (the FAISS add() path: no retrain,
    // the old codes never re-encode, the append is an idempotent
    // id-keyed upsert), and serve queries from the MERGED on-disk
    // index. The oracle replays the full search from the same persisted
    // artifacts; AnnIndexSpec pins the append semantics (idempotence,
    // no duplicate ids, new codes consistent with the base codebook).
    "x29_ann_index_upsert" -> { (spark, dir) =>
      val emb = Tables.embeddings(spark, dir)
      val root = Similarity.indexRoot(dir) + "_b400"
      Similarity.buildIvfPqIndex(emb.where(col("vec_id") < 400), root)
      Similarity.appendToIvfPqIndex(emb.where(col("vec_id") >= 400), root)
      Similarity.ivfPqTopKFromIndex(emb.where(col("vec_id") < 8), emb, root, k = 3)
        .orderBy("q_vec", "rank")
    },
    // Index DELETE — the tombstone path (GDPR erasure / dedup
    // retraction) that completes the maintenance lifecycle: build the
    // full index, DELETE ids [8,208) (a 200-vector erasure batch — 40%
    // of the sf0.01 corpus, so dead ids provably overlap the query
    // neighborhoods: 7 of x23's 24 result ids fall in the net-dead
    // window), then RE-ADD [8,108) (resurrection: the add is the later
    // op, latest-wins), and serve from the artifacts. The delete lands
    // in a tiny tombstones.parquet side table (never a code-table
    // rewrite — delete cost is O(batch) at any corpus size); serving
    // anti-joins it broadcast. The net dead set [108,208) can never
    // appear in results — the oracle replays the same artifacts incl.
    // the tombstone filter; AnnIndexSpec pins delete/re-add.
    "x30_ann_index_delete" -> { (spark, dir) =>
      val emb = Tables.embeddings(spark, dir)
      val root = Similarity.indexRoot(dir) + "_del"
      Similarity.buildIvfPqIndex(emb, root)
      Similarity.deleteFromIvfPqIndex(
        emb.where(col("vec_id") >= 8 && col("vec_id") < 208).select("vec_id"),
        root)
      Similarity.appendToIvfPqIndex(
        emb.where(col("vec_id") >= 8 && col("vec_id") < 108), root)
      Similarity.ivfPqTopKFromIndex(emb.where(col("vec_id") < 8), emb, root, k = 3)
        .orderBy("q_vec", "rank")
    },

    // Semantic dedup (SemDeDup): k-means cluster bucketing + within-
    // cluster cosine, drop every vector with a more-senior near-twin.
    // Threshold 0.3: the synthetic corpus has no true semantic twins
    // (within-cluster max cosine ≈ 0.47), so a low bar is what makes the
    // drop set non-trivial here; production operates near 0.95+.
    "sd2_semantic_dedup" -> { (spark, dir) =>
      Dedup.semanticDedup(Tables.embeddings(spark, dir), minCosine = 0.3)
        .orderBy("vec_id")
    },
    // SemDeDup SCALE PATH: sd2's label clusters come from a fixed
    // centroid set, so cluster sizes grow with the corpus and the
    // within-cluster pair join grows quadratically (7.1× on the r10
    // sf0.1→sf1.0 curve — the worst ratio in the registry). sd3
    // sub-buckets each cluster by 4 independent 4-plane LSH tables
    // (x2's OR-construction): candidate work per cluster is
    // nTables*(cluster/16)^2 — corpus-linear for fixed dials. Recall
    // is threshold-dependent: ~0.985 at SemDeDup's production 0.95
    // bar, 0.54 of sd2's drops at this fixture's deliberately-low 0.3
    // bar (see the operator scaladoc for the (1 - theta/pi)^nPlanes
    // arithmetic).
    "sd3_semantic_dedup_lsh" -> { (spark, dir) =>
      Dedup.semanticDedupBucketed(Tables.embeddings(spark, dir), minCosine = 0.3)
        .orderBy("vec_id")
    },

    // --- Text analysis ---
    "t1_token_counts" -> { (spark, dir) =>
      TextAnalysis.tokenCounts(Tables.documents(spark, dir)).orderBy("doc_id")
    },
    "t2_quality_scores" -> { (spark, dir) =>
      TextAnalysis.qualityScores(Tables.documents(spark, dir)).orderBy("doc_id")
    },
    "t3_language_id" -> { (spark, dir) =>
      TextAnalysis.languageId(Tables.documents(spark, dir)).orderBy("doc_id")
    },
    "t4_fingerprint" -> { (spark, dir) =>
      TextAnalysis.fingerprints(Tables.documents(spark, dir)).orderBy("doc_id")
    },
    "t5_term_stats" -> { (spark, dir) =>
      TextAnalysis.termStats(Tables.documents(spark, dir)).orderBy("doc_id", "term")
    },

    // Vocabulary build: global top-K tokens by frequency (deterministic
    // ties on the token) — the first step of any tokenizer training.
    // Counts compact map-side; only (token, count) partials shuffle.
    "t8_vocab" -> { (spark, dir) =>
      Tables.documentsParallel(spark, dir)
        .select(explode(TextAnalysis.words(col("text"))).as("token"))
        .where(col("token") =!= "")
        .groupBy("token")
        .agg(count(lit(1)).as("n_occurrences"))
        .orderBy(col("n_occurrences").desc, col("token"))
        .limit(500)
    },

    // Document-length histogram: fixed-width buckets over n_chars —
    // the length-distribution diagnostic every corpus audit starts with.
    "t9_len_histogram" -> { (spark, dir) =>
      Tables.documents(spark, dir)
        .select((floor(col("n_chars") / 100) * 100).cast("long").as("bucket_lo"))
        .groupBy("bucket_lo")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("bucket_lo")
    },

    // Bigram fluency: each document scored by the corpus-wide frequency
    // of its bigrams (avg occurrences per bigram) — the relational core
    // of LM-style quality filtering: common phrasing scores high,
    // gibberish scores ~1. Two aggregations + one self-join, all keyed
    // on the bigram, so corpus frequencies build once and broadcast/
    // shuffle-join back onto the per-doc rows.
    "t10_bigram_fluency" -> { (spark, dir) =>
      val ws = TextAnalysis.words(col("text"))
      val bigrams = transform(
        sequence(lit(0), size(col("w")) - 2),
        i => concat(element_at(col("w"), i + 1), lit(" "), element_at(col("w"), i + 2)))
      val bg = Tables.documentsParallel(spark, dir)
        .select(col("doc_id"), ws.as("w"))
        .where(size(col("w")) >= 2)
        .select(col("doc_id"), explode(bigrams).as("b"))
      val cf = bg.groupBy("b").agg(count(lit(1)).as("c"))
      bg.join(cf, "b")
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_bigrams"),
          sum(col("c")).as("sum_cf"),
        )
        .select(
          col("doc_id"), col("n_bigrams"), col("sum_cf"),
          (col("sum_cf").cast(DoubleType) / col("n_bigrams")).as("fluency"))
        .orderBy("doc_id")
    },

    // --- Multimodal columns ---
    "m1_media_meta" -> { (spark, dir) =>
      Multimodal.mediaMeta(Tables.documents(spark, dir)).orderBy("doc_id")
    },
    // mapPartitions feature extraction (decode STUB) — oracle-checked:
    // the stub's deterministic output (dims from the first two bytes +
    // an 8-bin byte histogram) is recomputable in SQL. The normalized
    // float features multiply back by n_bytes and round to recover the
    // EXACT integer bin counts (float32 error < c * 2^-24 << 0.5), so
    // the gate hashes integers, never float representations. Feature
    // vector unpacked to scalar columns: the driver's compare sorts
    // rows via pandas, which cannot sort array cells.
    "m2_media_features" -> { (spark, dir) =>
      val feats = Multimodal.extractFeatures(spark, Tables.documents(spark, dir)).toDF()
      feats.select(
        Seq(col("doc_id"), col("width"), col("height"), col("n_bytes")) ++
          (0 until 8).map(i =>
            round(col("features").getItem(i).cast(DoubleType) *
              greatest(col("n_bytes"), lit(1))).cast(LongType).as(s"b$i")): _*)
        .orderBy("doc_id")
    },
    // REAL image decode (VERDICT r7 #5): deterministic RGB pixels are
    // encoded to actual PNG bytes with javax.imageio (the JDK's own
    // codec — no external jars) and decoded BACK to pixels in a second
    // mapPartitions pass; the result is exact integer channel sums per
    // image. The oracle recomputes the same sums from the (doc_id,x,y)
    // pixel formula arithmetically — it never sees a PNG — so any
    // encode/decode corruption (channel swap, stride, quantization)
    // hash-fails. PNG is lossless: equality is exact. The one remaining
    // decode stub (m2) now covers only media the JVM cannot decode.
    "m6_png_decode" -> { (spark, dir) =>
      val ids = Tables.documents(spark, dir)
        .where(col("doc_id") % 10 === 0)
      Multimodal.decodePngStats(spark,
          Multimodal.synthesizePng(spark, ids))
        .toDF().orderBy("doc_id")
    },
    // Perceptual image fingerprint on the REAL codec path — the
    // image-dedup primitive stacked on m6's round-trip: block-average
    // hash (aHash) from the DECODED pixels, 4×4 integer-division grid,
    // cross-multiplied brighter-than-average bits, 16-bit BIGINT
    // fingerprint. The oracle replays the hash arithmetically from the
    // pixel formula without ever parsing a PNG — the multimodal twin
    // of the text fingerprints (t4/win1).
    "m8_image_ahash" -> { (spark, dir) =>
      val ids = Tables.documents(spark, dir)
        .where(col("doc_id") % 10 === 0)
      Multimodal.decodePngAHash(spark,
          Multimodal.synthesizePng(spark, ids))
        .toDF().orderBy("doc_id")
    },
    // Perceptual IMAGE dedup — d1's exact-dedup shape applied to the
    // decoded-image fingerprint: cluster by (width, height, aHash) on
    // the REAL codec path (synthesize → ImageIO decode → block-average
    // hash), min doc_id keeps each cluster. The multimodal member of
    // the dedup family: near-identical renders (re-encodes, metadata
    // churn) collapse to one perceptual key even when bytes differ.
    // Scale shape: the only exchange keys on 16-bit hashes + dims.
    "mdd1_image_dedup" -> { (spark, dir) =>
      val ids = Tables.documents(spark, dir)
        .where(col("doc_id") % 10 === 0)
      Multimodal.decodePngAHash(spark,
          Multimodal.synthesizePng(spark, ids))
        .toDF()
        .groupBy("width", "height", "ahash")
        .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_doc_id"))
        .orderBy("width", "height", "ahash")
    },

    // REAL audio decode — the WAV twin of m6: deterministic PCM16
    // samples (mono/stereo alternating by id) are encoded to actual
    // RIFF/WAVE bytes with javax.sound.sampled (the JDK's own audio
    // codec) and decoded BACK through AudioSystem.getAudioInputStream;
    // the result is exact integer sample statistics per clip. The
    // oracle recomputes sum/|sum|/peak/energy from the (doc_id, c, i)
    // sample formula arithmetically — it never parses a WAV — so any
    // header, interleave, or endianness corruption hash-fails. PCM is
    // lossless: equality is exact. With m6 + m7, the decode stub now
    // covers only media formats the JVM has no codec for (video).
    "m7_wav_decode" -> { (spark, dir) =>
      val ids = Tables.documents(spark, dir)
        .where(col("doc_id") % 10 === 3)
      Multimodal.decodeWavStats(spark,
          Multimodal.synthesizeWav(spark, ids))
        .toDF().orderBy("doc_id")
    },
    // Perceptual AUDIO fingerprint on the REAL codec path — the audio
    // twin of m8's image aHash (VERDICT r13 #5): decoded PCM reduces to
    // per-frame magnitudes, 16 integer-division windows, and a
    // cross-multiplied louder-than-average bit per window — exact
    // integers throughout, so the 16-bit fingerprint is bit-identical
    // to the oracle's arithmetic replay of the PCM formula (it never
    // parses a WAV).
    "m12_wav_fingerprint" -> { (spark, dir) =>
      val ids = Tables.documents(spark, dir)
        .where(col("doc_id") % 10 === 5)
      Multimodal.decodeWavFingerprint(spark,
          Multimodal.synthesizeWav(spark, ids))
        .toDF().orderBy("doc_id")
    },
    // Perceptual AUDIO dedup — mdd1's shape on the audio fingerprint:
    // cluster by (channels, n_frames, afp) on the real codec path,
    // min doc_id keeps each cluster. Completes the image/audio symmetry
    // of the multimodal dedup family; the only exchange keys on 16-bit
    // fingerprints + two small ints.
    "mdd2_audio_dedup" -> { (spark, dir) =>
      val ids = Tables.documents(spark, dir)
        .where(col("doc_id") % 10 === 5)
      Multimodal.decodeWavFingerprint(spark,
          Multimodal.synthesizeWav(spark, ids))
        .toDF()
        .groupBy("channels", "n_frames", "afp")
        .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_doc_id"))
        .orderBy("channels", "n_frames", "afp")
    },

    // REAL multi-frame decode — the video-shaped member of the codec
    // family (VERDICT r9 #6): deterministic indexed frames are encoded
    // to actual ANIMATED GIF bytes (writeToSequence, the JDK's own
    // codec) and ALL frames parsed back out (getNumImages + per-index
    // read); per frame: exact luminance sum, position-weighted checksum
    // (stride/frame-order sensitive), and the inter-frame delta
    // Σ|gray_f − gray_{f−1}| — the real-codec input to scene-cut logic
    // m4 derives from synthetic digests. Indexed color makes the GIF
    // round-trip lossless, so the oracle replays every statistic from
    // the (doc_id, f, x, y) formula without parsing a GIF. The decode
    // stub now covers only compressed-video codecs the JVM lacks.
    "m9_gif_frames" -> { (spark, dir) =>
      val ids = Tables.documents(spark, dir)
        .where(col("doc_id") % 10 === 6)
      Multimodal.decodeGifFrameStats(spark,
          Multimodal.synthesizeGif(spark, ids))
        .toDF().orderBy("doc_id", "frame_idx")
    },

    // REAL lossy decode — the JPEG member of the codec family
    // (VERDICT r12 #4): constant-valued 8×8 grayscale blocks aligned to
    // the JPEG block grid are encoded to actual JPEG bytes at explicit
    // quality 0.95 (javax.imageio, the JDK's own codec) and decoded
    // back; the gate is the per-block integer CENSUS ((mean+8) div 16
    // of levels 16k+8), tolerance-free yet robust to ±7 of lossy
    // wobble (measured JDK error: 0.0 — DC-only blocks survive
    // exactly). The oracle replays Σ census and the position-weighted
    // checksum from the block formula without parsing a JPEG. The
    // decode stub now covers only compressed-video codecs the JVM
    // lacks.
    "m10_jpeg_census" -> { (spark, dir) =>
      val ids = Tables.documents(spark, dir)
        .where(col("doc_id") % 10 === 9)
      Multimodal.decodeJpegBlockStats(spark,
          Multimodal.synthesizeJpeg(spark, ids))
        .toDF().orderBy("doc_id")
    },

    // REAL video decode — MJPEG-in-AVI, the codec family's video member
    // (VERDICT r13 #1): per-frame constant-block JPEGs (JDK codec at
    // quality 0.95, the m10 path) are wrapped in a hand-assembled
    // spec-complete RIFF-AVI container (avih/strl/movi/idx1) and decoded
    // BACK by walking the RIFF structure and running every 00dc frame
    // through the JDK JPEG reader; per frame: the exact integer block
    // census, its position-weighted checksum, and the inter-frame census
    // delta (m9's scene-delta shape on the lossy codec). The decoder
    // REQUIREs container coherence (declared frames/dims/handler match
    // the stream). The oracle replays everything from the block formula
    // without parsing an AVI. The decode stub (m2) now covers only
    // inter-frame codecs (H.264/VP9) the JVM has no decoder for.
    "m11_mjpeg_avi" -> { (spark, dir) =>
      val ids = Tables.documents(spark, dir)
        .where(col("doc_id") % 10 === 2)
      Multimodal.decodeAviFrameStats(spark,
          Multimodal.synthesizeAvi(spark, ids))
        .toDF().orderBy("doc_id", "frame_idx")
    },

    // --- Upsert (MERGE emulation): apply a derived updates batch to the
    // customer snapshot; updates win on key collision, new keys append ---
    "x7_upsert" -> { (spark, dir) =>
      val current = Tables.customer(spark, dir)
        .select("c_custkey", "c_name", "c_acctbal")
      // updates: zero the balance of every customer with negative balance,
      // plus one brand-new row whose key is max(c_custkey)+1 — derived, not
      // hard-coded, so it is guaranteed collision-free at every SF
      val newRow = current
        .agg((max(col("c_custkey")) + 1).as("c_custkey"))
        .select(
          col("c_custkey"),
          lit("Customer#new").as("c_name"),
          lit(1.5).as("c_acctbal"))
      val updates = current.where(col("c_acctbal") < 0)
        .withColumn("c_acctbal", lit(0.0))
        .unionByName(newRow)
      graft.operators.Upsert.upsert(current, updates, Seq("c_custkey"))
        .orderBy("c_custkey")
    },

    // --- SCD-2 history: signup events become interval-versioned rows
    // per user (effective_from/to + is_current) ---
    "x11_scd2" -> { (spark, dir) =>
      val signups = Tables.events(spark, dir)
        .where(col("event_type") === "signup")
        .select(col("user_id"), col("event_id"), col("ts_sec"), col("value"))
      graft.operators.Scd2
        .buildHistory(signups, col("user_id"), col("ts_sec"), col("event_id"))
        .select("user_id", "version", "event_id", "value",
          "effective_from", "effective_to", "is_current")
        .orderBy("user_id", "version")
    },

    // SCD-2 history INTEGRITY audit — the invariant st26's
    // point-in-time join silently relies on: per key the versions must
    // PARTITION time (adjacent intervals touch exactly: from_{v+1} =
    // to_v; no overlaps, no gaps) and exactly one open-ended current
    // row exists. Violations are exact per-key window comparisons over
    // the history relation (partitioned by key, never global); the
    // census pins every count — a correct history hashes to literal
    // zeros, so ANY builder regression (dup versions, wrong lead
    // frame, tie mishandling) is a hash fail.
    "scd3_history_integrity" -> { (spark, dir) =>
      val signups = Tables.events(spark, dir)
        .where(col("event_type") === "signup")
        .select(col("user_id"), col("event_id"), col("ts_sec"))
      val hist = graft.operators.Scd2
        .buildHistory(signups, col("user_id"), col("ts_sec"), col("event_id"))
      val w = Window.partitionBy("user_id").orderBy("version")
      hist
        .withColumn("prev_to", lag(col("effective_to"), 1).over(w))
        .agg(
          countDistinct(col("user_id")).as("n_keys"),
          count(lit(1)).as("n_versions"),
          expr("count_if(version > 1 AND effective_from <> prev_to)")
            .as("n_seam_breaks"),
          expr("count_if(effective_to IS NOT NULL " +
            "AND effective_to <= effective_from)").as("n_inverted"),
          expr("count_if(is_current = 1 AND effective_to IS NOT NULL)")
            .as("n_closed_current"),
          expr("count_if(effective_to IS NULL)").as("n_open_ended"))
        .select(col("n_keys"), col("n_versions"), col("n_seam_breaks"),
          col("n_inverted"), col("n_closed_current"),
          (col("n_open_ended") === col("n_keys")).as("one_current_per_key"))
    },

    // --- Range join: events inside deterministic 12h promo windows
    // (bucketed interval join; oracle uses the naive BETWEEN join) ---
    "x8_range_join" -> { (spark, dir) =>
      val base = 1704067200L // 2024-01-01 UTC, matching the events ts span
      val points = Tables.events(spark, dir)
        .select(col("event_id"), expr("ts div 1000000000").as("t"))
      val intervals = spark.range(20).select(
        col("id").as("interval_id"),
        (lit(base) + col("id") * 129600L).as("start"),
        (lit(base) + col("id") * 129600L + 43200L).as("end"))
      graft.operators.RangeJoin
        .rangeJoin(points, intervals, "t", "start", "end", bucketWidth = 43200L)
        .select("event_id", "interval_id")
        .orderBy("event_id", "interval_id")
    },

    // --- Interval-overlap join: promo windows x maintenance windows
    // (bucketized on both sides; oracle is the naive inequality join) ---
    // Interval ANTI-join — the coverage-gap mode the overlap joins
    // (x8/x12) can't express: events covered by NO promo window. Same
    // bucketed candidate generation as the range join (an event only
    // probes the buckets its timestamp falls in — never all intervals),
    // then a left-anti on the verified containment; reported as a
    // per-day census of uncovered activity, the shape an SLA/coverage
    // audit consumes.
    "j11_interval_anti" -> { (spark, dir) =>
      val base = 1704067200L
      val points = Tables.events(spark, dir)
        .select(col("event_id"), col("ts_sec"),
          expr("ts div 1000000000").as("t"))
      val intervals = spark.range(20).select(
        col("id").as("interval_id"),
        (lit(base) + col("id") * 129600L).as("start"),
        (lit(base) + col("id") * 129600L + 43200L).as("end"))
      val covered = graft.operators.RangeJoin
        .rangeJoin(points, intervals, "t", "start", "end",
          bucketWidth = 43200L)
        .select("event_id")
      points.join(covered, Seq("event_id"), "left_anti")
        .groupBy(to_date(col("ts_sec")).as("day"))
        .agg(count(lit(1)).as("n_uncovered"))
        .orderBy("day")
    },
    // Relational DIVISION — "which suppliers supply ALL size-50 parts",
    // the universal-quantifier join (⊇ a set) the other join modes
    // can't express. Computed in the scalable counting form: the
    // target set broadcasts, the deduplicated (supplier, part)
    // relation semi-joins it, and coverage counts compare to the
    // 1-row target cardinality — equivalent to the classic
    // double-anti-join (no target part left unsupplied) but emitting
    // the full coverage census instead of only the survivors. The
    // fact table shuffles once (the distinct); nothing is
    // suppliers×parts.
    "j14_relational_division" -> { (spark, dir) =>
      val target = Tables.part(spark, dir).where(col("p_size") === 50)
        .select(col("p_partkey"))
      val nT = target.agg(count(lit(1)).as("n_target"))
      val cov = Tables.lineitem(spark, dir)
        .select(col("l_suppkey"), col("l_partkey")).distinct()
        .join(broadcast(target), col("l_partkey") === col("p_partkey"))
        .groupBy("l_suppkey").agg(count(lit(1)).as("n_covered"))
      Tables.supplier(spark, dir).select(col("s_suppkey"))
        .join(cov.withColumnRenamed("l_suppkey", "s_suppkey"),
          Seq("s_suppkey"), "left")
        .crossJoin(broadcast(nT))
        .select(col("s_suppkey"),
          coalesce(col("n_covered"), lit(0L)).as("n_covered"),
          col("n_target"),
          (coalesce(col("n_covered"), lit(0L)) === col("n_target"))
            .as("full_coverage"))
        .orderBy("s_suppkey")
    },

    // Functional-dependency profiling — the metanome-style "does A
    // determine B?" audit a schema-inference layer runs before trusting
    // a column as a key or a dimension attribute. Each candidate is
    // one grouped count-distinct (map-side partials); violations are
    // lhs groups with >1 distinct rhs. Exact counts; the verdict is a
    // boolean, not a score.
    "fd1_functional_dependencies" -> { (spark, dir) =>
      def fd(df: DataFrame, lhs: String, rhs: String): DataFrame =
        df.groupBy(lhs).agg(countDistinct(col(rhs)).as("k"))
          .agg(count(lit(1)).as("n_lhs"),
            expr("count_if(k > 1)").as("n_violating"))
          .select(lit(s"$lhs->$rhs").as("fd"), col("n_lhs"),
            col("n_violating"), (col("n_violating") === 0L).as("holds"))
      val o = Tables.orders(spark, dir)
      val l = Tables.lineitem(spark, dir)
      fd(o, "o_orderkey", "o_custkey")
        .unionByName(fd(o, "o_custkey", "o_orderpriority"))
        .unionByName(fd(l, "l_orderkey", "l_returnflag"))
        .unionByName(fd(l, "l_partkey", "l_suppkey"))
        .orderBy("fd")
    },

    // Numeric BAND self-join — order pairs within the same priority
    // whose totals differ by ≤ $1: the near-duplicate-amount screen
    // (split invoices, double charges) that is a cross join done
    // naively. Bucketize cents div 100 (width ≥ the band, so a match
    // can only live in the same or an adjacent bucket): the probe side
    // explodes each row to its 3 candidate bucket keys, the equi-join
    // runs on (priority, bucket), and the band verifies exactly —
    // every qualifying pair is produced EXACTLY once (the build side's
    // bucket is unique per pair; orientation fixed by okey_a < okey_b).
    // The oracle is the naive inequality join. Scale shape: candidate
    // volume is pairs-per-$2-window, never n² — the same
    // candidate-bounding as the time-interval joins, on a value axis.
    "j12_band_join" -> { (spark, dir) =>
      val o = Tables.orders(spark, dir).select(
        col("o_orderkey").as("okey"), col("o_orderpriority").as("prio"),
        round(col("o_totalprice") * 100).cast(LongType).as("cents"))
      val probe = o.select(col("okey").as("okey_a"), col("prio"),
          col("cents").as("cents_a"),
          explode(array(expr("cents div 100 - 1"), expr("cents div 100"),
            expr("cents div 100 + 1"))).as("b"))
      val build = o.select(col("okey").as("okey_b"), col("prio"),
        col("cents").as("cents_b"), expr("cents div 100").as("b"))
      probe.join(build, Seq("prio", "b"))
        .where(col("okey_a") < col("okey_b") &&
          abs(col("cents_a") - col("cents_b")) <= 100L)
        .groupBy("prio")
        .agg(count(lit(1)).as("n_pairs"),
          expr("count_if(cents_a = cents_b)").as("n_exact"),
          min(abs(col("cents_a") - col("cents_b"))).as("min_diff"),
          sum(abs(col("cents_a") - col("cents_b"))).as("diff_mass"))
        .orderBy("prio")
    },

    "x12_interval_overlap" -> { (spark, dir) =>
      val base = 1704067200L
      val promos = spark.range(40).select(
        col("id").as("promo_id"),
        (lit(base) + col("id") * 21600L).as("p_start"),
        (lit(base) + col("id") * 21600L + 28800L).as("p_end"))
      val maint = spark.range(20).select(
        col("id").as("maint_id"),
        (lit(base) + col("id") * 43200L + 7200L).as("m_start"),
        (lit(base) + col("id") * 43200L + 21600L).as("m_end"))
      graft.operators.RangeJoin
        .intervalOverlapJoin(promos, maint,
          "p_start", "p_end", "m_start", "m_end", bucketWidth = 43200L)
        .select("promo_id", "maint_id")
        .orderBy("promo_id", "maint_id")
    },

    // --- As-of join: each click matched to the user's nearest preceding
    // signup (checked against DuckDB's NATIVE ASOF JOIN) ---
    "x6_asof_join" -> { (spark, dir) =>
      val ev = Tables.events(spark, dir)
      val clicks = ev.where(col("event_type") === "click")
        .select("user_id", "ts", "event_id")
      val signups = ev.where(col("event_type") === "signup")
        .select("user_id", "ts", "event_id")
      graft.operators.AsOfJoin.asof(
        clicks, signups, Seq("user_id"), "ts", "ts", rightPrefix = "signup_")
        .select(
          col("user_id"), col("event_id"),
          expr("timestamp_seconds(ts div 1000000000)").as("click_ts"),
          col("signup_event_id"),
        )
        .orderBy("user_id", "event_id")
    },

    // --- Sessionization (batch window construction, oracle-checked) ---
    "w2_sessionize" -> { (spark, dir) =>
      Sessionize.sessions(Tables.events(spark, dir))
        .orderBy("user_id", "session_idx")
    },

    // Native session_window: Spark's built-in gap-merged session
    // operator (the declarative twin of the lag/cumsum sessionizer w2
    // and the stateful st2) — 30-minute gap, per-user sessions.
    // Boundary semantics (probed at sf0.1, where exactly one event pair
    // sits at precisely the gap): an event AT prev + gap still MERGES —
    // a new session starts only strictly beyond the gap.
    "st6_session_window" -> { (spark, dir) =>
      Tables.events(spark, dir)
        .groupBy(col("user_id"), session_window(col("ts_sec"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select(
          col("user_id"),
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("n_events"))
        .orderBy("user_id", "session_start")
    },

    // Dynamic-gap session windows: the inactivity gap is an EXPRESSION
    // of the event (purchases hold the session open 60 min, everything
    // else 30) — Spark merges overlapping-or-TOUCHING per-event windows
    // [ts, ts+gap(event)): an event at EXACTLY the running session end
    // still merges (pinned by SessionBoundarySpec against planted
    // boundary data — despite the printed [start, end) interval, the
    // merge condition is inclusive). The oracle replays
    // union-of-intervals islands with a prefix-max running end, breaking
    // only when ts strictly exceeds the max end seen so far.
    "st18_dynamic_gap_sessions" -> { (spark, dir) =>
      val gap = when(col("event_type") === "purchase", lit("60 minutes"))
        .otherwise(lit("30 minutes"))
      Tables.events(spark, dir)
        .groupBy(col("user_id"), session_window(col("ts_sec"), gap))
        .agg(count(lit(1)).as("n_events"))
        .select(
          col("user_id"),
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("n_events"))
        .orderBy("user_id", "session_start")
    },

    // --- Streaming ---
    "st1_stream_daily" -> { (spark, dir) =>
      EventsStream.dailyAggregates(spark, dir)
    },
    // Stateful streaming sessionization (mapGroupsWithState) — rows-only;
    // its agreement with the batch sessionizer is asserted in specs.
    "st2_stream_sessions" -> { (spark, dir) =>
      graft.streaming.SessionStream.userSessions(spark, dir)
    },
    // Streaming dedup: state-backed first-occurrence pass-through; the
    // emitted set equals SELECT DISTINCT.
    "st3_stream_dedup" -> { (spark, dir) =>
      EventsStream.streamDedup(spark, dir)
    },
    // Stream-static dimension join + aggregate.
    // Streaming ANN serving: query vectors arrive as a stream, hash to
    // LSH buckets map-side (native kernel, no stream shuffle), join the
    // static corpus bucket index, and the per-query best neighbor
    // maintains in complete mode. The oracle replays the exact same
    // integer-hyperplane + quantized-cosine pipeline in batch SQL.
    "st11_stream_ann" -> { (spark, dir) =>
      graft.streaming.VectorStream.annTop1(spark, dir)
    },
    "st4_stream_static_join" -> { (spark, dir) =>
      EventsStream.streamStaticJoin(spark, dir)
    },

    // --- Skew mitigation: two-phase salted aggregation (exact for
    // decomposable aggs; l_quantity is integral so double sums are exact) ---
    "x4_salted_agg" -> { (spark, dir) =>
      graft.operators.Skew.saltedSumCount(
        Tables.lineitem(spark, dir),
        col("l_returnflag"), col("l_quantity"), col("l_orderkey"))
        .withColumnRenamed("k", "l_returnflag")
        .orderBy("l_returnflag")
    },

    // Mergeable HLL sketches: per-day partial sketches union-merged into
    // a global distinct estimate — the incremental pattern that lets a
    // 100 TB pipeline maintain distinct counts without re-scanning
    // history (persist the day sketch, merge on read). The estimate is
    // engine-specific, so the gate is the sketch CONTRACT (like x10):
    // the merged per-day sketches must land within the HLL error bound
    // of the exact global distinct (lgConfigK=12 ⇒ σ≈1.6%; bound 15%).
    // KMV (k-minimum-values / theta) distinct sketch — the mergeable
    // distinct-count tier whose ESTIMATE is engine-exact, unlike x13's
    // HLL (whose sketch value is implementation-specific and gated by
    // bound only): keep the k=64 smallest portable hashes per group;
    // est = (k−1)·2^40 div (kth div 2^20) ≈ (k−1)·2^60/kth, all shifts
    // integer so both engines compute the identical number. The merge
    // law is IN the relation: the ALL_merged row re-sketches from the
    // per-type sketches' union (what a 1000-executor combine does) and
    // the ALL_direct row sketches the raw stream — the oracle pins both
    // to the same arithmetic. True distincts ride along for
    // calibration.
    "kmv1_theta_distinct" -> { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val k = 64
      val hv = Tables.events(spark, dir)
        .select(col("event_type"),
          graft.operators.Dedup.portableHash60(
            concat(lit("kmv:"), col("user_id"))).as("h"),
          col("user_id"))
        .localCheckpoint(eager = true) // feeds sketches + true counts
      val perTypeH = hv.select("event_type", "h").distinct()
      val wT = Window.partitionBy("event_type").orderBy("h")
      val sk = perTypeH.withColumn("rn", row_number().over(wT))
        .where(col("rn") <= k)
        .localCheckpoint(eager = true) // feeds per-type kth + the merge
      // strictly INTEGER division both steps (a float division + floor
      // can round across an integer boundary and diverge from div)
      val estExpr = expr(
        s"CAST(${(k - 1).toLong * 1099511627776L} div (kth div 1048576) AS BIGINT)")
      val perType = sk.groupBy("event_type")
        .agg(max(col("h")).as("kth"), count(lit(1)).as("n_kept"))
        .join(hv.groupBy("event_type")
          .agg(countDistinct(col("user_id")).as("n_true")), Seq("event_type"))
      val direct = hv.select("h").distinct().orderBy("h").limit(k)
        .agg(max(col("h")).as("kth"), count(lit(1)).as("n_kept"))
        .crossJoin(broadcast(hv.agg(countDistinct(col("user_id")).as("n_true"))))
        .select(lit("ALL_direct").as("event_type"), col("kth"), col("n_kept"), col("n_true"))
      val merged = sk.select("h").distinct().orderBy("h").limit(k)
        .agg(max(col("h")).as("kth"), count(lit(1)).as("n_kept"))
        .crossJoin(broadcast(hv.agg(countDistinct(col("user_id")).as("n_true"))))
        .select(lit("ALL_merged").as("event_type"), col("kth"), col("n_kept"), col("n_true"))
      perType.select(col("event_type"), col("kth"), col("n_kept"), col("n_true"))
        .unionByName(direct).unionByName(merged)
        .select(col("event_type"), col("n_true"), col("n_kept"),
          col("kth"), estExpr.as("est"))
        .orderBy("event_type")
    },
    // AMS (tug-of-war) second-moment sketch — the mergeable F2/skew
    // estimator that answers "how heavy-tailed is this key?" in one
    // pass without materializing per-key counts. The textbook
    // median-of-means layout: 80 independent ±1 sign estimators in 5
    // groups of 16 — averaging 16 halves the relative error to
    // sqrt(2/16)≈35% per group, the median over 5 groups supplies the
    // δ guarantee. Signs come from the portable 60-bit hash's parity,
    // so every estimator sum is an exact BIGINT both engines compute
    // identically; the group value is the integer SUM of its 16
    // squares (the ÷16 mean is deferred to one final integer div, so
    // the median is an integer order statistic — no float anywhere).
    // True F2 rides along for calibration. Scale shape: the sketch is
    // a sum — map-side partial, mergeable across executors/days exactly
    // like kmv1; the ×80 replication happens on the GROUPED term
    // relation (|vocab| rows), never the raw token stream.
    "ams1_f2_sketch" -> { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val cnt = Tables.documentsParallel(spark, dir)
        .select(explode(TextAnalysis.words(col("text"))).as("term"))
        .where(col("term") =!= "")
        .groupBy("term").agg(count(lit(1)).as("c"))
        .localCheckpoint(eager = true) // feeds true F2 + the 80 estimators
      val trueF2 = cnt.agg(sum(col("c") * col("c")).as("f2_true"))
      val sign = lit(1L) - lit(2L) * (graft.operators.Dedup.portableHash60(
        concat_ws(":", lit("ams"), col("j"), col("term"))) % 2L)
      val groups = cnt
        .select(col("term"), col("c"),
          explode(sequence(lit(0), lit(79))).as("j"))
        .select(col("j"), (sign * col("c")).as("t"))
        .groupBy("j").agg(sum(col("t")).as("s"))
        .select(expr("j div 16").as("g"), (col("s") * col("s")).as("sq"))
        .groupBy("g").agg(sum(col("sq")).as("gsum"))
      val med = groups
        .withColumn("rk",
          row_number().over(Window.orderBy(col("gsum"), col("g"))))
        .where(col("rk") === 3) // 5-row relation: bounded
        .select(expr("gsum div 16").as("f2_est"))
      trueF2.crossJoin(broadcast(med))
        .select(col("f2_true"), col("f2_est"),
          (col("f2_est").cast(DoubleType) / col("f2_true").cast(DoubleType))
            .as("ratio"))
    },

    "x13_hll_sketch" -> { (spark, dir) =>
      val ev = Tables.events(spark, dir)
        .select(to_date(col("ts_sec")).as("day"), col("user_id"))
      val merged = ev
        .groupBy("day")
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      val exact = ev.agg(countDistinct(col("user_id")).as("exact"))
      merged.crossJoin(exact).select(
        col("exact"),
        (abs(col("est") - col("exact")).cast(DoubleType) / col("exact") <=
          lit(0.15)).as("merged_within_bound"))
    },

    // HLL++ estimates, gated on the rsd CONTRACT (default rsd=0.05; the
    // bound is 3σ) against exact distincts computed in the same pass.
    "x3_approx_distinct" -> { (spark, dir) =>
      Tables.events(spark, dir).agg(
        approx_count_distinct(col("user_id")).as("au"),
        approx_count_distinct(col("event_id")).as("ae"),
        countDistinct(col("user_id")).as("xu"),
        countDistinct(col("event_id")).as("xe"),
      ).select(
        col("xu"), col("xe"),
        (abs(col("au") - col("xu")).cast(DoubleType) / col("xu") <=
          lit(0.15)).as("users_within_bound"),
        (abs(col("ae") - col("xe")).cast(DoubleType) / col("xe") <=
          lit(0.15)).as("events_within_bound"),
      )
    },

    // Per-dimension variance census over the embedding corpus — the
    // feature diagnostic consulted before a Matryoshka truncation (e7)
    // or PQ codebook split (x20): which dimensions carry signal.
    // Components quantize to 2^20 BIGINTs (the established embedding
    // discipline), the three moments are exact integer sums per
    // dimension (one map-side aggregate, |dims| output rows), and the
    // variance is ONE trailing double formula de-scaled by 2^40.
    "dimv1_dimension_variance" -> { (spark, dir) =>
      val q = Tables.embeddings(spark, dir)
        .select(posexplode(col("embedding")).as(Seq("dim", "v")))
        .select(col("dim"),
          floor(col("v").cast(DoubleType) * lit(1048576.0))
            .cast(LongType).as("q"))
      q.groupBy("dim")
        .agg(count(lit(1)).as("n"), sum(col("q")).as("s"),
          sum(col("q") * col("q")).as("sq"))
        .select(col("dim"), col("n"), col("s"), col("sq"),
          ((col("sq").cast(DoubleType) -
            col("s").cast(DoubleType) * col("s").cast(DoubleType) /
              col("n").cast(DoubleType)) /
            (col("n").cast(DoubleType) * lit(1099511627776.0)))
            .as("variance"))
        .orderBy("dim")
    },

    // Matryoshka truncation audit — how much retrieval survives keeping
    // only the first 16 of 64 dims (the MRL memory/latency dial:
    // truncated vectors are 4× cheaper to store AND score). Per query:
    // top-5 by full-dim exact cosine vs top-5 by truncated-dim cosine,
    // reported as the overlap count. Same broadcast-anchor posture as
    // x1 — one corpus pass computes BOTH scores (slice is free in the
    // same projection), the corpus never shuffles.
    "e7_matryoshka_overlap" -> { (spark, dir) =>
      val emb = Tables.embeddings(spark, dir)
      val q = broadcast(emb.where(col("vec_id") < 4)
        .select(col("vec_id").as("q_vec"), col("embedding").as("qe")))
      val scored = emb.crossJoin(q)
        .where(col("vec_id") =!= col("q_vec"))
        .select(col("q_vec"), col("vec_id").as("cv"),
          VectorMath.cosineExact(col("qe"), col("embedding")).as("cf"),
          VectorMath.cosineExact(slice(col("qe"), 1, 16),
            slice(col("embedding"), 1, 16)).as("ct"))
        .localCheckpoint(eager = true) // feeds both rankings
      def top5(score: String) = {
        val w = Window.partitionBy("q_vec")
          .orderBy(col(score).desc, col("cv"))
        scored.withColumn("rn", row_number().over(w))
          .where(col("rn") <= 5).select(col("q_vec"), col("cv"))
      }
      val counts = top5("cf").intersect(top5("ct"))
        .groupBy("q_vec")
        .agg(count(lit(1)).as("n"))
      q.select(col("q_vec")).join(counts, Seq("q_vec"), "left")
        .select(col("q_vec"), coalesce(col("n"), lit(0L)).as("overlap_at_5"))
        .orderBy("q_vec")
    },

    // Int8-quantization recall audit — the scalar-quantization column
    // of the compression→retrieval matrix (truncation = e7, PQ = x20r,
    // LSH = x2r): per anchor, top-5 by full-precision exact cosine vs
    // top-5 by cosine over e3's int8 mapping (clamp(floor(v·127))) —
    // the overlap says what the 4× memory saving costs retrieval.
    // Int8 dots are exact BIGINTs; same broadcast-anchor posture as
    // e7, the corpus never shuffles.
    "e8_int8_recall" -> { (spark, dir) =>
      val emb = Tables.embeddings(spark, dir)
      val q = broadcast(emb.where(col("vec_id") < 4)
        .select(col("vec_id").as("q_vec"), col("embedding").as("qe")))
      def q8(c: Column) = transform(c, v =>
        greatest(lit(-127L),
          least(lit(127L), floor(v.cast(DoubleType) * 127.0).cast(LongType))))
      def dotL(a: Column, b: Column) =
        aggregate(zip_with(a, b, (x, y) => x * y), lit(0L),
          (acc, v) => acc + v)
      val scored = emb.crossJoin(q)
        .where(col("vec_id") =!= col("q_vec"))
        .withColumn("qa", q8(col("qe")))
        .withColumn("qb", q8(col("embedding")))
        .select(col("q_vec"), col("vec_id").as("cv"),
          VectorMath.cosineExact(col("qe"), col("embedding")).as("cf"),
          (dotL(col("qa"), col("qb")).cast(DoubleType) /
            (sqrt(dotL(col("qa"), col("qa")).cast(DoubleType)) *
              sqrt(dotL(col("qb"), col("qb")).cast(DoubleType)))).as("c8"))
        .localCheckpoint(eager = true) // feeds both rankings
      def top5(score: String) = {
        val w = Window.partitionBy("q_vec")
          .orderBy(col(score).desc, col("cv"))
        scored.withColumn("rn", row_number().over(w))
          .where(col("rn") <= 5).select(col("q_vec"), col("cv"))
      }
      val counts = top5("cf").intersect(top5("c8"))
        .groupBy("q_vec")
        .agg(count(lit(1)).as("n"))
      q.select(col("q_vec")).join(counts, Seq("q_vec"), "left")
        .select(col("q_vec"), coalesce(col("n"), lit(0L)).as("overlap_at_5"))
        .orderBy("q_vec")
    },

    // Hard-negative mining for contrastive training — per anchor, the
    // most-similar corpus vectors BELOW the positive band ([0, 0.3)
    // quantized cosine): similar enough to be informative, dissimilar
    // enough to be true negatives. Anchors broadcast (the corpus never
    // shuffles for scoring — x1's posture), the per-anchor top-4 rides
    // the row_number()<=k rank-rewrite path. Every score is the
    // exact-integer quantized cosine, so the selection is bit-portable.
    "ns1_hard_negatives" -> { (spark, dir) =>
      val emb = Tables.embeddings(spark, dir)
      val q = broadcast(emb.where(col("vec_id") < 3)
        .select(col("vec_id").as("q_vec"), col("embedding").as("qe")))
      val scored = emb.crossJoin(q)
        .where(col("vec_id") =!= col("q_vec"))
        .select(col("q_vec"), col("vec_id").as("neg_vec"),
          VectorMath.cosineExact(col("qe"), col("embedding")).as("qcos"))
        .where(col("qcos") >= 0.0 && col("qcos") < 0.3)
      val w = Window.partitionBy("q_vec")
        .orderBy(col("qcos").desc, col("neg_vec"))
      scored.withColumn("rank", row_number().over(w))
        .where(col("rank") <= 4)
        .orderBy("q_vec", "rank")
    },

    // Sketch SET ALGEBRA — the audience-overlap question ("how many
    // users do slices A and B share?") answered without ever holding
    // either id set: per-slice Datasketches HLLs, |A∩B| by inclusion-
    // exclusion over the merged sketch. At 100 TB the sketches are a
    // few KB per slice and merge associatively across partitions /
    // days / replicas — the exact intersection (computed here only to
    // GATE the estimate) would be a full shuffle of both slices.
    // Intersection error is gated against |A∪B| (the standard bound:
    // inclusion-exclusion inherits the union's absolute error), the
    // per-slice and union estimates against their own exact counts.
    "x24_sketch_setops" -> { (spark, dir) =>
      val ev = Tables.events(spark, dir)
        .select(col("user_id"), col("event_type"))
      val a = ev.where(col("event_type") === "click")
      val b = ev.where(col("event_type") === "purchase")
      val sk = a.agg(hll_sketch_agg(col("user_id")).as("ska"))
        .crossJoin(b.agg(hll_sketch_agg(col("user_id")).as("skb")))
        .select(
          hll_sketch_estimate(col("ska")).as("est_a"),
          hll_sketch_estimate(col("skb")).as("est_b"),
          hll_sketch_estimate(hll_union(col("ska"), col("skb")))
            .as("est_u"))
        .select(col("est_a"), col("est_b"), col("est_u"),
          (col("est_a") + col("est_b") - col("est_u")).as("est_i"))
      val exact = ev
        .where(col("event_type").isin("click", "purchase"))
        .groupBy("user_id")
        .agg(
          max(when(col("event_type") === "click", 1L).otherwise(0L)).as("ina"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("inb"))
        .agg(
          sum(col("ina")).as("xa"),
          sum(col("inb")).as("xb"),
          count(lit(1)).as("xu"),
          sum(col("ina") * col("inb")).as("xi"))
      // exact counts emit ALONGSIDE the gates: the oracle recomputes
      // them relationally (only the sketch estimates are engine-
      // internal), so the query is x10-class — mostly hash-checked,
      // TRUE-gated only where DuckDB has no Datasketches twin
      sk.crossJoin(exact).select(
        col("xa"), col("xb"), col("xu"), col("xi"),
        (abs(col("est_a") - col("xa")).cast(DoubleType) / col("xa") <=
          lit(0.1)).as("a_within_bound"),
        (abs(col("est_b") - col("xb")).cast(DoubleType) / col("xb") <=
          lit(0.1)).as("b_within_bound"),
        (abs(col("est_u") - col("xu")).cast(DoubleType) / col("xu") <=
          lit(0.1)).as("union_within_bound"),
        (abs(col("est_i") - col("xi")).cast(DoubleType) / col("xu") <=
          lit(0.15)).as("inter_within_bound"))
    },

    // --- Repetition detection (Gopher-style boilerplate/spam signal) ---
    "t6_repetition" -> { (spark, dir) =>
      TextAnalysis.repetition(Tables.documents(spark, dir)).orderBy("doc_id")
    },

    // --- PII scrubbing: occurrence counts + scrubbed-text digest ---
    "t7_pii_scrub" -> { (spark, dir) =>
      TextAnalysis.piiScrub(Tables.documents(spark, dir)).orderBy("doc_id")
    },

    // PII detect+redact on SYNTHESIZED PII-shaped text (the fixture's
    // documents contain no '@' or digits, so this is the m6 treatment:
    // a deterministic doc_id formula builds emails/IPv4s/phones plus
    // non-PII digit bait, Spark runs the REAL regex pipeline, and the
    // oracle replays counts AND the redacted string arithmetically —
    // it never runs a regex, so any pattern, ordering, or placeholder
    // bug hash-fails). Scale shape: pure per-row narrow expressions in
    // the scan stage — no shuffle, no UDF.
    "pii1_redact" -> { (spark, dir) =>
      graft.operators.Pii
        .redactPii(graft.operators.Pii.synthesizePiiText(
          Tables.documents(spark, dir).select("doc_id")))
        .select("doc_id", "n_emails", "n_ips", "n_phones", "has_pii", "redacted")
        .orderBy("doc_id")
    },

    // Contiguous id assignment: ROW_NUMBER semantics without the
    // single-partition global sort (range partition + local positions +
    // broadcast offsets) — how 100 TB of documents get dense ids.
    "s5_contiguous_ids" -> { (spark, dir) =>
      graft.operators.Ids
        .contiguousIds(
          Tables.documents(spark, dir).select("doc_id", "lang"),
          Seq(col("doc_id")), idCol = "row_id")
        .select("doc_id", "lang", "row_id")
        .orderBy("doc_id")
    },

    // --- Deterministic sampling: reproducible 4/16 hash-gated sample ---
    "smp1_sample_det" -> { (spark, dir) =>
      graft.operators.Sampling
        .deterministicSample(
          Tables.documents(spark, dir), col("doc_id"), "seed42", sixteenths = 4)
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    },

    // --- Stratified sampling: per-language rates (data mixing) ---
    "smp2_stratified" -> { (spark, dir) =>
      graft.operators.Sampling
        .stratifiedSample(
          Tables.documents(spark, dir), col("doc_id"), col("lang"),
          "mix1", Map("en" -> 2, "zh" -> 4), defaultSixteenths = 8)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },

    // --- Embedding ops: exact-integer norms / centroids / int8 stats ---
    "e1_embed_norm" -> { (spark, dir) =>
      graft.operators.EmbeddingOps.norms(Tables.embeddings(spark, dir))
        .orderBy("vec_id")
    },
    "e2_centroid_pool" -> { (spark, dir) =>
      graft.operators.EmbeddingOps.centroids(Tables.embeddings(spark, dir))
        .orderBy("label", "dim")
    },
    "e3_int8_quant" -> { (spark, dir) =>
      graft.operators.EmbeddingOps.int8QuantStats(Tables.embeddings(spark, dir))
        .orderBy("vec_id")
    },
    // K-means assignment: broadcast the label-centroids, exact-integer
    // distances, deterministic argmin (struct min breaks ties on label).
    "e4_kmeans_assign" -> { (spark, dir) =>
      val emb = Tables.embeddings(spark, dir)
      graft.operators.EmbeddingOps
        .assignToCentroids(emb, graft.operators.EmbeddingOps.centroids(emb))
        .orderBy("vec_id")
    },
    // Lloyd's algorithm, 2 full assign→update rounds (the TRAINING loop
    // behind e4's single assignment step): seed centroids from the label
    // column, assign, recompute centroids from that assignment, assign
    // again. Per round: a map-only broadcast-fold assignment (carrying
    // the embedding to its checkpoint) + the tiny (label, dim) centroid
    // aggregation — the corpus never shuffles, centroids stay k×dims
    // longs. Exact integer distances throughout; the oracle unrolls both
    // rounds.
    "km2_lloyd_fit" -> { (spark, dir) =>
      graft.operators.EmbeddingOps
        .kmeansFit(Tables.embeddings(spark, dir), iterations = 2)
        .orderBy("vec_id")
    },
    // Approx quantiles (Greenwald-Khanna sketch) — the 100 TB stand-in
    // for a8's exact sort-based percentiles. The sketch VALUE is
    // engine-specific, so the gate is the GK CONTRACT instead: for each
    // (flag, q) the returned element's exact rank interval must overlap
    // [⌈q·n⌉ − εn, ⌈q·n⌉ + εn] (ε = 1/accuracy). The query emits that
    // bound check — a deterministic relation both engines agree on — so
    // the sketch is hash-gated without hashing sketch internals. Rank
    // verification is one broadcast of the 9 (flag, q, v) rows against a
    // single lineitem pass: scale-safe at any corpus size.
    // Bottom-k hash-sample quantile sketch — the quantile tier whose
    // VALUE is engine-exact, next to x10's GK (whose sketch is
    // implementation-specific and bound-gated): the k=256 smallest
    // portable hashes of the order key select a uniform sample any
    // engine reproduces bit for bit; estimates are exact order
    // statistics of the sampled cents. Bottom-k sets obey the kmv1
    // merge law — bottom-k(∪ shards) = bottom-k(∪ per-shard bottom-k)
    // — proven IN the relation: the 'merged' row re-sketches from the
    // per-priority bottom-k's union (what a 1000-executor combine
    // does) and must equal the 'direct' row exactly. Scale shape:
    // bottom-k is TakeOrdered (per-partition heaps), never a sort.
    "qsk1_sample_quantiles" -> { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val k = 256
      val o = Tables.orders(spark, dir).select(
          col("o_orderpriority").as("prio"),
          round(col("o_totalprice") * 100).cast(LongType).as("cents"),
          Dedup.portableHash60(concat(lit("qsk:"), col("o_orderkey"))).as("h"))
        .localCheckpoint(eager = true) // feeds the direct + merged paths
      val perPrio = o.withColumn("rn",
          row_number().over(Window.partitionBy("prio")
            .orderBy(col("h"), col("cents"))))
        .where(col("rn") <= k).drop("rn", "prio")
      // order statistics via the shared tail (Sampling.bottomKQuantiles
      // — the same definition st28's streamed state reads through)
      def sketch(src: DataFrame, path: String): DataFrame =
        graft.operators.Sampling
          .bottomKQuantiles(src.orderBy(col("h"), col("cents")).limit(k))
          .select(lit(path).as("path"), col("k_sample"), col("p25_est"),
            col("p50_est"), col("p75_est"), col("p90_est"))
      sketch(o.drop("prio"), "direct")
        .unionByName(sketch(perPrio, "merged"))
        .orderBy("path")
    },

    "x10_approx_quantile" -> { (spark, dir) =>
      val acc = 10000
      val li = Tables.lineitem(spark, dir)
        .select(col("l_returnflag"), col("l_extendedprice"))
      val qs = Seq(0.25, 0.5, 0.95)
      val approx = li
        .groupBy("l_returnflag")
        .agg(expr(s"approx_percentile(l_extendedprice, array(${qs.mkString(", ")}), $acc)")
          .as("pcts"))
        .select(col("l_returnflag"),
          posexplode(col("pcts")).as(Seq("qi", "v")))
      // exact rank interval of v inside its group, one distributed pass
      val ranks = li.join(broadcast(approx), Seq("l_returnflag"))
        .groupBy("l_returnflag", "qi", "v")
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("l_extendedprice") < col("v"), 1L).otherwise(0L)).as("n_lt"),
          sum(when(col("l_extendedprice") <= col("v"), 1L).otherwise(0L)).as("n_le"),
        )
      ranks
        .select(
          col("l_returnflag"),
          element_at(lit(qs.toArray), col("qi") + 1).as("q"),
          (ceil(element_at(lit(qs.toArray), col("qi") + 1) * col("n")).as("target")),
          col("n_lt"), col("n_le"), col("n"))
        .select(
          col("l_returnflag"), col("q"),
          // ε-bound = ⌈n/accuracy⌉ plus one rank of slack for the
          // floor/ceil target convention (measured misses at the ε edge
          // are exactly ⌈εn⌉; a real contract violation lands far out)
          ((col("n_lt") + 1 <= col("target") + expr(s"((n + $acc - 1) div $acc) + 1L")) &&
            (col("n_le") >= col("target") - expr(s"((n + $acc - 1) div $acc) + 1L")))
            .as("within_bound"))
        .orderBy("l_returnflag", "q")
    },

    // --- Salted skewed join (result == plain join; salt spreads hot keys) ---
    "x9_salted_join" -> { (spark, dir) =>
      val dim = spark.range(100).select(
        col("id").as("user_id"), (col("id") % 5).as("cohort"))
      graft.operators.Skew
        .saltedJoin(Tables.events(spark, dir), dim, Seq("user_id"), col("event_id"))
        .groupBy("cohort")
        .agg(
          count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(20, 4))).cast(DoubleType).as("sum_value"),
        )
        .orderBy("cohort")
    },

    // --- Stream-stream join (watermark-bounded state; oracle = batch join) ---
    "st5_stream_stream_join" -> { (spark, dir) =>
      EventsStream.streamStreamJoin(spark, dir)
    },

    // Stream-stream LEFT OUTER join: unmatched clicks emit null-extended
    // only when the watermark seals their fate — eviction IS emission.
    "st15_stream_stream_left" -> { (spark, dir) =>
      EventsStream.streamStreamLeftJoin(spark, dir)
    },
    // Streaming OHLC/VWAP bars — ts11 computed incrementally; min_by/
    // max_by merge associatively across micro-batches, so the oracle is
    // the SAME SQL as the batch ts11 (identical output contract).
    "st23_stream_ohlc" -> { (spark, dir) =>
      EventsStream.streamOhlcBars(spark, dir)
    },
    // FULL OUTER stream-stream join — completes the join-mode family
    // (st5 inner, st15 left): both unmatched sides emit null-extended
    // exactly when the watermark seals their fate; the oracle encodes
    // both emission rules against the MIN-of-watermarks global
    // watermark.
    "st22_stream_stream_full" -> { (spark, dir) =>
      EventsStream.streamStreamFullJoin(spark, dir)
    },
  )

  /** d3's oracle recomputes the portable SimHash end to end; the 32
    * per-bit accumulators and the sign-assembly are generated here
    * rather than hand-written (same SQL either way, no transcription
    * slips).
    */
  /** The x22r inline-IVFADC recall replay's CTE chain, parameterized
    * by probe depth — ONE copy of the pipeline SQL shared by the x22r
    * single-point oracle and the x31 nProbe sweep (they can never
    * drift on quantization, assignment, ADC, or refine semantics).
    * Yields `ref3` (the IVFADC top-3) and `ex3` (the exact top-3).
    */
  private def ivfPqRecallCtes(nProbe: Int): String =
    s"""WITH qe AS (
        |  SELECT vec_id,
        |    list_transform(embedding, v -> floor(CAST(v AS DOUBLE) * 1048576.0)) AS q
        |  FROM embeddings
        |), cent AS (
        |  SELECT vec_id AS centroid_id, q AS cq FROM qe ORDER BY vec_id LIMIT 16
        |), corpus_assign AS (
        |  SELECT c_vec, centroid_id AS list_id FROM (
        |    SELECT e.vec_id AS c_vec, c.centroid_id,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_dot_product(e.q, c.cq) /
        |          nullif(sqrt(list_dot_product(e.q, e.q)) * sqrt(list_dot_product(c.cq, c.cq)), 0)
        |          DESC, c.centroid_id) AS rk
        |    FROM qe e, cent c) t WHERE rk = 1
        |), query_assign AS (
        |  SELECT q_vec, centroid_id AS list_id FROM (
        |    SELECT e.vec_id AS q_vec, c.centroid_id,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_dot_product(e.q, c.cq) /
        |          nullif(sqrt(list_dot_product(e.q, e.q)) * sqrt(list_dot_product(c.cq, c.cq)), 0)
        |          DESC, c.centroid_id) AS rk
        |    FROM qe e, cent c WHERE e.vec_id < 8) t WHERE rk <= $nProbe
        |), sample AS (
        |  SELECT vec_id AS cw_id, embedding AS cw_emb FROM embeddings
        |  WHERE len(embedding) > 0 AND len(embedding) % 8 = 0
        |  ORDER BY vec_id LIMIT 32
        |), cwq AS (
        |  SELECT cw_id, g.i - 1 AS dim,
        |    CAST(floor(CAST(cw_emb[g.i] AS DOUBLE) * 1048576.0) AS BIGINT) AS qc
        |  FROM sample, UNNEST(generate_series(1, len(cw_emb))) AS g(i)
        |), vq AS (
        |  SELECT vec_id, len(embedding) // 8 AS sd, g.i - 1 AS dim,
        |    CAST(floor(CAST(embedding[g.i] AS DOUBLE) * 1048576.0) AS BIGINT) AS qv
        |  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS g(i)
        |  WHERE len(embedding) > 0 AND len(embedding) % 8 = 0
        |), subdist AS (
        |  SELECT v.vec_id, c.cw_id, v.dim // v.sd AS s,
        |    CAST(SUM((qv - qc) * (qv - qc)) AS BIGINT) AS d
        |  FROM vq v JOIN cwq c ON c.dim = v.dim GROUP BY 1, 2, 3
        |), codes AS (
        |  SELECT vec_id, s, cw_id AS code FROM (
        |    SELECT vec_id, s, cw_id, d,
        |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d, cw_id) AS rn
        |    FROM subdist) t WHERE rn = 1
        |), approx AS (
        |  SELECT qa.q_vec, c.vec_id AS c_vec,
        |    CAST(SUM(l.d) AS BIGINT) AS qdist_approx
        |  FROM codes c
        |  JOIN corpus_assign ca ON ca.c_vec = c.vec_id
        |  JOIN query_assign qa ON qa.list_id = ca.list_id
        |  JOIN subdist l ON l.s = c.s AND l.cw_id = c.code AND l.vec_id = qa.q_vec
        |  WHERE c.vec_id <> qa.q_vec
        |  GROUP BY 1, 2
        |), short AS (
        |  SELECT q_vec, c_vec FROM (
        |    SELECT q_vec, c_vec,
        |      row_number() OVER (PARTITION BY q_vec
        |        ORDER BY qdist_approx, c_vec) AS rank
        |    FROM approx) t WHERE rank <= 32
        |), rex AS (
        |  SELECT sh.q_vec, sh.c_vec,
        |    CAST(SUM((a.qv - b.qv) * (a.qv - b.qv)) AS BIGINT) AS qdist_exact
        |  FROM short sh
        |  JOIN vq a ON a.vec_id = sh.q_vec
        |  JOIN vq b ON b.vec_id = sh.c_vec AND b.dim = a.dim
        |  GROUP BY 1, 2
        |), ref3 AS (
        |  SELECT q_vec, c_vec FROM (
        |    SELECT q_vec, c_vec,
        |      row_number() OVER (PARTITION BY q_vec
        |        ORDER BY qdist_exact, c_vec) AS rank
        |    FROM rex) t WHERE rank <= 3
        |), vqall AS (
        |  SELECT vec_id, g.i - 1 AS dim,
        |    CAST(floor(CAST(embedding[g.i] AS DOUBLE) * 1048576.0) AS BIGINT) AS qv
        |  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS g(i)
        |), l2 AS (
        |  SELECT a.vec_id AS q_vec, b.vec_id AS c_vec,
        |    CAST(SUM((a.qv - b.qv) * (a.qv - b.qv)) AS BIGINT) AS d
        |  FROM vqall a JOIN vqall b ON a.dim = b.dim
        |  WHERE a.vec_id < 8 AND b.vec_id <> a.vec_id
        |  GROUP BY 1, 2
        |), ex3 AS (
        |  SELECT q_vec, c_vec FROM (
        |    SELECT q_vec, c_vec,
        |      row_number() OVER (PARTITION BY q_vec ORDER BY d, c_vec) AS rank
        |    FROM l2) t WHERE rank <= 3
        |)""".stripMargin

  private val d3OracleSql: String = {
    val bitSums = (0 until 32)
      .map(b => s"SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s$b")
      .mkString(",\n    ")
    val sigExpr = (0 until 32)
      .map(b => s"CASE WHEN s$b > 0 THEN (CAST(1 AS BIGINT) << $b) ELSE 0 END")
      .mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
       |  FROM documents
       |), hashed AS (
       |  SELECT doc_id, ('0x' || substr(md5(word), 1, 15))::BIGINT AS h
       |  FROM toks
       |), bitsums AS (
       |  SELECT doc_id,
       |    $bitSums
       |  FROM hashed GROUP BY doc_id
       |), sigs AS (
       |  SELECT doc_id, $sigExpr AS simhash
       |  FROM bitsums
       |), banded AS (
       |  SELECT doc_id, simhash, CAST(g.b AS INTEGER) AS band_idx,
       |    (simhash >> (g.b * 8)) & 255 AS band_key
       |  FROM sigs, UNNEST(generate_series(0, 3)) AS g(b)
       |), sized AS (
       |  SELECT band_idx, band_key FROM banded GROUP BY 1, 2
       |  HAVING count(*) BETWEEN 2 AND 64
       |), pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    a.simhash AS sa, b.simhash AS sb
       |  FROM banded a
       |  JOIN sized s ON s.band_idx = a.band_idx AND s.band_key = a.band_key
       |  JOIN banded b ON b.band_idx = a.band_idx AND b.band_key = a.band_key
       |  WHERE a.doc_id < b.doc_id
       |), near AS (
       |  SELECT doc_a, doc_b FROM pairs WHERE bit_count(xor(sa, sb)) <= 10
       |), perdoc AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_near FROM (
       |    SELECT doc_a AS doc_id FROM near
       |    UNION ALL SELECT doc_b AS doc_id FROM near)
       |  GROUP BY doc_id
       |)
       |SELECT s.doc_id, s.simhash, CAST(coalesce(p.n_near, 0) AS BIGINT) AS n_near
       |FROM sigs s LEFT JOIN perdoc p USING (doc_id)
       |ORDER BY s.doc_id""".stripMargin
  }

  /** Shared CTE chain for the x2/x2r oracles: quantized embeddings,
    * integer hyperplane weights (the planeWeightInt LCG in SQL), per-
    * plane integer dots, per-table buckets, bucket-joined candidate
    * pairs, quantized-cosine ranking. Everything is exact-integer (or a
    * division of exact integers), so DuckDB reproduces the Spark
    * pipeline bit for bit.
    */
  /** aHash replay shared by m8/mdd1: the perceptual fingerprint
    * recomputed arithmetically from the pixel formula (never parsing a
    * PNG), ending in `ah` = (doc_id, width, height, ahash).
    */
  private val ahashOracleCtes: String =
    """ids AS (
      |  SELECT doc_id FROM documents WHERE doc_id % 10 = 0
      |), px AS (
      |  SELECT i.doc_id,
      |    CAST(8 + (i.doc_id % 5) * 4 AS BIGINT) AS w,
      |    CAST(6 + (i.doc_id % 3) * 4 AS BIGINT) AS h,
      |    gx.x, gy.y,
      |    ((i.doc_id * 31 + gx.x * 7 + gy.y * 13) % 256
      |     + (i.doc_id * 17 + gx.x * 11 + gy.y * 3) % 256
      |     + (i.doc_id * 29 + gx.x * 5 + gy.y * 19) % 256) AS gray
      |  FROM ids i, UNNEST(generate_series(0, 27)) AS gx(x),
      |    UNNEST(generate_series(0, 13)) AS gy(y)
      |  WHERE gx.x < 8 + (i.doc_id % 5) * 4
      |    AND gy.y < 6 + (i.doc_id % 3) * 4
      |), cells AS (
      |  SELECT doc_id, w, h, (y * 4) // h * 4 + (x * 4) // w AS k,
      |    CAST(SUM(gray) AS BIGINT) AS csum, COUNT(*) AS ccnt
      |  FROM px GROUP BY 1, 2, 3, 4
      |), tot AS (
      |  SELECT doc_id, CAST(SUM(csum) AS BIGINT) AS tsum,
      |    CAST(SUM(ccnt) AS BIGINT) AS n
      |  FROM cells GROUP BY 1
      |), ah AS (
      |  SELECT c.doc_id, CAST(c.w AS INT) AS width, CAST(c.h AS INT) AS height,
      |    CAST(SUM(CASE WHEN c.csum * t.n > t.tsum * c.ccnt
      |      THEN CAST(1 AS BIGINT) << CAST(c.k AS INT) ELSE 0 END)
      |      AS BIGINT) AS ahash
      |  FROM cells c JOIN tot t USING (doc_id)
      |  GROUP BY 1, 2, 3
      |)""".stripMargin

  /** Audio-fingerprint CTEs shared by the m12/mdd2 oracles: replay the
    * PCM formula (never parse a WAV), reduce frames to magnitudes,
    * window 16-ways by integer division, set the cross-multiplied
    * louder-than-average bit per window — all exact integers.
    */
  private val wavFpOracleCtes: String =
    """ids AS (
      |  SELECT doc_id FROM documents WHERE doc_id % 10 = 5
      |), fr AS (
      |  SELECT i.doc_id,
      |    CAST(64 + (i.doc_id % 7) * 16 AS BIGINT) AS n,
      |    gi.i AS fi,
      |    SUM(abs((i.doc_id * 37 + gc.c * 101 + gi.i * 17) % 4096 - 2048))
      |      AS m
      |  FROM ids i, UNNEST(generate_series(0, 1)) AS gc(c),
      |    UNNEST(generate_series(0, 159)) AS gi(i)
      |  WHERE gc.c < 1 + i.doc_id % 2
      |    AND gi.i < 64 + (i.doc_id % 7) * 16
      |  GROUP BY 1, 2, 3
      |), win AS (
      |  SELECT doc_id, n, (fi * 16) // n AS w,
      |    CAST(SUM(m) AS BIGINT) AS ws, COUNT(*) AS wc
      |  FROM fr GROUP BY 1, 2, 3
      |), tot AS (
      |  SELECT doc_id, CAST(SUM(ws) AS BIGINT) AS total FROM win GROUP BY 1
      |), fp AS (
      |  SELECT w1.doc_id,
      |    CAST(1 + w1.doc_id % 2 AS INT) AS channels,
      |    CAST(MAX(w1.n) AS BIGINT) AS n_frames,
      |    CAST(SUM(CASE WHEN w1.ws * w1.n > t.total * w1.wc
      |      THEN CAST(1 AS BIGINT) << CAST(w1.w AS INT) ELSE 0 END)
      |      AS BIGINT) AS afp
      |  FROM win w1 JOIN tot t USING (doc_id)
      |  GROUP BY 1, 2
      |)""".stripMargin

  /** Quantized-cosine SQL fragment shared by the graph-tier oracles. */
  private def qcosSql(a: String, b: String): String =
    s"list_dot_product($a.q, $b.q) / nullif(sqrt(list_dot_product($a.q, $a.q)) * sqrt(list_dot_product($b.q, $b.q)), 0)"

  /** NN-descent replay shared by x34/x35: CTE chain from the quantized
    * slice (`qe`, vec_id < 500) through `nnd` — the built graph's top-5
    * edges per node. md5 hash-bucket seeding (2 families, expected-32
    * buckets, [2,64] size gate), build-K=15 prune, 3 rounds of
    * undirected neighbor-of-neighbor expansion / NOT-EXISTS dedup /
    * rescore / re-prune.
    */
  private def nndOracleCtes(bound: Int = 500): String = {
    val rounds = (1 to 3).map { r =>
      val prev = s"g${r - 1}"
      s"""und$r AS (SELECT v, u FROM $prev UNION SELECT u AS v, v AS u FROM $prev),
         |c$r AS (
         |  SELECT DISTINCT a.v, b.u FROM und$r a JOIN und$r b ON a.u = b.v
         |  WHERE a.v <> b.u AND NOT EXISTS (
         |    SELECT 1 FROM $prev g WHERE g.v = a.v AND g.u = b.u)
         |), s$r AS (
         |  SELECT c.v, c.u, ${qcosSql("a", "b")} AS cosine
         |  FROM c$r c JOIN qe a ON a.vec_id = c.v JOIN qe b ON b.vec_id = c.u
         |), g$r AS MATERIALIZED (
         |  SELECT v, u, cosine FROM (
         |    SELECT v, u, cosine, row_number() OVER (PARTITION BY v
         |      ORDER BY cosine DESC, u) AS rn
         |    FROM (SELECT * FROM $prev UNION ALL SELECT * FROM s$r) t0) t
         |  WHERE rn <= 15
         |)""".stripMargin
    }.mkString(", ")
    s"""qe AS MATERIALIZED (
       |  SELECT vec_id,
       |    list_transform(embedding, v -> floor(CAST(v AS DOUBLE) * 1048576.0)) AS q
       |  FROM embeddings WHERE vec_id < $bound
       |), nbk AS (SELECT GREATEST(1, COUNT(*) // 32) AS nb FROM qe),
       |bkt AS MATERIALIZED (
       |  SELECT vec_id, fam.f AS fam,
       |    ('0x' || substr(md5('nnd' || CAST(fam.f AS VARCHAR) || ':' ||
       |      CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT % nbk.nb AS b
       |  FROM qe, nbk, (SELECT UNNEST(generate_series(0, 1)) AS f) AS fam
       |), sized AS (
       |  SELECT fam, b FROM bkt GROUP BY 1, 2 HAVING COUNT(*) BETWEEN 2 AND 64
       |), seedp AS (
       |  SELECT DISTINCT l.vec_id AS v, r.vec_id AS u
       |  FROM bkt l
       |  JOIN sized s ON s.fam = l.fam AND s.b = l.b
       |  JOIN bkt r ON r.fam = l.fam AND r.b = l.b
       |  WHERE l.vec_id <> r.vec_id
       |), sc0 AS (
       |  SELECT p.v, p.u, ${qcosSql("a", "b")} AS cosine
       |  FROM seedp p JOIN qe a ON a.vec_id = p.v JOIN qe b ON b.vec_id = p.u
       |), g0 AS MATERIALIZED (
       |  SELECT v, u, cosine FROM (
       |    SELECT v, u, cosine, row_number() OVER (PARTITION BY v
       |      ORDER BY cosine DESC, u) AS rn FROM sc0) t
       |  WHERE rn <= 15
       |), $rounds, nnd AS MATERIALIZED (
       |  SELECT v, u FROM (
       |    SELECT v, u, row_number() OVER (PARTITION BY v
       |      ORDER BY cosine DESC, u) AS rn FROM g3) t
       |  WHERE rn <= 5
       |)""".stripMargin
  }

  /** Round-by-round beam replay shared by the graph-serve oracles
    * (x35/x36/x37/x38): expects CTEs `edges` (v, nbr), `sc`
    * (q_vec, v, cosine — every query×vertex score), and `e0` (the entry
    * vertex) already in scope; yields `bv3` = every visited
    * (q_vec, v, cosine) after 3 expand / NOT-EXISTS-dedup / score /
    * top-8-beam rounds — ONE definition so the four replays can never
    * drift on traversal semantics.
    */
  private val beamReplayCtes: String =
    """v0 AS MATERIALIZED (
      |  SELECT s.q_vec, s.v, s.cosine FROM sc s, e0 WHERE s.v = e0.e0
      |), bc1 AS MATERIALIZED (
      |  SELECT DISTINCT b.q_vec, e.nbr AS v
      |  FROM v0 b JOIN edges e ON e.v = b.v
      |  WHERE NOT EXISTS (
      |    SELECT 1 FROM v0 x WHERE x.q_vec = b.q_vec AND x.v = e.nbr)
      |), bv1 AS MATERIALIZED (
      |  SELECT * FROM v0
      |  UNION ALL
      |  SELECT c.q_vec, c.v, s.cosine FROM bc1 c JOIN sc s USING (q_vec, v)
      |), bb1 AS MATERIALIZED (
      |  SELECT q_vec, v FROM (
      |    SELECT q_vec, v, row_number() OVER (PARTITION BY q_vec
      |      ORDER BY cosine DESC, v) AS rn FROM bv1) WHERE rn <= 8
      |), bc2 AS MATERIALIZED (
      |  SELECT DISTINCT b.q_vec, e.nbr AS v
      |  FROM bb1 b JOIN edges e ON e.v = b.v
      |  WHERE NOT EXISTS (
      |    SELECT 1 FROM bv1 x WHERE x.q_vec = b.q_vec AND x.v = e.nbr)
      |), bv2 AS MATERIALIZED (
      |  SELECT * FROM bv1
      |  UNION ALL
      |  SELECT c.q_vec, c.v, s.cosine FROM bc2 c JOIN sc s USING (q_vec, v)
      |), bb2 AS MATERIALIZED (
      |  SELECT q_vec, v FROM (
      |    SELECT q_vec, v, row_number() OVER (PARTITION BY q_vec
      |      ORDER BY cosine DESC, v) AS rn FROM bv2) WHERE rn <= 8
      |), bc3 AS MATERIALIZED (
      |  SELECT DISTINCT b.q_vec, e.nbr AS v
      |  FROM bb2 b JOIN edges e ON e.v = b.v
      |  WHERE NOT EXISTS (
      |    SELECT 1 FROM bv2 x WHERE x.q_vec = b.q_vec AND x.v = e.nbr)
      |), bv3 AS MATERIALIZED (
      |  SELECT * FROM bv2
      |  UNION ALL
      |  SELECT c.q_vec, c.v, s.cosine FROM bc3 c JOIN sc s USING (q_vec, v)
      |)""".stripMargin

  /** Final report shared by the beam-serve oracles: bv3's top-k visited
    * per query, the query vertex itself excluded.
    */
  private def beamReportSql(k: Int): String =
    s"""SELECT q_vec, CAST(rank AS INT) AS rank, v AS c_vec, cosine FROM (
       |  SELECT q_vec, v, cosine, row_number() OVER (PARTITION BY q_vec
       |    ORDER BY cosine DESC, v) AS rank FROM bv3 WHERE v <> q_vec)
       |WHERE rank <= $k
       |ORDER BY q_vec, rank""".stripMargin

  private val lshOracleCtes: String =
    """qe AS (
      |  SELECT vec_id,
      |    list_transform(embedding, v -> floor(CAST(v AS DOUBLE) * 1048576.0)) AS q
      |  FROM embeddings
      |), w AS (
      |  SELECT p.p, d.d,
      |    ((CAST(1103515245 AS BIGINT) * (p.p * 64 + d.d) + 12345) % 2001 + 2001) % 2001 - 1000 AS w
      |  FROM UNNEST(generate_series(0, 15)) AS p(p), UNNEST(generate_series(0, 63)) AS d(d)
      |), dots AS (
      |  SELECT e.vec_id, w.p, SUM(e.q[w.d + 1] * w.w) AS dot
      |  FROM qe e, w GROUP BY 1, 2
      |), buckets AS (
      |  SELECT vec_id, CAST(p // 4 AS INTEGER) AS t,
      |    CAST(SUM(CASE WHEN dot > 0 THEN (1 << (p % 4)) ELSE 0 END) AS BIGINT) AS b
      |  FROM dots GROUP BY 1, 2
      |), lsh_pairs AS (
      |  SELECT qb.vec_id AS q_vec, cb.vec_id AS c_vec, CAST(count(*) AS BIGINT) AS n_tables
      |  FROM buckets qb JOIN buckets cb ON cb.t = qb.t AND cb.b = qb.b
      |  WHERE qb.vec_id < 8 AND cb.vec_id <> qb.vec_id
      |  GROUP BY 1, 2
      |), lsh_scored AS (
      |  SELECT p.q_vec, p.c_vec, p.n_tables,
      |    list_dot_product(a.q, b.q) /
      |      nullif(sqrt(list_dot_product(a.q, a.q)) * sqrt(list_dot_product(b.q, b.q)), 0) AS cosine
      |  FROM lsh_pairs p
      |  JOIN qe a ON a.vec_id = p.q_vec
      |  JOIN qe b ON b.vec_id = p.c_vec
      |), lsh_ranked AS (
      |  SELECT q_vec, c_vec, cosine, n_tables,
      |    row_number() OVER (PARTITION BY q_vec ORDER BY cosine DESC, c_vec) AS rank
      |  FROM lsh_scored
      |)""".stripMargin

  val oracles: Map[String, String] = Map(
    // x10 gates the GK rank-error CONTRACT, not the sketch value: the
    // Spark side emits within_bound per (flag, q); the oracle states the
    // bound always holds. A sketch violating its ε guarantee fails here.
    "x10_approx_quantile" ->
      """SELECT f.l_returnflag, q.q, TRUE AS within_bound
        |FROM (SELECT DISTINCT l_returnflag FROM lineitem) f,
        |     (SELECT UNNEST([0.25::DOUBLE, 0.5::DOUBLE, 0.95::DOUBLE]) AS q) q
        |ORDER BY f.l_returnflag, q.q""".stripMargin,
    "x3_approx_distinct" ->
      """SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS xu,
        |  CAST(COUNT(DISTINCT event_id) AS BIGINT) AS xe,
        |  TRUE AS users_within_bound, TRUE AS events_within_bound
        |FROM events""".stripMargin,
    "mmr1_diversified_topk" ->
      """WITH q AS (SELECT embedding AS eq FROM embeddings WHERE vec_id = 0),
        |cand AS (
        |  SELECT c.vec_id AS c, c.embedding AS ec, q.eq
        |  FROM embeddings c, q WHERE c.vec_id <> 0),
        |relterms AS (
        |  SELECT c,
        |    CAST(floor(CAST(eq[g.i] AS DOUBLE) * 1048576.0) AS BIGINT) AS x,
        |    CAST(floor(CAST(ec[g.i] AS DOUBLE) * 1048576.0) AS BIGINT) AS y
        |  FROM cand, UNNEST(generate_series(1, len(eq))) AS g(i)),
        |rel AS (
        |  SELECT c, CAST(SUM(x * y) AS DOUBLE)
        |    / nullif(sqrt(CAST(SUM(x * x) AS DOUBLE))
        |      * sqrt(CAST(SUM(y * y) AS DOUBLE)), 0) AS rel
        |  FROM relterms GROUP BY 1),
        |short AS (SELECT c, rel FROM rel ORDER BY rel DESC, c LIMIT 20),
        |spairs AS (
        |  SELECT sa.c AS a, sb.c AS b, ea.embedding AS eea, eb.embedding AS eeb
        |  FROM short sa JOIN short sb ON sa.c <> sb.c
        |  JOIN embeddings ea ON ea.vec_id = sa.c
        |  JOIN embeddings eb ON eb.vec_id = sb.c),
        |simterms AS (
        |  SELECT a, b,
        |    CAST(floor(CAST(eea[g.i] AS DOUBLE) * 1048576.0) AS BIGINT) AS x,
        |    CAST(floor(CAST(eeb[g.i] AS DOUBLE) * 1048576.0) AS BIGINT) AS y
        |  FROM spairs, UNNEST(generate_series(1, len(eea))) AS g(i)),
        |sims AS (
        |  SELECT a, b, CAST(SUM(x * y) AS DOUBLE)
        |    / nullif(sqrt(CAST(SUM(x * x) AS DOUBLE))
        |      * sqrt(CAST(SUM(y * y) AS DOUBLE)), 0) AS sim
        |  FROM simterms GROUP BY 1, 2),
        |sel1 AS (
        |  SELECT c, rel, rel * 0.5 AS score FROM short
        |  ORDER BY score DESC, c LIMIT 1),
        |sel2 AS (
        |  SELECT s.c, s.rel, s.rel * 0.5 - MAX(m.sim) * 0.5 AS score
        |  FROM short s JOIN sims m ON m.a = s.c AND m.b IN (SELECT c FROM sel1)
        |  WHERE s.c NOT IN (SELECT c FROM sel1)
        |  GROUP BY s.c, s.rel ORDER BY score DESC, s.c LIMIT 1),
        |sel3 AS (
        |  SELECT s.c, s.rel, s.rel * 0.5 - MAX(m.sim) * 0.5 AS score
        |  FROM short s JOIN sims m ON m.a = s.c
        |    AND m.b IN (SELECT c FROM sel1 UNION ALL SELECT c FROM sel2)
        |  WHERE s.c NOT IN (SELECT c FROM sel1 UNION ALL SELECT c FROM sel2)
        |  GROUP BY s.c, s.rel ORDER BY score DESC, s.c LIMIT 1),
        |sel4 AS (
        |  SELECT s.c, s.rel, s.rel * 0.5 - MAX(m.sim) * 0.5 AS score
        |  FROM short s JOIN sims m ON m.a = s.c
        |    AND m.b IN (SELECT c FROM sel1 UNION ALL SELECT c FROM sel2
        |                UNION ALL SELECT c FROM sel3)
        |  WHERE s.c NOT IN (SELECT c FROM sel1 UNION ALL SELECT c FROM sel2
        |                    UNION ALL SELECT c FROM sel3)
        |  GROUP BY s.c, s.rel ORDER BY score DESC, s.c LIMIT 1),
        |sel5 AS (
        |  SELECT s.c, s.rel, s.rel * 0.5 - MAX(m.sim) * 0.5 AS score
        |  FROM short s JOIN sims m ON m.a = s.c
        |    AND m.b IN (SELECT c FROM sel1 UNION ALL SELECT c FROM sel2
        |                UNION ALL SELECT c FROM sel3 UNION ALL SELECT c FROM sel4)
        |  WHERE s.c NOT IN (SELECT c FROM sel1 UNION ALL SELECT c FROM sel2
        |                    UNION ALL SELECT c FROM sel3 UNION ALL SELECT c FROM sel4)
        |  GROUP BY s.c, s.rel ORDER BY score DESC, s.c LIMIT 1)
        |SELECT 1 AS rank, c AS vec_id, rel, score AS mmr_score FROM sel1
        |UNION ALL SELECT 2, c, rel, score FROM sel2
        |UNION ALL SELECT 3, c, rel, score FROM sel3
        |UNION ALL SELECT 4, c, rel, score FROM sel4
        |UNION ALL SELECT 5, c, rel, score FROM sel5
        |ORDER BY rank""".stripMargin,
    // same k-smallest selection, same all-integer estimator; the
    // ALL_merged row proves sketch-union == direct-sketch arithmetic
    "kmv1_theta_distinct" ->
      """WITH hv AS MATERIALIZED (
        |  SELECT event_type, user_id,
        |    ('0x' || substr(md5('kmv:' || user_id), 1, 15))::BIGINT AS h
        |  FROM events
        |), pt AS MATERIALIZED (
        |  SELECT DISTINCT event_type, h FROM hv
        |), sk AS MATERIALIZED (
        |  SELECT event_type, h FROM (
        |    SELECT event_type, h,
        |      row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        |    FROM pt) t WHERE rn <= 64
        |), per AS (
        |  SELECT event_type, MAX(h) AS kth, COUNT(*) AS n_kept
        |  FROM sk GROUP BY 1
        |), tru AS (
        |  SELECT event_type, COUNT(DISTINCT user_id) AS n_true
        |  FROM hv GROUP BY 1
        |), dkth AS (
        |  SELECT MAX(h) AS kth, COUNT(*) AS n_kept FROM (
        |    SELECT DISTINCT h FROM hv ORDER BY h LIMIT 64) t
        |), mkth AS (
        |  SELECT MAX(h) AS kth, COUNT(*) AS n_kept FROM (
        |    SELECT DISTINCT h FROM sk ORDER BY h LIMIT 64) t
        |), allt AS (SELECT COUNT(DISTINCT user_id) AS n_true FROM hv),
        |u AS (
        |  SELECT p.event_type, t.n_true, p.n_kept, p.kth
        |  FROM per p JOIN tru t USING (event_type)
        |  UNION ALL SELECT 'ALL_direct', allt.n_true, d.n_kept, d.kth
        |  FROM dkth d, allt
        |  UNION ALL SELECT 'ALL_merged', allt.n_true, m.n_kept, m.kth
        |  FROM mkth m, allt
        |)
        |SELECT event_type, CAST(n_true AS BIGINT) AS n_true,
        |  CAST(n_kept AS BIGINT) AS n_kept, kth,
        |  CAST(69269232549888 // (kth // 1048576) AS BIGINT) AS est
        |FROM u ORDER BY event_type""".stripMargin,
    // ±1 signs from the portable hash's parity; 5 groups × 16
    // estimators; integer median-of-group-sums, one trailing div 16
    "ams1_f2_sketch" ->
      """WITH toks AS (
        |  SELECT u.term FROM documents,
        |    UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS u(term)
        |  WHERE u.term <> ''
        |), cnt AS (SELECT term, COUNT(*) AS c FROM toks GROUP BY 1),
        |tf AS (SELECT CAST(SUM(c * c) AS BIGINT) AS f2_true FROM cnt),
        |est AS (
        |  SELECT g.j, CAST(SUM(
        |    (1 - 2 * (('0x' || substr(md5('ams:' || g.j || ':' || term), 1, 15))
        |      ::BIGINT % 2)) * c) AS BIGINT) AS s
        |  FROM cnt, UNNEST(generate_series(0, 79)) AS g(j)
        |  GROUP BY 1
        |), grp AS (
        |  SELECT j // 16 AS g, CAST(SUM(s * s) AS BIGINT) AS gsum
        |  FROM est GROUP BY 1
        |), med AS (
        |  SELECT gsum // 16 AS f2_est FROM (
        |    SELECT gsum, ROW_NUMBER() OVER (ORDER BY gsum, g) AS rk FROM grp)
        |  WHERE rk = 3
        |)
        |SELECT f2_true, f2_est,
        |  CAST(f2_est AS DOUBLE) / CAST(f2_true AS DOUBLE) AS ratio
        |FROM tf, med""".stripMargin,
    "x13_hll_sketch" ->
      """SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact,
        |  TRUE AS merged_within_bound
        |FROM events""".stripMargin,
    // The sketch estimates are engine-internal (Datasketches HLL has no
    // DuckDB twin), so THEY are TRUE-gated — but every exact count the
    // gates divide by is recomputed relationally and hash-checked.
    "x24_sketch_setops" ->
      """WITH flags AS (
        |  SELECT user_id,
        |    MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ina,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS inb
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  GROUP BY 1
        |)
        |SELECT CAST(SUM(ina) AS BIGINT) AS xa,
        |  CAST(SUM(inb) AS BIGINT) AS xb,
        |  COUNT(*) AS xu,
        |  CAST(SUM(ina * inb) AS BIGINT) AS xi,
        |  TRUE AS a_within_bound, TRUE AS b_within_bound,
        |  TRUE AS union_within_bound, TRUE AS inter_within_bound
        |FROM flags""".stripMargin,
    "e7_matryoshka_overlap" ->
      """WITH q AS (
        |  SELECT vec_id AS q_vec, embedding AS eq FROM embeddings
        |  WHERE vec_id < 4
        |), pairs AS (
        |  SELECT q.q_vec, c.vec_id AS cv, q.eq, c.embedding AS ec
        |  FROM q, embeddings c WHERE c.vec_id <> q.q_vec
        |), terms AS (
        |  SELECT q_vec, cv, g.i AS i,
        |    CAST(floor(CAST(eq[g.i] AS DOUBLE) * 1048576.0) AS BIGINT) AS x,
        |    CAST(floor(CAST(ec[g.i] AS DOUBLE) * 1048576.0) AS BIGINT) AS y
        |  FROM pairs, UNNEST(generate_series(1, len(eq))) AS g(i)
        |), agg AS (
        |  SELECT q_vec, cv,
        |    CAST(SUM(x * y) AS DOUBLE) AS dot,
        |    CAST(SUM(x * x) AS DOUBLE) AS nx,
        |    CAST(SUM(y * y) AS DOUBLE) AS ny,
        |    CAST(SUM(CASE WHEN i <= 16 THEN x * y ELSE 0 END) AS DOUBLE) AS dott,
        |    CAST(SUM(CASE WHEN i <= 16 THEN x * x ELSE 0 END) AS DOUBLE) AS nxt,
        |    CAST(SUM(CASE WHEN i <= 16 THEN y * y ELSE 0 END) AS DOUBLE) AS nyt
        |  FROM terms GROUP BY 1, 2
        |), rf AS (
        |  SELECT q_vec, cv, row_number() OVER (PARTITION BY q_vec
        |    ORDER BY dot / nullif(sqrt(nx) * sqrt(ny), 0) DESC, cv) AS rn
        |  FROM agg
        |), rt AS (
        |  SELECT q_vec, cv, row_number() OVER (PARTITION BY q_vec
        |    ORDER BY dott / nullif(sqrt(nxt) * sqrt(nyt), 0) DESC, cv) AS rn
        |  FROM agg
        |)
        |, ov AS (
        |  SELECT rf.q_vec, COUNT(*) AS n
        |  FROM rf JOIN rt ON rf.q_vec = rt.q_vec AND rf.cv = rt.cv
        |  WHERE rf.rn <= 5 AND rt.rn <= 5
        |  GROUP BY 1
        |)
        |SELECT q.q_vec, CAST(COALESCE(ov.n, 0) AS BIGINT) AS overlap_at_5
        |FROM q LEFT JOIN ov ON ov.q_vec = q.q_vec
        |ORDER BY q.q_vec""".stripMargin,
    "ns1_hard_negatives" ->
      """WITH q AS (
        |  SELECT vec_id AS q_vec, embedding AS eq FROM embeddings
        |  WHERE vec_id < 3
        |), pairs AS (
        |  SELECT q.q_vec, c.vec_id AS neg_vec, q.eq, c.embedding AS ec
        |  FROM q, embeddings c WHERE c.vec_id <> q.q_vec
        |), terms AS (
        |  SELECT q_vec, neg_vec,
        |    CAST(floor(CAST(eq[g.i] AS DOUBLE) * 1048576.0) AS BIGINT) AS x,
        |    CAST(floor(CAST(ec[g.i] AS DOUBLE) * 1048576.0) AS BIGINT) AS y
        |  FROM pairs, UNNEST(generate_series(1, len(eq))) AS g(i)
        |), agg AS (
        |  SELECT q_vec, neg_vec,
        |    CAST(SUM(x * y) AS DOUBLE) AS dot,
        |    CAST(SUM(x * x) AS DOUBLE) AS nx,
        |    CAST(SUM(y * y) AS DOUBLE) AS ny
        |  FROM terms GROUP BY 1, 2
        |), band AS (
        |  SELECT q_vec, neg_vec,
        |    dot / nullif(sqrt(nx) * sqrt(ny), 0) AS qcos
        |  FROM agg
        |  WHERE dot / nullif(sqrt(nx) * sqrt(ny), 0) >= 0.0
        |    AND dot / nullif(sqrt(nx) * sqrt(ny), 0) < 0.3
        |), r AS (
        |  SELECT q_vec, neg_vec, qcos,
        |    row_number() OVER (PARTITION BY q_vec
        |      ORDER BY qcos DESC, neg_vec) AS rn
        |  FROM band
        |)
        |SELECT q_vec, neg_vec, qcos, CAST(rn AS INTEGER) AS rank
        |FROM r WHERE rn <= 4 ORDER BY q_vec, rank""".stripMargin,
    "d7_dedup_pipeline" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 2),
        |    i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS s
        |  FROM toks WHERE len(w) >= 3
        |), hs AS (
        |  SELECT doc_id, CAST(g.i AS INTEGER) AS h_idx,
        |    ((g.i * 2 + 1) * 1103515245 % 2147483647
        |      * (('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647)
        |      + g.i) % 2147483647 AS h
        |  FROM sh, UNNEST(generate_series(0, 15)) AS g(i)
        |), sigs AS (
        |  SELECT doc_id, h_idx, min(h) AS min_hash FROM hs GROUP BY 1, 2
        |), bands AS (
        |  SELECT doc_id, CAST(h_idx // 4 AS INTEGER) AS band_idx,
        |    ('0x' || substr(md5(string_agg(min_hash::VARCHAR, ',' ORDER BY h_idx)), 1, 15))::BIGINT
        |      AS band_key
        |  FROM sigs GROUP BY doc_id, h_idx // 4
        |), sized AS (
        |  SELECT band_idx, band_key FROM bands GROUP BY 1, 2
        |  HAVING count(*) BETWEEN 2 AND 64
        |), cpairs AS (
        |  SELECT DISTINCT b1.doc_id AS doc_a, b2.doc_id AS doc_b
        |  FROM bands b1
        |  JOIN sized s ON s.band_idx = b1.band_idx AND s.band_key = b1.band_key
        |  JOIN bands b2 ON b2.band_idx = b1.band_idx AND b2.band_key = b1.band_key
        |  WHERE b1.doc_id < b2.doc_id
        |), sets AS (
        |  SELECT doc_id, list_distinct(list(s)) AS shingles FROM sh GROUP BY doc_id
        |), e0 AS (
        |  SELECT p.doc_a AS a, p.doc_b AS b
        |  FROM cpairs p
        |  JOIN sets sa ON sa.doc_id = p.doc_a
        |  JOIN sets sb ON sb.doc_id = p.doc_b
        |  WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
        |      / len(list_distinct(list_concat(sa.shingles, sb.shingles))) >= 0.05
        |), edges AS (
        |  SELECT a AS src, b AS dst FROM e0 UNION ALL SELECT b, a FROM e0
        |), reach AS (
        |  SELECT doc_id AS node, doc_id AS root FROM documents
        |  UNION
        |  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node
        |)
        |SELECT node AS doc_id, MIN(root) AS cluster_id,
        |  CAST(node = MIN(root) AS INT) AS is_kept
        |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin,
    "x2_ann_lsh" ->
      s"""WITH $lshOracleCtes
         |SELECT q_vec, rank, c_vec, cosine, n_tables FROM lsh_ranked
         |WHERE rank <= 3 ORDER BY q_vec, rank""".stripMargin,
    "st11_stream_ann" ->
      s"""WITH $lshOracleCtes
         |SELECT q_vec, cosine AS best_cosine, c_vec AS best_c_vec
         |FROM lsh_ranked WHERE rank = 1 ORDER BY q_vec""".stripMargin,
    "x2r_ann_lsh_recall" ->
      s"""WITH $lshOracleCtes, brute AS (
         |  SELECT q_vec, c_vec FROM (
         |    SELECT a.vec_id AS q_vec, b.vec_id AS c_vec,
         |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
         |        list_dot_product(a.q, b.q) /
         |          nullif(sqrt(list_dot_product(a.q, a.q)) * sqrt(list_dot_product(b.q, b.q)), 0)
         |          DESC, b.vec_id) AS rank
         |    FROM qe a, qe b WHERE a.vec_id < 8 AND b.vec_id <> a.vec_id) t
         |  WHERE rank <= 3
         |), lsh3 AS (
         |  SELECT q_vec, c_vec FROM lsh_ranked WHERE rank <= 3
         |)
         |SELECT CAST(count(*) AS BIGINT) AS n_exact,
         |  CAST(SUM(CASE WHEN l.c_vec IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
         |  CAST(SUM(CASE WHEN l.c_vec IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS recall
         |FROM brute br LEFT JOIN lsh3 l ON l.q_vec = br.q_vec AND l.c_vec = br.c_vec""".stripMargin,
    // the full traversal replayed: all query-corpus scores precomputed
    // into one tiny relation (8 x 499 pairs), then entry -> 3 rounds of
    // expand / NOT-EXISTS-dedup / union / top-8 beam -> final top-5
    "x33_graph_ann_beam" ->
      """WITH qe AS MATERIALIZED (
        |  SELECT vec_id,
        |    list_transform(embedding, v -> floor(CAST(v AS DOUBLE) * 1048576.0)) AS q
        |  FROM embeddings WHERE vec_id < 500
        |), tk AS MATERIALIZED (
        |  SELECT q_vec, c_vec FROM (
        |    SELECT a.vec_id AS q_vec, b.vec_id AS c_vec,
        |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
        |        list_dot_product(a.q, b.q) /
        |          nullif(sqrt(list_dot_product(a.q, a.q)) * sqrt(list_dot_product(b.q, b.q)), 0)
        |          DESC, b.vec_id) AS rank
        |    FROM qe a, qe b WHERE b.vec_id <> a.vec_id) t
        |  WHERE rank <= 5
        |), edges AS MATERIALIZED (
        |  SELECT q_vec AS v, c_vec AS nbr FROM tk
        |), sc AS MATERIALIZED (
        |  SELECT a.vec_id AS q_vec, b.vec_id AS v,
        |    list_dot_product(a.q, b.q) /
        |      nullif(sqrt(list_dot_product(a.q, a.q)) * sqrt(list_dot_product(b.q, b.q)), 0)
        |      AS cosine
        |  FROM qe a, qe b WHERE a.vec_id < 8
        |), e0 AS (SELECT MIN(vec_id) AS e0 FROM qe),
        |v0 AS MATERIALIZED (
        |  SELECT s.q_vec, s.v, s.cosine FROM sc s, e0 WHERE s.v = e0.e0
        |), c1 AS MATERIALIZED (
        |  SELECT DISTINCT b.q_vec, e.nbr AS v
        |  FROM v0 b JOIN edges e ON e.v = b.v
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM v0 x WHERE x.q_vec = b.q_vec AND x.v = e.nbr)
        |), v1 AS MATERIALIZED (
        |  SELECT * FROM v0
        |  UNION ALL
        |  SELECT c.q_vec, c.v, s.cosine FROM c1 c JOIN sc s USING (q_vec, v)
        |), b1 AS MATERIALIZED (
        |  SELECT q_vec, v FROM (
        |    SELECT q_vec, v, row_number() OVER (PARTITION BY q_vec
        |      ORDER BY cosine DESC, v) AS rn FROM v1) WHERE rn <= 8
        |), c2 AS MATERIALIZED (
        |  SELECT DISTINCT b.q_vec, e.nbr AS v
        |  FROM b1 b JOIN edges e ON e.v = b.v
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM v1 x WHERE x.q_vec = b.q_vec AND x.v = e.nbr)
        |), v2 AS MATERIALIZED (
        |  SELECT * FROM v1
        |  UNION ALL
        |  SELECT c.q_vec, c.v, s.cosine FROM c2 c JOIN sc s USING (q_vec, v)
        |), b2 AS MATERIALIZED (
        |  SELECT q_vec, v FROM (
        |    SELECT q_vec, v, row_number() OVER (PARTITION BY q_vec
        |      ORDER BY cosine DESC, v) AS rn FROM v2) WHERE rn <= 8
        |), c3 AS MATERIALIZED (
        |  SELECT DISTINCT b.q_vec, e.nbr AS v
        |  FROM b2 b JOIN edges e ON e.v = b.v
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM v2 x WHERE x.q_vec = b.q_vec AND x.v = e.nbr)
        |), v3 AS MATERIALIZED (
        |  SELECT * FROM v2
        |  UNION ALL
        |  SELECT c.q_vec, c.v, s.cosine FROM c3 c JOIN sc s USING (q_vec, v)
        |)
        |SELECT q_vec, CAST(rank AS INT) AS rank, v AS c_vec, cosine FROM (
        |  SELECT q_vec, v, cosine, row_number() OVER (PARTITION BY q_vec
        |    ORDER BY cosine DESC, v) AS rank FROM v3 WHERE v <> q_vec)
        |WHERE rank <= 5
        |ORDER BY q_vec, rank""".stripMargin,

    // NN-descent fully replayed: md5 hash-bucket seeding (2 families of
    // expected-32 buckets, [2,64] size gate), quantized-cosine scoring,
    // build-K=15 prune, then 3 rounds of undirected neighbor-of-neighbor
    // expansion / NOT-EXISTS dedup / rescore / re-prune; final top-5
    // edges judged against the brute-force top-5 graph per node.
    "x34_nn_descent" ->
      s"""WITH ${nndOracleCtes()}, tk AS (
         |  SELECT q_vec AS v, c_vec AS u FROM (
         |    SELECT a.vec_id AS q_vec, b.vec_id AS c_vec,
         |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
         |        ${qcosSql("a", "b")} DESC, b.vec_id) AS rank
         |    FROM qe a, qe b WHERE b.vec_id <> a.vec_id) t
         |  WHERE rank <= 5
         |)
         |SELECT t.v AS vec_id, CAST(COUNT(*) AS BIGINT) AS n_true,
         |  CAST(SUM(CASE WHEN n.u IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_recovered
         |FROM tk t LEFT JOIN nnd n ON n.v = t.v AND n.u = t.u
         |GROUP BY t.v ORDER BY vec_id""".stripMargin,

    // x34's build replay composed with x33's beam replay: the served
    // traversal walks the NN-DESCENT graph's top-5 edges. The Spark
    // side reads those edges from the persisted artifact (which IS the
    // deterministic build), so this oracle gates build + layout + serve
    // end to end from first principles.
    "x35_graph_ann_nnd" ->
      s"""WITH ${nndOracleCtes()}, edges AS (
         |  SELECT v, u AS nbr FROM nnd
         |), sc AS MATERIALIZED (
         |  SELECT a.vec_id AS q_vec, b.vec_id AS v, ${qcosSql("a", "b")} AS cosine
         |  FROM qe a, qe b WHERE a.vec_id < 8
         |), e0 AS (SELECT MIN(v) AS e0 FROM edges),
         |$beamReplayCtes
         |${beamReportSql(5)}""".stripMargin,

    // x23's pattern applied to the graph tier: the beam search replayed
    // FROM THE PERSISTED ARTIFACT the Spark side wrote (AtomicLayer
    // keeps exactly one committed v* snapshot) — proving the on-disk
    // edge layout, not just the build math, is engine-portable. The
    // literal path is Similarity.graphIndexRoot("<sf0.01>")'s layout.
    "x37_graph_index_persisted" ->
      s"""WITH qe AS MATERIALIZED (
         |  SELECT vec_id,
         |    list_transform(embedding, v -> floor(CAST(v AS DOUBLE) * 1048576.0)) AS q
         |  FROM embeddings WHERE vec_id < 500
         |), edges AS MATERIALIZED (
         |  SELECT v, nbr
         |  FROM read_parquet('/tmp/graft_graph_index/sf0.01/edges.parquet/v*/*.parquet')
         |  WHERE rank <= 5
         |), sc AS MATERIALIZED (
         |  SELECT a.vec_id AS q_vec, b.vec_id AS v, ${qcosSql("a", "b")} AS cosine
         |  FROM qe a, qe b WHERE a.vec_id < 8
         |), e0 AS (SELECT MIN(v) AS e0 FROM edges),
         |$beamReplayCtes
         |${beamReportSql(5)}""".stripMargin,

    // the serve replayed from the STREAM-BUILT artifact — x37's replay
    // pointed at the _stream root (no tombstones in this lifecycle leg)
    "st29_stream_graph_append" ->
      s"""WITH qe AS MATERIALIZED (
         |  SELECT vec_id,
         |    list_transform(embedding, v -> floor(CAST(v AS DOUBLE) * 1048576.0)) AS q
         |  FROM embeddings WHERE vec_id < 500
         |), edges AS MATERIALIZED (
         |  SELECT v, nbr
         |  FROM read_parquet('/tmp/graft_graph_index/sf0.01_stream/edges.parquet/v*/*.parquet')
         |  WHERE rank <= 5
         |), sc AS MATERIALIZED (
         |  SELECT a.vec_id AS q_vec, b.vec_id AS v, ${qcosSql("a", "b")} AS cosine
         |  FROM qe a, qe b WHERE a.vec_id < 8
         |), e0 AS (SELECT MIN(v) AS e0 FROM edges),
         |$beamReplayCtes
         |${beamReportSql(5)}""".stripMargin,

    // the serve replayed from the RECONCILED stream-built artifact —
    // st29's replay pointed at the _rec root: the persisted edges
    // already carry the offline NN-descent repair round, so the same
    // beam replay gates insert + reconcile + layout end to end.
    "st30_graph_reconcile" ->
      s"""WITH qe AS MATERIALIZED (
         |  SELECT vec_id,
         |    list_transform(embedding, v -> floor(CAST(v AS DOUBLE) * 1048576.0)) AS q
         |  FROM embeddings WHERE vec_id < 500
         |), edges AS MATERIALIZED (
         |  SELECT v, nbr
         |  FROM read_parquet('/tmp/graft_graph_index/sf0.01_rec/edges.parquet/v*/*.parquet')
         |  WHERE rank <= 5
         |), sc AS MATERIALIZED (
         |  SELECT a.vec_id AS q_vec, b.vec_id AS v, ${qcosSql("a", "b")} AS cosine
         |  FROM qe a, qe b WHERE a.vec_id < 8
         |), e0 AS (SELECT MIN(v) AS e0 FROM edges),
         |$beamReplayCtes
         |${beamReportSql(5)}""".stripMargin,

    // the post-delete serve replayed from the SAME persisted artifacts:
    // identical to the x37 replay except every edge touching a
    // tombstoned node — on EITHER endpoint — is filtered before the
    // traversal, and the entry vertex is recomputed over the survivors
    // (a dead node must be unreachable however close it is).
    "x38_graph_index_delete" ->
      s"""WITH qe AS MATERIALIZED (
         |  SELECT vec_id,
         |    list_transform(embedding, v -> floor(CAST(v AS DOUBLE) * 1048576.0)) AS q
         |  FROM embeddings WHERE vec_id < 500
         |), tomb AS (
         |  SELECT c_vec
         |  FROM read_parquet('/tmp/graft_graph_index/sf0.01_gd/tombstones.parquet/v*/*.parquet')
         |), edges AS MATERIALIZED (
         |  SELECT v, nbr
         |  FROM read_parquet('/tmp/graft_graph_index/sf0.01_gd/edges.parquet/v*/*.parquet')
         |  WHERE rank <= 5
         |    AND v NOT IN (SELECT c_vec FROM tomb)
         |    AND nbr NOT IN (SELECT c_vec FROM tomb)
         |), sc AS MATERIALIZED (
         |  SELECT a.vec_id AS q_vec, b.vec_id AS v, ${qcosSql("a", "b")} AS cosine
         |  FROM qe a, qe b WHERE a.vec_id < 8
         |), e0 AS (SELECT MIN(v) AS e0 FROM edges),
         |$beamReplayCtes
         |${beamReportSql(5)}""".stripMargin,

    // the lifecycle composed: build replay over the 400-slice (qe/g3),
    // beam-locate the 100 new vectors over g3's edges, reverse-link,
    // batch hash-seed pairs, merged re-prune, census vs brute-500 truth
    "x36_nnd_upsert" ->
      s"""WITH ${nndOracleCtes(400)}, qa AS MATERIALIZED (
         |  SELECT vec_id,
         |    list_transform(embedding, v -> floor(CAST(v AS DOUBLE) * 1048576.0)) AS q
         |  FROM embeddings WHERE vec_id < 500
         |), edges AS (
         |  SELECT v, u AS nbr FROM g3
         |), sc AS MATERIALIZED (
         |  SELECT a.vec_id AS q_vec, b.vec_id AS v, ${qcosSql("a", "b")} AS cosine
         |  FROM qa a, qa b WHERE a.vec_id >= 400 AND b.vec_id < 400
         |), e0 AS (SELECT MIN(vec_id) AS e0 FROM qe),
         |$beamReplayCtes, newe AS MATERIALIZED (
         |  SELECT q_vec AS v, v AS u, cosine FROM (
         |    SELECT q_vec, v, cosine, row_number() OVER (PARTITION BY q_vec
         |      ORDER BY cosine DESC, v) AS rn FROM bv3) t
         |  WHERE rn <= 15
         |), rev AS (
         |  SELECT u AS v, v AS u, cosine FROM newe
         |), nb2 AS (
         |  SELECT GREATEST(1, COUNT(*) // 32) AS nb FROM qa WHERE vec_id >= 400
         |), bkt2 AS (
         |  SELECT vec_id, fam.f AS fam,
         |    ('0x' || substr(md5('nnd' || CAST(fam.f AS VARCHAR) || ':' ||
         |      CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT % nb2.nb AS b
         |  FROM qa, nb2, (SELECT UNNEST(generate_series(0, 1)) AS f) AS fam
         |  WHERE qa.vec_id >= 400
         |), sized2 AS (
         |  SELECT fam, b FROM bkt2 GROUP BY 1, 2 HAVING COUNT(*) BETWEEN 2 AND 64
         |), bp AS (
         |  SELECT DISTINCT l.vec_id AS v, r.vec_id AS u
         |  FROM bkt2 l
         |  JOIN sized2 s ON s.fam = l.fam AND s.b = l.b
         |  JOIN bkt2 r ON r.fam = l.fam AND r.b = l.b
         |  WHERE l.vec_id <> r.vec_id
         |), bps AS (
         |  SELECT p.v, p.u, ${qcosSql("a", "b")} AS cosine
         |  FROM bp p JOIN qa a ON a.vec_id = p.v JOIN qa b ON b.vec_id = p.u
         |), merged AS (
         |  SELECT DISTINCT v, u, cosine FROM (
         |    SELECT v, u, cosine FROM g3
         |    UNION ALL SELECT v, u, cosine FROM newe
         |    UNION ALL SELECT v, u, cosine FROM rev
         |    UNION ALL SELECT v, u, cosine FROM bps) t0
         |), mg0 AS MATERIALIZED (
         |  SELECT v, u, cosine FROM (
         |    SELECT v, u, cosine, row_number() OVER (PARTITION BY v
         |      ORDER BY cosine DESC, u) AS rn FROM merged) t
         |  WHERE rn <= 15
         |), undr AS (
         |  SELECT v, u FROM mg0 UNION SELECT u AS v, v AS u FROM mg0
         |), candr AS (
         |  SELECT DISTINCT a.v, b.u FROM undr a JOIN undr b ON a.u = b.v
         |  WHERE a.v <> b.u AND NOT EXISTS (
         |    SELECT 1 FROM mg0 g WHERE g.v = a.v AND g.u = b.u)
         |), srd AS (
         |  SELECT c.v, c.u, ${qcosSql("a", "b")} AS cosine
         |  FROM candr c JOIN qa a ON a.vec_id = c.v JOIN qa b ON b.vec_id = c.u
         |), g4 AS MATERIALIZED (
         |  SELECT v, u, cosine FROM (
         |    SELECT v, u, cosine, row_number() OVER (PARTITION BY v
         |      ORDER BY cosine DESC, u) AS rn
         |    FROM (SELECT * FROM mg0 UNION ALL SELECT * FROM srd) t0) t
         |  WHERE rn <= 15
         |), up AS (
         |  SELECT v, u FROM (
         |    SELECT v, u, row_number() OVER (PARTITION BY v
         |      ORDER BY cosine DESC, u) AS rn FROM g4) t
         |  WHERE rn <= 5
         |), tk AS (
         |  SELECT q_vec AS v, c_vec AS u FROM (
         |    SELECT a.vec_id AS q_vec, b.vec_id AS c_vec,
         |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
         |        ${qcosSql("a", "b")} DESC, b.vec_id) AS rank
         |    FROM qa a, qa b WHERE b.vec_id <> a.vec_id) t
         |  WHERE rank <= 5
         |)
         |SELECT t.v AS vec_id, CAST(COUNT(*) AS BIGINT) AS n_true,
         |  CAST(SUM(CASE WHEN n.u IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_recovered
         |FROM tk t LEFT JOIN up n ON n.v = t.v AND n.u = t.u
         |GROUP BY t.v ORDER BY vec_id""".stripMargin,

    // recursive reachability over the mutual edges, min root = cluster
    "rnn2_mutual_knn_clusters" ->
      """WITH RECURSIVE qe AS MATERIALIZED (
        |  SELECT vec_id,
        |    list_transform(embedding, v -> floor(CAST(v AS DOUBLE) * 1048576.0)) AS q
        |  FROM embeddings WHERE vec_id < 500
        |), tk AS MATERIALIZED (
        |  SELECT q_vec, c_vec FROM (
        |    SELECT a.vec_id AS q_vec, b.vec_id AS c_vec,
        |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
        |        list_dot_product(a.q, b.q) /
        |          nullif(sqrt(list_dot_product(a.q, a.q)) * sqrt(list_dot_product(b.q, b.q)), 0)
        |          DESC, b.vec_id) AS rank
        |    FROM qe a, qe b WHERE b.vec_id <> a.vec_id) t
        |  WHERE rank <= 5
        |), m AS MATERIALIZED (
        |  SELECT t.q_vec AS a, t.c_vec AS b FROM tk t
        |  JOIN tk r ON r.q_vec = t.c_vec AND r.c_vec = t.q_vec
        |  WHERE t.q_vec < t.c_vec
        |), edges AS (
        |  SELECT a AS src, b AS dst FROM m
        |  UNION ALL SELECT b, a FROM m
        |), reach AS (
        |  SELECT vec_id AS node, vec_id AS root FROM qe
        |  UNION
        |  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node
        |)
        |SELECT node AS vec_id, CAST(MIN(root) AS BIGINT) AS cluster
        |FROM reach GROUP BY node ORDER BY vec_id""".stripMargin,
    // mutual pairs = tk semi-joined with its own reversal; every vec in
    // the slice reports (isolated vecs as 0 / -1)
    "rnn1_mutual_knn" ->
      """WITH qe AS (
        |  SELECT vec_id,
        |    list_transform(embedding, v -> floor(CAST(v AS DOUBLE) * 1048576.0)) AS q
        |  FROM embeddings WHERE vec_id < 500
        |), tk AS MATERIALIZED (
        |  SELECT q_vec, c_vec FROM (
        |    SELECT a.vec_id AS q_vec, b.vec_id AS c_vec,
        |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
        |        list_dot_product(a.q, b.q) /
        |          nullif(sqrt(list_dot_product(a.q, a.q)) * sqrt(list_dot_product(b.q, b.q)), 0)
        |          DESC, b.vec_id) AS rank
        |    FROM qe a, qe b WHERE b.vec_id <> a.vec_id) t
        |  WHERE rank <= 5
        |), m AS (
        |  SELECT t.q_vec, t.c_vec FROM tk t
        |  JOIN tk r ON r.q_vec = t.c_vec AND r.c_vec = t.q_vec
        |), g AS (
        |  SELECT q_vec, COUNT(*) AS cnt, MIN(c_vec) AS best FROM m GROUP BY 1
        |)
        |SELECT e.vec_id,
        |  CAST(COALESCE(g.cnt, 0) AS BIGINT) AS n_mutual,
        |  CAST(COALESCE(g.best, -1) AS BIGINT) AS best_mutual
        |FROM qe e LEFT JOIN g ON g.q_vec = e.vec_id
        |ORDER BY e.vec_id""".stripMargin,

    // true-NN rank inside the approximate top-10; reciprocal scaled by
    // 2520 = lcm(1..10) so it stays integer
    "mrr1_ann_rank_quality" ->
      s"""WITH $lshOracleCtes, brute1 AS (
         |  SELECT q_vec, c_vec AS true_nn FROM (
         |    SELECT a.vec_id AS q_vec, b.vec_id AS c_vec,
         |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
         |        list_dot_product(a.q, b.q) /
         |          nullif(sqrt(list_dot_product(a.q, a.q)) * sqrt(list_dot_product(b.q, b.q)), 0)
         |          DESC, b.vec_id) AS rank
         |    FROM qe a, qe b WHERE a.vec_id < 8 AND b.vec_id <> a.vec_id) t
         |  WHERE rank = 1
         |), l10 AS (
         |  SELECT q_vec, c_vec, rank FROM lsh_ranked WHERE rank <= 10
         |)
         |SELECT b.q_vec, b.true_nn,
         |  CAST(COALESCE(l.rank, 0) AS INT) AS found_rank,
         |  CAST(COALESCE(2520 // l.rank, 0) AS BIGINT) AS rr_scaled
         |FROM brute1 b LEFT JOIN l10 l
         |  ON l.q_vec = b.q_vec AND l.c_vec = b.true_nn
         |ORDER BY b.q_vec""".stripMargin,
    "x5_ann_ivf" ->
      """WITH qe AS (
        |  SELECT vec_id,
        |    list_transform(embedding, v -> floor(CAST(v AS DOUBLE) * 1048576.0)) AS q
        |  FROM embeddings
        |), cent AS (
        |  SELECT vec_id AS centroid_id, q AS cq FROM qe ORDER BY vec_id LIMIT 16
        |), corpus_assign AS (
        |  SELECT c_vec, centroid_id AS list_id FROM (
        |    SELECT e.vec_id AS c_vec, c.centroid_id,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_dot_product(e.q, c.cq) /
        |          nullif(sqrt(list_dot_product(e.q, e.q)) * sqrt(list_dot_product(c.cq, c.cq)), 0)
        |          DESC, c.centroid_id) AS rk
        |    FROM qe e, cent c) t WHERE rk = 1
        |), query_assign AS (
        |  SELECT q_vec, centroid_id AS list_id FROM (
        |    SELECT e.vec_id AS q_vec, c.centroid_id,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_dot_product(e.q, c.cq) /
        |          nullif(sqrt(list_dot_product(e.q, e.q)) * sqrt(list_dot_product(c.cq, c.cq)), 0)
        |          DESC, c.centroid_id) AS rk
        |    FROM qe e, cent c WHERE e.vec_id < 8) t WHERE rk <= 2
        |), scored AS (
        |  SELECT qa.q_vec, ca.c_vec, qa.list_id,
        |    list_dot_product(eq.q, ec.q) /
        |      nullif(sqrt(list_dot_product(eq.q, eq.q)) * sqrt(list_dot_product(ec.q, ec.q)), 0)
        |      AS cosine
        |  FROM query_assign qa
        |  JOIN corpus_assign ca USING (list_id)
        |  JOIN qe eq ON eq.vec_id = qa.q_vec
        |  JOIN qe ec ON ec.vec_id = ca.c_vec
        |  WHERE ca.c_vec <> qa.q_vec
        |), ranked AS (
        |  SELECT q_vec, c_vec, list_id, cosine,
        |    row_number() OVER (PARTITION BY q_vec ORDER BY cosine DESC, c_vec) AS rank
        |  FROM scored
        |)
        |SELECT q_vec, rank, c_vec, cosine, list_id FROM ranked
        |WHERE rank <= 3 ORDER BY q_vec, rank""".stripMargin,
    // Full PQ index + ADC search replay: sampled per-subspace codebook,
    // per-(vec, subspace) codeword argmin, per-query lookup tables
    // (= the same subspace distances restricted to query vecs),
    // table-lookup distance sums, rank. All integer-exact.
    "x20_ann_pq" ->
      """WITH sample AS (
        |  SELECT vec_id AS cw_id, embedding AS cw_emb FROM embeddings
        |  WHERE len(embedding) > 0 AND len(embedding) % 8 = 0
        |  ORDER BY vec_id LIMIT 32
        |), cwq AS (
        |  SELECT cw_id, g.i - 1 AS dim,
        |    CAST(floor(CAST(cw_emb[g.i] AS DOUBLE) * 1048576.0) AS BIGINT) AS qc
        |  FROM sample, UNNEST(generate_series(1, len(cw_emb))) AS g(i)
        |), vq AS (
        |  SELECT vec_id, len(embedding) // 8 AS sd, g.i - 1 AS dim,
        |    CAST(floor(CAST(embedding[g.i] AS DOUBLE) * 1048576.0) AS BIGINT) AS qv
        |  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS g(i)
        |  WHERE len(embedding) > 0 AND len(embedding) % 8 = 0
        |), subdist AS (
        |  SELECT v.vec_id, c.cw_id, v.dim // v.sd AS s,
        |    CAST(SUM((qv - qc) * (qv - qc)) AS BIGINT) AS d
        |  FROM vq v JOIN cwq c ON c.dim = v.dim GROUP BY 1, 2, 3
        |), codes AS (
        |  SELECT vec_id, s, cw_id AS code FROM (
        |    SELECT vec_id, s, cw_id, d,
        |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d, cw_id) AS rn
        |    FROM subdist) t WHERE rn = 1
        |), approx AS (
        |  SELECT l.vec_id AS q_vec, c.vec_id AS c_vec,
        |    CAST(SUM(l.d) AS BIGINT) AS qdist_approx
        |  FROM codes c JOIN subdist l ON l.s = c.s AND l.cw_id = c.code
        |  WHERE l.vec_id < 8 AND c.vec_id <> l.vec_id
        |  GROUP BY 1, 2
        |), ranked AS (
        |  SELECT q_vec, c_vec, qdist_approx,
        |    row_number() OVER (PARTITION BY q_vec
        |      ORDER BY qdist_approx, c_vec) AS rank
        |  FROM approx
        |)
        |SELECT q_vec, rank, c_vec, qdist_approx FROM ranked
        |WHERE rank <= 5 ORDER BY q_vec, rank""".stripMargin,
    "x20r_ann_pq_recall" ->
      """WITH sample AS (
        |  SELECT vec_id AS cw_id, embedding AS cw_emb FROM embeddings
        |  WHERE len(embedding) > 0 AND len(embedding) % 8 = 0
        |  ORDER BY vec_id LIMIT 32
        |), cwq AS (
        |  SELECT cw_id, g.i - 1 AS dim,
        |    CAST(floor(CAST(cw_emb[g.i] AS DOUBLE) * 1048576.0) AS BIGINT) AS qc
        |  FROM sample, UNNEST(generate_series(1, len(cw_emb))) AS g(i)
        |), vq AS (
        |  SELECT vec_id, len(embedding) // 8 AS sd, g.i - 1 AS dim,
        |    CAST(floor(CAST(embedding[g.i] AS DOUBLE) * 1048576.0) AS BIGINT) AS qv
        |  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS g(i)
        |  WHERE len(embedding) > 0 AND len(embedding) % 8 = 0
        |), subdist AS (
        |  SELECT v.vec_id, c.cw_id, v.dim // v.sd AS s,
        |    CAST(SUM((qv - qc) * (qv - qc)) AS BIGINT) AS d
        |  FROM vq v JOIN cwq c ON c.dim = v.dim GROUP BY 1, 2, 3
        |), codes AS (
        |  SELECT vec_id, s, cw_id AS code FROM (
        |    SELECT vec_id, s, cw_id, d,
        |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d, cw_id) AS rn
        |    FROM subdist) t WHERE rn = 1
        |), approx AS (
        |  SELECT l.vec_id AS q_vec, c.vec_id AS c_vec,
        |    CAST(SUM(l.d) AS BIGINT) AS qdist_approx
        |  FROM codes c JOIN subdist l ON l.s = c.s AND l.cw_id = c.code
        |  WHERE l.vec_id < 8 AND c.vec_id <> l.vec_id
        |  GROUP BY 1, 2
        |), pq3 AS (
        |  SELECT q_vec, c_vec FROM (
        |    SELECT q_vec, c_vec,
        |      row_number() OVER (PARTITION BY q_vec
        |        ORDER BY qdist_approx, c_vec) AS rank
        |    FROM approx) t WHERE rank <= 3
        |), dots AS (
        |  SELECT a.vec_id AS q_vec, b.vec_id AS c_vec,
        |    CAST(SUM(a.qv * b.qv) AS DOUBLE) AS dot,
        |    CAST(SUM(a.qv * a.qv) AS DOUBLE) AS nx,
        |    CAST(SUM(b.qv * b.qv) AS DOUBLE) AS ny
        |  FROM vq a JOIN vq b ON a.dim = b.dim
        |  WHERE a.vec_id < 8 AND b.vec_id <> a.vec_id
        |  GROUP BY 1, 2
        |), brute AS (
        |  SELECT q_vec, c_vec FROM (
        |    SELECT q_vec, c_vec,
        |      row_number() OVER (PARTITION BY q_vec ORDER BY
        |        dot / nullif(sqrt(nx) * sqrt(ny), 0) DESC, c_vec) AS rank
        |    FROM dots) t WHERE rank <= 3
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n_exact,
        |  CAST(SUM(CASE WHEN p.c_vec IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
        |  CAST(SUM(CASE WHEN p.c_vec IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS recall
        |FROM brute br LEFT JOIN pq3 p ON p.q_vec = br.q_vec AND p.c_vec = br.c_vec""".stripMargin,
    "x21_ann_pq_refine" ->
      """WITH sample AS (
        |  SELECT vec_id AS cw_id, embedding AS cw_emb FROM embeddings
        |  WHERE len(embedding) > 0 AND len(embedding) % 8 = 0
        |  ORDER BY vec_id LIMIT 32
        |), cwq AS (
        |  SELECT cw_id, g.i - 1 AS dim,
        |    CAST(floor(CAST(cw_emb[g.i] AS DOUBLE) * 1048576.0) AS BIGINT) AS qc
        |  FROM sample, UNNEST(generate_series(1, len(cw_emb))) AS g(i)
        |), vq AS (
        |  SELECT vec_id, len(embedding) // 8 AS sd, g.i - 1 AS dim,
        |    CAST(floor(CAST(embedding[g.i] AS DOUBLE) * 1048576.0) AS BIGINT) AS qv
        |  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS g(i)
        |  WHERE len(embedding) > 0 AND len(embedding) % 8 = 0
        |), subdist AS (
        |  SELECT v.vec_id, c.cw_id, v.dim // v.sd AS s,
        |    CAST(SUM((qv - qc) * (qv - qc)) AS BIGINT) AS d
        |  FROM vq v JOIN cwq c ON c.dim = v.dim GROUP BY 1, 2, 3
        |), codes AS (
        |  SELECT vec_id, s, cw_id AS code FROM (
        |    SELECT vec_id, s, cw_id, d,
        |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d, cw_id) AS rn
        |    FROM subdist) t WHERE rn = 1
        |), approx AS (
        |  SELECT l.vec_id AS q_vec, c.vec_id AS c_vec,
        |    CAST(SUM(l.d) AS BIGINT) AS qdist_approx
        |  FROM codes c JOIN subdist l ON l.s = c.s AND l.cw_id = c.code
        |  WHERE l.vec_id < 8 AND c.vec_id <> l.vec_id
        |  GROUP BY 1, 2
        |), short AS (
        |  SELECT q_vec, c_vec FROM (
        |    SELECT q_vec, c_vec,
        |      row_number() OVER (PARTITION BY q_vec
        |        ORDER BY qdist_approx, c_vec) AS rank
        |    FROM approx) t WHERE rank <= 32
        |), rex AS (
        |  SELECT sh.q_vec, sh.c_vec,
        |    CAST(SUM((a.qv - b.qv) * (a.qv - b.qv)) AS BIGINT) AS qdist_exact
        |  FROM short sh
        |  JOIN vq a ON a.vec_id = sh.q_vec
        |  JOIN vq b ON b.vec_id = sh.c_vec AND b.dim = a.dim
        |  GROUP BY 1, 2
        |), ranked AS (
        |  SELECT q_vec, c_vec, qdist_exact,
        |    row_number() OVER (PARTITION BY q_vec
        |      ORDER BY qdist_exact, c_vec) AS rank
        |  FROM rex
        |)
        |SELECT q_vec, rank, c_vec, qdist_exact FROM ranked
        |WHERE rank <= 3 ORDER BY q_vec, rank""".stripMargin,
    "x21r_ann_pq_refine_recall" ->
      """WITH sample AS (
        |  SELECT vec_id AS cw_id, embedding AS cw_emb FROM embeddings
        |  WHERE len(embedding) > 0 AND len(embedding) % 8 = 0
        |  ORDER BY vec_id LIMIT 32
        |), cwq AS (
        |  SELECT cw_id, g.i - 1 AS dim,
        |    CAST(floor(CAST(cw_emb[g.i] AS DOUBLE) * 1048576.0) AS BIGINT) AS qc
        |  FROM sample, UNNEST(generate_series(1, len(cw_emb))) AS g(i)
        |), vq AS (
        |  SELECT vec_id, len(embedding) // 8 AS sd, g.i - 1 AS dim,
        |    CAST(floor(CAST(embedding[g.i] AS DOUBLE) * 1048576.0) AS BIGINT) AS qv
        |  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS g(i)
        |  WHERE len(embedding) > 0 AND len(embedding) % 8 = 0
        |), subdist AS (
        |  SELECT v.vec_id, c.cw_id, v.dim // v.sd AS s,
        |    CAST(SUM((qv - qc) * (qv - qc)) AS BIGINT) AS d
        |  FROM vq v JOIN cwq c ON c.dim = v.dim GROUP BY 1, 2, 3
        |), codes AS (
        |  SELECT vec_id, s, cw_id AS code FROM (
        |    SELECT vec_id, s, cw_id, d,
        |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d, cw_id) AS rn
        |    FROM subdist) t WHERE rn = 1
        |), approx AS (
        |  SELECT l.vec_id AS q_vec, c.vec_id AS c_vec,
        |    CAST(SUM(l.d) AS BIGINT) AS qdist_approx
        |  FROM codes c JOIN subdist l ON l.s = c.s AND l.cw_id = c.code
        |  WHERE l.vec_id < 8 AND c.vec_id <> l.vec_id
        |  GROUP BY 1, 2
        |), short AS (
        |  SELECT q_vec, c_vec FROM (
        |    SELECT q_vec, c_vec,
        |      row_number() OVER (PARTITION BY q_vec
        |        ORDER BY qdist_approx, c_vec) AS rank
        |    FROM approx) t WHERE rank <= 32
        |), rex AS (
        |  SELECT sh.q_vec, sh.c_vec,
        |    CAST(SUM((a.qv - b.qv) * (a.qv - b.qv)) AS BIGINT) AS qdist_exact
        |  FROM short sh
        |  JOIN vq a ON a.vec_id = sh.q_vec
        |  JOIN vq b ON b.vec_id = sh.c_vec AND b.dim = a.dim
        |  GROUP BY 1, 2
        |), ref3 AS (
        |  SELECT q_vec, c_vec FROM (
        |    SELECT q_vec, c_vec,
        |      row_number() OVER (PARTITION BY q_vec
        |        ORDER BY qdist_exact, c_vec) AS rank
        |    FROM rex) t WHERE rank <= 3
        |), vqall AS (
        |  SELECT vec_id, g.i - 1 AS dim,
        |    CAST(floor(CAST(embedding[g.i] AS DOUBLE) * 1048576.0) AS BIGINT) AS qv
        |  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS g(i)
        |), l2 AS (
        |  SELECT a.vec_id AS q_vec, b.vec_id AS c_vec,
        |    CAST(SUM((a.qv - b.qv) * (a.qv - b.qv)) AS BIGINT) AS d
        |  FROM vqall a JOIN vqall b ON a.dim = b.dim
        |  WHERE a.vec_id < 8 AND b.vec_id <> a.vec_id
        |  GROUP BY 1, 2
        |), ex3 AS (
        |  SELECT q_vec, c_vec FROM (
        |    SELECT q_vec, c_vec,
        |      row_number() OVER (PARTITION BY q_vec ORDER BY d, c_vec) AS rank
        |    FROM l2) t WHERE rank <= 3
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n_exact,
        |  CAST(SUM(CASE WHEN p.c_vec IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
        |  CAST(SUM(CASE WHEN p.c_vec IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS recall
        |FROM ex3 br LEFT JOIN ref3 p ON p.q_vec = br.q_vec AND p.c_vec = br.c_vec""".stripMargin,
    // IVFADC replay: x5's list-assignment CTEs + x20's code/LUT CTEs,
    // ADC restricted to probed lists, then the x21 refine.
    "x22_ann_ivfpq" ->
      """WITH qe AS (
        |  SELECT vec_id,
        |    list_transform(embedding, v -> floor(CAST(v AS DOUBLE) * 1048576.0)) AS q
        |  FROM embeddings
        |), cent AS (
        |  SELECT vec_id AS centroid_id, q AS cq FROM qe ORDER BY vec_id LIMIT 16
        |), corpus_assign AS (
        |  SELECT c_vec, centroid_id AS list_id FROM (
        |    SELECT e.vec_id AS c_vec, c.centroid_id,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_dot_product(e.q, c.cq) /
        |          nullif(sqrt(list_dot_product(e.q, e.q)) * sqrt(list_dot_product(c.cq, c.cq)), 0)
        |          DESC, c.centroid_id) AS rk
        |    FROM qe e, cent c) t WHERE rk = 1
        |), query_assign AS (
        |  SELECT q_vec, centroid_id AS list_id FROM (
        |    SELECT e.vec_id AS q_vec, c.centroid_id,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_dot_product(e.q, c.cq) /
        |          nullif(sqrt(list_dot_product(e.q, e.q)) * sqrt(list_dot_product(c.cq, c.cq)), 0)
        |          DESC, c.centroid_id) AS rk
        |    FROM qe e, cent c WHERE e.vec_id < 8) t WHERE rk <= 2
        |), sample AS (
        |  SELECT vec_id AS cw_id, embedding AS cw_emb FROM embeddings
        |  WHERE len(embedding) > 0 AND len(embedding) % 8 = 0
        |  ORDER BY vec_id LIMIT 32
        |), cwq AS (
        |  SELECT cw_id, g.i - 1 AS dim,
        |    CAST(floor(CAST(cw_emb[g.i] AS DOUBLE) * 1048576.0) AS BIGINT) AS qc
        |  FROM sample, UNNEST(generate_series(1, len(cw_emb))) AS g(i)
        |), vq AS (
        |  SELECT vec_id, len(embedding) // 8 AS sd, g.i - 1 AS dim,
        |    CAST(floor(CAST(embedding[g.i] AS DOUBLE) * 1048576.0) AS BIGINT) AS qv
        |  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS g(i)
        |  WHERE len(embedding) > 0 AND len(embedding) % 8 = 0
        |), subdist AS (
        |  SELECT v.vec_id, c.cw_id, v.dim // v.sd AS s,
        |    CAST(SUM((qv - qc) * (qv - qc)) AS BIGINT) AS d
        |  FROM vq v JOIN cwq c ON c.dim = v.dim GROUP BY 1, 2, 3
        |), codes AS (
        |  SELECT vec_id, s, cw_id AS code FROM (
        |    SELECT vec_id, s, cw_id, d,
        |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d, cw_id) AS rn
        |    FROM subdist) t WHERE rn = 1
        |), approx AS (
        |  SELECT qa.q_vec, c.vec_id AS c_vec, ca.list_id,
        |    CAST(SUM(l.d) AS BIGINT) AS qdist_approx
        |  FROM codes c
        |  JOIN corpus_assign ca ON ca.c_vec = c.vec_id
        |  JOIN query_assign qa ON qa.list_id = ca.list_id
        |  JOIN subdist l ON l.s = c.s AND l.cw_id = c.code AND l.vec_id = qa.q_vec
        |  WHERE c.vec_id <> qa.q_vec
        |  GROUP BY 1, 2, 3
        |), short AS (
        |  SELECT q_vec, c_vec, list_id FROM (
        |    SELECT q_vec, c_vec, list_id,
        |      row_number() OVER (PARTITION BY q_vec
        |        ORDER BY qdist_approx, c_vec) AS rank
        |    FROM approx) t WHERE rank <= 32
        |), rex AS (
        |  SELECT sh.q_vec, sh.c_vec, sh.list_id,
        |    CAST(SUM((a.qv - b.qv) * (a.qv - b.qv)) AS BIGINT) AS qdist_exact
        |  FROM short sh
        |  JOIN vq a ON a.vec_id = sh.q_vec
        |  JOIN vq b ON b.vec_id = sh.c_vec AND b.dim = a.dim
        |  GROUP BY 1, 2, 3
        |), ranked AS (
        |  SELECT q_vec, c_vec, list_id, qdist_exact,
        |    row_number() OVER (PARTITION BY q_vec
        |      ORDER BY qdist_exact, c_vec) AS rank
        |  FROM rex
        |)
        |SELECT q_vec, rank, c_vec, qdist_exact, list_id FROM ranked
        |WHERE rank <= 3 ORDER BY q_vec, rank""".stripMargin,
    "x22r_ann_ivfpq_recall" ->
      (ivfPqRecallCtes(2) +
        """
          |SELECT CAST(count(*) AS BIGINT) AS n_exact,
          |  CAST(SUM(CASE WHEN p.c_vec IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
          |  CAST(SUM(CASE WHEN p.c_vec IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS recall
          |FROM ex3 br LEFT JOIN ref3 p ON p.q_vec = br.q_vec AND p.c_vec = br.c_vec""".stripMargin),
    // The same inline-IVFADC replay at three probe depths, each scored
    // against the same exact top-3 — the x31 tuning curve.
    "x31_ann_recall_curve" ->
      (Seq(1, 2, 4).map { p =>
        s"""SELECT * FROM (${ivfPqRecallCtes(p)}
           |SELECT CAST($p AS BIGINT) AS n_probe,
           |  CAST(count(*) AS BIGINT) AS n_exact,
           |  CAST(SUM(CASE WHEN p.c_vec IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
           |  CAST(SUM(CASE WHEN p.c_vec IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS recall
           |FROM ex3 br LEFT JOIN ref3 p ON p.q_vec = br.q_vec AND p.c_vec = br.c_vec) u$p""".stripMargin
      }.mkString("\nUNION ALL\n") + "\nORDER BY n_probe"),
        // x23: the search replayed FROM THE PERSISTED ARTIFACTS the Spark
    // side wrote (AtomicLayer keeps exactly one committed v* snapshot,
    // so the glob resolves one version). The driver verifies at sf0.01;
    // the literal paths below are Similarity.indexRoot("<sf0.01>")'s
    // layout. Persisted `codes` hold 0-based POSITIONS into the
    // cw_id-sorted codebook — the row_number()-1 in `cb` rebuilds that
    // positional map.
    "x23_ann_ivfpq_persisted" ->
      """WITH cent AS (
        |  SELECT centroid_id,
        |    list_transform(c_emb, v -> floor(CAST(v AS DOUBLE) * 1048576.0)) AS cq
        |  FROM read_parquet('/tmp/graft_ann_index/sf0.01/centroids.parquet/v*/*.parquet')
        |), qe AS (
        |  SELECT vec_id,
        |    list_transform(embedding, v -> floor(CAST(v AS DOUBLE) * 1048576.0)) AS q
        |  FROM embeddings WHERE vec_id < 8
        |), query_assign AS (
        |  SELECT q_vec, centroid_id AS list_id FROM (
        |    SELECT e.vec_id AS q_vec, c.centroid_id,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_dot_product(e.q, c.cq) /
        |          nullif(sqrt(list_dot_product(e.q, e.q)) * sqrt(list_dot_product(c.cq, c.cq)), 0)
        |          DESC, c.centroid_id) AS rk
        |    FROM qe e, cent c) t WHERE rk <= 2
        |), cb AS (
        |  SELECT qcw, row_number() OVER (ORDER BY cw_id) - 1 AS pos
        |  FROM read_parquet('/tmp/graft_ann_index/sf0.01/codebook.parquet/v*/*.parquet')
        |), cwdim AS (
        |  SELECT pos, g.i - 1 AS dim, qcw[g.i] AS qc
        |  FROM cb, UNNEST(generate_series(1, len(qcw))) AS g(i)
        |), vq AS (
        |  SELECT vec_id, len(embedding) // 8 AS sd, g.i - 1 AS dim,
        |    CAST(floor(CAST(embedding[g.i] AS DOUBLE) * 1048576.0) AS BIGINT) AS qv
        |  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS g(i)
        |  WHERE len(embedding) > 0 AND len(embedding) % 8 = 0
        |), lut AS (
        |  SELECT v.vec_id, c.pos, v.dim // v.sd AS s,
        |    CAST(SUM((qv - qc) * (qv - qc)) AS BIGINT) AS d
        |  FROM vq v JOIN cwdim c ON c.dim = v.dim
        |  WHERE v.vec_id < 8
        |  GROUP BY 1, 2, 3
        |), codepos AS (
        |  SELECT i.c_vec, i.list_id, g.s1 - 1 AS s, i.codes[g.s1] AS pos
        |  FROM read_parquet('/tmp/graft_ann_index/sf0.01/index.parquet/v*/*.parquet') i,
        |    UNNEST(generate_series(1, len(i.codes))) AS g(s1)
        |), adc AS (
        |  SELECT qa.q_vec, cp.c_vec, cp.list_id,
        |    CAST(SUM(l.d) AS BIGINT) AS qdist_approx
        |  FROM codepos cp
        |  JOIN query_assign qa ON qa.list_id = cp.list_id
        |  JOIN lut l ON l.s = cp.s AND l.pos = cp.pos AND l.vec_id = qa.q_vec
        |  WHERE cp.c_vec <> qa.q_vec
        |  GROUP BY 1, 2, 3
        |), short AS (
        |  SELECT q_vec, c_vec, list_id FROM (
        |    SELECT q_vec, c_vec, list_id,
        |      row_number() OVER (PARTITION BY q_vec
        |        ORDER BY qdist_approx, c_vec) AS rank
        |    FROM adc) t WHERE rank <= 32
        |), rex AS (
        |  SELECT sh.q_vec, sh.c_vec, sh.list_id,
        |    CAST(SUM((a.qv - b.qv) * (a.qv - b.qv)) AS BIGINT) AS qdist_exact
        |  FROM short sh
        |  JOIN vq a ON a.vec_id = sh.q_vec
        |  JOIN vq b ON b.vec_id = sh.c_vec AND b.dim = a.dim
        |  GROUP BY 1, 2, 3
        |), ranked AS (
        |  SELECT q_vec, c_vec, list_id, qdist_exact,
        |    row_number() OVER (PARTITION BY q_vec
        |      ORDER BY qdist_exact, c_vec) AS rank
        |  FROM rex)
        |SELECT q_vec, rank, c_vec, qdist_exact, list_id FROM ranked
        |WHERE rank <= 3 ORDER BY q_vec, rank""".stripMargin,
    "x29_ann_index_upsert" ->
      """WITH cent AS (
        |  SELECT centroid_id,
        |    list_transform(c_emb, v -> floor(CAST(v AS DOUBLE) * 1048576.0)) AS cq
        |  FROM read_parquet('/tmp/graft_ann_index/sf0.01_b400/centroids.parquet/v*/*.parquet')
        |), qe AS (
        |  SELECT vec_id,
        |    list_transform(embedding, v -> floor(CAST(v AS DOUBLE) * 1048576.0)) AS q
        |  FROM embeddings WHERE vec_id < 8
        |), query_assign AS (
        |  SELECT q_vec, centroid_id AS list_id FROM (
        |    SELECT e.vec_id AS q_vec, c.centroid_id,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_dot_product(e.q, c.cq) /
        |          nullif(sqrt(list_dot_product(e.q, e.q)) * sqrt(list_dot_product(c.cq, c.cq)), 0)
        |          DESC, c.centroid_id) AS rk
        |    FROM qe e, cent c) t WHERE rk <= 2
        |), cb AS (
        |  SELECT qcw, row_number() OVER (ORDER BY cw_id) - 1 AS pos
        |  FROM read_parquet('/tmp/graft_ann_index/sf0.01_b400/codebook.parquet/v*/*.parquet')
        |), cwdim AS (
        |  SELECT pos, g.i - 1 AS dim, qcw[g.i] AS qc
        |  FROM cb, UNNEST(generate_series(1, len(qcw))) AS g(i)
        |), vq AS (
        |  SELECT vec_id, len(embedding) // 8 AS sd, g.i - 1 AS dim,
        |    CAST(floor(CAST(embedding[g.i] AS DOUBLE) * 1048576.0) AS BIGINT) AS qv
        |  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS g(i)
        |  WHERE len(embedding) > 0 AND len(embedding) % 8 = 0
        |), lut AS (
        |  SELECT v.vec_id, c.pos, v.dim // v.sd AS s,
        |    CAST(SUM((qv - qc) * (qv - qc)) AS BIGINT) AS d
        |  FROM vq v JOIN cwdim c ON c.dim = v.dim
        |  WHERE v.vec_id < 8
        |  GROUP BY 1, 2, 3
        |), codepos AS (
        |  SELECT i.c_vec, i.list_id, g.s1 - 1 AS s, i.codes[g.s1] AS pos
        |  FROM read_parquet('/tmp/graft_ann_index/sf0.01_b400/index.parquet/v*/*.parquet') i,
        |    UNNEST(generate_series(1, len(i.codes))) AS g(s1)
        |), adc AS (
        |  SELECT qa.q_vec, cp.c_vec, cp.list_id,
        |    CAST(SUM(l.d) AS BIGINT) AS qdist_approx
        |  FROM codepos cp
        |  JOIN query_assign qa ON qa.list_id = cp.list_id
        |  JOIN lut l ON l.s = cp.s AND l.pos = cp.pos AND l.vec_id = qa.q_vec
        |  WHERE cp.c_vec <> qa.q_vec
        |  GROUP BY 1, 2, 3
        |), short AS (
        |  SELECT q_vec, c_vec, list_id FROM (
        |    SELECT q_vec, c_vec, list_id,
        |      row_number() OVER (PARTITION BY q_vec
        |        ORDER BY qdist_approx, c_vec) AS rank
        |    FROM adc) t WHERE rank <= 32
        |), rex AS (
        |  SELECT sh.q_vec, sh.c_vec, sh.list_id,
        |    CAST(SUM((a.qv - b.qv) * (a.qv - b.qv)) AS BIGINT) AS qdist_exact
        |  FROM short sh
        |  JOIN vq a ON a.vec_id = sh.q_vec
        |  JOIN vq b ON b.vec_id = sh.c_vec AND b.dim = a.dim
        |  GROUP BY 1, 2, 3
        |), ranked AS (
        |  SELECT q_vec, c_vec, list_id, qdist_exact,
        |    row_number() OVER (PARTITION BY q_vec
        |      ORDER BY qdist_exact, c_vec) AS rank
        |  FROM rex)
        |SELECT q_vec, rank, c_vec, qdist_exact, list_id FROM ranked
        |WHERE rank <= 3 ORDER BY q_vec, rank""".stripMargin,
    // Replay of the post-delete serving path from the SAME persisted
    // artifacts: identical to the x23/x29 replay except the code table
    // is anti-filtered by the tombstones.parquet side table before
    // probing — a tombstoned id must be unreachable however close it is.
    "x30_ann_index_delete" ->
      """WITH cent AS (
        |  SELECT centroid_id,
        |    list_transform(c_emb, v -> floor(CAST(v AS DOUBLE) * 1048576.0)) AS cq
        |  FROM read_parquet('/tmp/graft_ann_index/sf0.01_del/centroids.parquet/v*/*.parquet')
        |), qe AS (
        |  SELECT vec_id,
        |    list_transform(embedding, v -> floor(CAST(v AS DOUBLE) * 1048576.0)) AS q
        |  FROM embeddings WHERE vec_id < 8
        |), query_assign AS (
        |  SELECT q_vec, centroid_id AS list_id FROM (
        |    SELECT e.vec_id AS q_vec, c.centroid_id,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_dot_product(e.q, c.cq) /
        |          nullif(sqrt(list_dot_product(e.q, e.q)) * sqrt(list_dot_product(c.cq, c.cq)), 0)
        |          DESC, c.centroid_id) AS rk
        |    FROM qe e, cent c) t WHERE rk <= 2
        |), cb AS (
        |  SELECT qcw, row_number() OVER (ORDER BY cw_id) - 1 AS pos
        |  FROM read_parquet('/tmp/graft_ann_index/sf0.01_del/codebook.parquet/v*/*.parquet')
        |), cwdim AS (
        |  SELECT pos, g.i - 1 AS dim, qcw[g.i] AS qc
        |  FROM cb, UNNEST(generate_series(1, len(qcw))) AS g(i)
        |), vq AS (
        |  SELECT vec_id, len(embedding) // 8 AS sd, g.i - 1 AS dim,
        |    CAST(floor(CAST(embedding[g.i] AS DOUBLE) * 1048576.0) AS BIGINT) AS qv
        |  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS g(i)
        |  WHERE len(embedding) > 0 AND len(embedding) % 8 = 0
        |), lut AS (
        |  SELECT v.vec_id, c.pos, v.dim // v.sd AS s,
        |    CAST(SUM((qv - qc) * (qv - qc)) AS BIGINT) AS d
        |  FROM vq v JOIN cwdim c ON c.dim = v.dim
        |  WHERE v.vec_id < 8
        |  GROUP BY 1, 2, 3
        |), tomb AS (
        |  SELECT c_vec
        |  FROM read_parquet('/tmp/graft_ann_index/sf0.01_del/tombstones.parquet/v*/*.parquet')
        |), codepos AS (
        |  SELECT i.c_vec, i.list_id, g.s1 - 1 AS s, i.codes[g.s1] AS pos
        |  FROM read_parquet('/tmp/graft_ann_index/sf0.01_del/index.parquet/v*/*.parquet') i,
        |    UNNEST(generate_series(1, len(i.codes))) AS g(s1)
        |  WHERE i.c_vec NOT IN (SELECT c_vec FROM tomb)
        |), adc AS (
        |  SELECT qa.q_vec, cp.c_vec, cp.list_id,
        |    CAST(SUM(l.d) AS BIGINT) AS qdist_approx
        |  FROM codepos cp
        |  JOIN query_assign qa ON qa.list_id = cp.list_id
        |  JOIN lut l ON l.s = cp.s AND l.pos = cp.pos AND l.vec_id = qa.q_vec
        |  WHERE cp.c_vec <> qa.q_vec
        |  GROUP BY 1, 2, 3
        |), short AS (
        |  SELECT q_vec, c_vec, list_id FROM (
        |    SELECT q_vec, c_vec, list_id,
        |      row_number() OVER (PARTITION BY q_vec
        |        ORDER BY qdist_approx, c_vec) AS rank
        |    FROM adc) t WHERE rank <= 32
        |), rex AS (
        |  SELECT sh.q_vec, sh.c_vec, sh.list_id,
        |    CAST(SUM((a.qv - b.qv) * (a.qv - b.qv)) AS BIGINT) AS qdist_exact
        |  FROM short sh
        |  JOIN vq a ON a.vec_id = sh.q_vec
        |  JOIN vq b ON b.vec_id = sh.c_vec AND b.dim = a.dim
        |  GROUP BY 1, 2, 3
        |), ranked AS (
        |  SELECT q_vec, c_vec, list_id, qdist_exact,
        |    row_number() OVER (PARTITION BY q_vec
        |      ORDER BY qdist_exact, c_vec) AS rank
        |  FROM rex)
        |SELECT q_vec, rank, c_vec, qdist_exact, list_id FROM ranked
        |WHERE rank <= 3 ORDER BY q_vec, rank""".stripMargin,
    // SemDeDup replay: k-means assignment (the e4 pipeline), within-
    // cluster pairwise quantized cosine, drop-on-senior-twin decision.
    "sd2_semantic_dedup" ->
      """WITH terms AS (
        |  SELECT label, g.i - 1 AS dim,
        |    CAST(floor(CAST(embedding[g.i] AS DOUBLE) * 1048576.0) AS BIGINT) AS q
        |  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS g(i)
        |), cent AS (
        |  SELECT label, dim,
        |    CAST(floor(CAST(SUM(q) AS DOUBLE) / (COUNT(*) * 1048576.0)
        |      * 1048576.0) AS BIGINT) AS qc
        |  FROM terms GROUP BY 1, 2
        |), vq AS (
        |  SELECT vec_id, g.i - 1 AS dim,
        |    CAST(floor(CAST(embedding[g.i] AS DOUBLE) * 1048576.0) AS BIGINT) AS qv
        |  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS g(i)
        |), dists AS (
        |  SELECT v.vec_id, c.label,
        |    CAST(SUM((qv - qc) * (qv - qc)) AS BIGINT) AS qdist
        |  FROM vq v JOIN cent c ON c.dim = v.dim GROUP BY 1, 2
        |), assign AS (
        |  SELECT vec_id, label AS cluster FROM (
        |    SELECT vec_id, label, qdist,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY qdist, label) AS rn
        |    FROM dists) t WHERE rn = 1
        |), scored AS (
        |  SELECT pa.vec_id AS va, pb.vec_id AS vb,
        |    CAST(SUM(a.qv * b.qv) AS DOUBLE) AS dot,
        |    CAST(SUM(a.qv * a.qv) AS DOUBLE) AS nx,
        |    CAST(SUM(b.qv * b.qv) AS DOUBLE) AS ny
        |  FROM assign pa JOIN assign pb
        |    ON pa.cluster = pb.cluster AND pa.vec_id < pb.vec_id
        |  JOIN vq a ON a.vec_id = pa.vec_id
        |  JOIN vq b ON b.vec_id = pb.vec_id AND b.dim = a.dim
        |  GROUP BY 1, 2
        |), dups AS (
        |  SELECT DISTINCT vb FROM scored
        |  WHERE dot / nullif(sqrt(nx) * sqrt(ny), 0) >= 0.3
        |)
        |SELECT e.vec_id, a.cluster, (d.vb IS NULL) AS is_kept
        |FROM embeddings e
        |LEFT JOIN assign a ON a.vec_id = e.vec_id
        |LEFT JOIN dups d ON d.vb = e.vec_id
        |ORDER BY e.vec_id""".stripMargin,
    // sd2's replay with candidate pairs gated by a shared bucket in
    // ANY of the 4 LSH tables (x2's 16-plane family, t = p // 4)
    "sd3_semantic_dedup_lsh" ->
      """WITH terms AS (
        |  SELECT label, g.i - 1 AS dim,
        |    CAST(floor(CAST(embedding[g.i] AS DOUBLE) * 1048576.0) AS BIGINT) AS q
        |  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS g(i)
        |), cent AS (
        |  SELECT label, dim,
        |    CAST(floor(CAST(SUM(q) AS DOUBLE) / (COUNT(*) * 1048576.0)
        |      * 1048576.0) AS BIGINT) AS qc
        |  FROM terms GROUP BY 1, 2
        |), vq AS (
        |  SELECT vec_id, g.i - 1 AS dim,
        |    CAST(floor(CAST(embedding[g.i] AS DOUBLE) * 1048576.0) AS BIGINT) AS qv
        |  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS g(i)
        |), dists AS (
        |  SELECT v.vec_id, c.label,
        |    CAST(SUM((qv - qc) * (qv - qc)) AS BIGINT) AS qdist
        |  FROM vq v JOIN cent c ON c.dim = v.dim GROUP BY 1, 2
        |), assign AS (
        |  SELECT vec_id, label AS cluster FROM (
        |    SELECT vec_id, label, qdist,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY qdist, label) AS rn
        |    FROM dists) t WHERE rn = 1
        |), pw AS (
        |  SELECT p.p, d.d,
        |    ((CAST(1103515245 AS BIGINT) * (p.p * 64 + d.d) + 12345) % 2001 + 2001) % 2001 - 1000 AS w
        |  FROM UNNEST(generate_series(0, 15)) AS p(p), UNNEST(generate_series(0, 63)) AS d(d)
        |), bkts AS (
        |  SELECT vec_id, CAST(p // 4 AS INTEGER) AS t,
        |    CAST(SUM(CASE WHEN dot > 0 THEN (1 << (p % 4)) ELSE 0 END) AS BIGINT) AS b
        |  FROM (
        |    SELECT vq.vec_id, pw.p, SUM(vq.qv * pw.w) AS dot
        |    FROM vq JOIN pw ON pw.d = vq.dim
        |    GROUP BY 1, 2) t0
        |  GROUP BY 1, 2
        |), cand AS (
        |  SELECT DISTINCT pa.vec_id AS va, pb.vec_id AS vb
        |  FROM assign pa
        |  JOIN bkts ka ON ka.vec_id = pa.vec_id
        |  JOIN assign pb ON pa.cluster = pb.cluster AND pa.vec_id < pb.vec_id
        |  JOIN bkts kb ON kb.vec_id = pb.vec_id AND kb.t = ka.t AND kb.b = ka.b
        |), scored AS (
        |  SELECT c.va, c.vb,
        |    CAST(SUM(a.qv * b.qv) AS DOUBLE) AS dot,
        |    CAST(SUM(a.qv * a.qv) AS DOUBLE) AS nx,
        |    CAST(SUM(b.qv * b.qv) AS DOUBLE) AS ny
        |  FROM cand c
        |  JOIN vq a ON a.vec_id = c.va
        |  JOIN vq b ON b.vec_id = c.vb AND b.dim = a.dim
        |  GROUP BY 1, 2
        |), dups AS (
        |  SELECT DISTINCT vb FROM scored
        |  WHERE dot / nullif(sqrt(nx) * sqrt(ny), 0) >= 0.3
        |)
        |SELECT e.vec_id, a.cluster, (d.vb IS NULL) AS is_kept
        |FROM embeddings e
        |LEFT JOIN assign a ON a.vec_id = e.vec_id
        |LEFT JOIN dups d ON d.vb = e.vec_id
        |ORDER BY e.vec_id""".stripMargin,
    "d3_dedup_simhash" -> d3OracleSql,
    "d2_dedup_minhash" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, unnest(list_transform(
        |    generate_series(1, len(w) - 2),
        |    i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS s
        |  FROM toks WHERE len(w) >= 3
        |), hs AS (
        |  SELECT doc_id, CAST(g.i AS INTEGER) AS h_idx,
        |    ((g.i * 2 + 1) * 1103515245 % 2147483647
        |      * (('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647)
        |      + g.i) % 2147483647 AS h
        |  FROM sh, UNNEST(generate_series(0, 15)) AS g(i)
        |), sigs AS (
        |  SELECT doc_id, h_idx, min(h) AS min_hash FROM hs GROUP BY 1, 2
        |), bands AS (
        |  SELECT doc_id, CAST(h_idx // 4 AS INTEGER) AS band_idx,
        |    ('0x' || substr(md5(string_agg(min_hash::VARCHAR, ',' ORDER BY h_idx)), 1, 15))::BIGINT
        |      AS band_key
        |  FROM sigs GROUP BY doc_id, h_idx // 4
        |), sized AS (
        |  SELECT band_idx, band_key FROM bands GROUP BY 1, 2
        |  HAVING count(*) BETWEEN 2 AND 64
        |), cands AS (
        |  SELECT b1.doc_id, count(DISTINCT b2.doc_id) AS n_candidates
        |  FROM bands b1
        |  JOIN sized s ON s.band_idx = b1.band_idx AND s.band_key = b1.band_key
        |  JOIN bands b2 ON b2.band_idx = b1.band_idx AND b2.band_key = b1.band_key
        |  WHERE b2.doc_id <> b1.doc_id
        |  GROUP BY b1.doc_id
        |), per_sig AS (
        |  SELECT doc_id, count(*) AS n_hashes,
        |    min(min_hash) AS sig_min, max(min_hash) AS sig_max
        |  FROM sigs GROUP BY doc_id
        |)
        |SELECT p.doc_id, p.n_hashes, p.sig_min, p.sig_max,
        |  CAST(coalesce(c.n_candidates, 0) AS BIGINT) AS n_candidates
        |FROM per_sig p LEFT JOIN cands c USING (doc_id)
        |ORDER BY p.doc_id""".stripMargin,
    "m2_media_features" ->
      """WITH base AS (
        |  SELECT doc_id, text,
        |    CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes
        |  FROM documents
        |), bins AS (
        |  SELECT doc_id, ord(substr(text, CAST(g.i AS INTEGER), 1)) // 32 AS bin
        |  FROM base, UNNEST(generate_series(1, length(text))) AS g(i)
        |), hist AS (
        |  SELECT doc_id,
        |    count(*) FILTER (WHERE bin = 0) AS b0,
        |    count(*) FILTER (WHERE bin = 1) AS b1,
        |    count(*) FILTER (WHERE bin = 2) AS b2,
        |    count(*) FILTER (WHERE bin = 3) AS b3,
        |    count(*) FILTER (WHERE bin = 4) AS b4,
        |    count(*) FILTER (WHERE bin = 5) AS b5,
        |    count(*) FILTER (WHERE bin = 6) AS b6,
        |    count(*) FILTER (WHERE bin = 7) AS b7
        |  FROM bins GROUP BY doc_id
        |)
        |SELECT b.doc_id,
        |  CAST(64 + ord(substr(b.text, 1, 1)) % 64 AS INTEGER) AS width,
        |  CAST(64 + CASE WHEN length(b.text) > 1
        |    THEN ord(substr(b.text, 2, 1)) % 64 ELSE 0 END AS INTEGER) AS height,
        |  b.n_bytes,
        |  CAST(coalesce(h.b0, 0) AS BIGINT) AS b0,
        |  CAST(coalesce(h.b1, 0) AS BIGINT) AS b1,
        |  CAST(coalesce(h.b2, 0) AS BIGINT) AS b2,
        |  CAST(coalesce(h.b3, 0) AS BIGINT) AS b3,
        |  CAST(coalesce(h.b4, 0) AS BIGINT) AS b4,
        |  CAST(coalesce(h.b5, 0) AS BIGINT) AS b5,
        |  CAST(coalesce(h.b6, 0) AS BIGINT) AS b6,
        |  CAST(coalesce(h.b7, 0) AS BIGINT) AS b7
        |FROM base b LEFT JOIN hist h USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin,
    // the oracle recomputes every channel sum from the pixel formula
    // (bounded 24x14 grid + dimension mask — max w = 24, max h = 14);
    // it never decodes a PNG, so the Spark side's ImageIO round-trip
    // must reproduce the arithmetic exactly
    // arithmetic replay of the pixel formula: 4x4 integer-division
    // grid, cross-multiplied cell-vs-total luminance bits
    "m8_image_ahash" ->
      s"""WITH $ahashOracleCtes
         |SELECT doc_id, width, height, ahash FROM ah ORDER BY doc_id""".stripMargin,
    // perceptual dedup = d1's exact-dedup shape on the DECODED-image
    // fingerprint: group by (width, height, ahash), min doc_id keeps
    "mdd1_image_dedup" ->
      s"""WITH $ahashOracleCtes
         |SELECT width, height, ahash,
         |  CAST(COUNT(*) AS BIGINT) AS n_copies,
         |  MIN(doc_id) AS keep_doc_id
         |FROM ah GROUP BY 1, 2, 3
         |ORDER BY 1, 2, 3""".stripMargin,
    "m6_png_decode" ->
      """SELECT d.doc_id,
        |  CAST(8 + (d.doc_id % 5) * 4 AS INT) AS width,
        |  CAST(6 + (d.doc_id % 3) * 4 AS INT) AS height,
        |  CAST(SUM(CASE WHEN gx.x < 8 + (d.doc_id % 5) * 4
        |                 AND gy.y < 6 + (d.doc_id % 3) * 4
        |           THEN (d.doc_id * 31 + gx.x * 7 + gy.y * 13) % 256 END)
        |    AS BIGINT) AS sum_r,
        |  CAST(SUM(CASE WHEN gx.x < 8 + (d.doc_id % 5) * 4
        |                 AND gy.y < 6 + (d.doc_id % 3) * 4
        |           THEN (d.doc_id * 17 + gx.x * 11 + gy.y * 3) % 256 END)
        |    AS BIGINT) AS sum_g,
        |  CAST(SUM(CASE WHEN gx.x < 8 + (d.doc_id % 5) * 4
        |                 AND gy.y < 6 + (d.doc_id % 3) * 4
        |           THEN (d.doc_id * 29 + gx.x * 5 + gy.y * 19) % 256 END)
        |    AS BIGINT) AS sum_b
        |FROM documents d
        |CROSS JOIN generate_series(0, 23) AS gx(x)
        |CROSS JOIN generate_series(0, 13) AS gy(y)
        |WHERE d.doc_id % 10 = 0
        |GROUP BY d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // the oracle recomputes every sample statistic from the PCM formula
    // (bounded 2x160 grid + channel/frame masks — max 2 channels, max
    // 160 frames); it never parses a WAV, so the Spark side's
    // javax.sound round-trip must reproduce the arithmetic exactly
    "m7_wav_decode" ->
      """WITH s AS (
        |  SELECT d.doc_id,
        |    (d.doc_id * 37 + gc.c * 101 + gi.i * 17) % 4096 - 2048 AS v
        |  FROM documents d
        |  CROSS JOIN generate_series(0, 1) AS gc(c)
        |  CROSS JOIN generate_series(0, 159) AS gi(i)
        |  WHERE d.doc_id % 10 = 3
        |    AND gc.c < 1 + d.doc_id % 2
        |    AND gi.i < 64 + (d.doc_id % 7) * 16
        |)
        |SELECT doc_id,
        |  CAST(1 + doc_id % 2 AS INT) AS channels,
        |  CAST(64 + (doc_id % 7) * 16 AS BIGINT) AS n_frames,
        |  CAST(SUM(v) AS BIGINT) AS sum_samples,
        |  CAST(SUM(abs(v)) AS BIGINT) AS sum_abs,
        |  CAST(MAX(abs(v)) AS INT) AS peak,
        |  CAST(SUM(v * v) AS BIGINT) AS energy
        |FROM s
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,
    // arithmetic replay of the PCM formula: per-frame magnitudes,
    // 16 integer-division windows, cross-multiplied window bits
    "m12_wav_fingerprint" ->
      s"""WITH $wavFpOracleCtes
         |SELECT doc_id, channels, n_frames, afp FROM fp
         |ORDER BY doc_id""".stripMargin,
    // perceptual audio dedup = mdd1's shape on the audio fingerprint:
    // group by (channels, n_frames, afp), min doc_id keeps
    "mdd2_audio_dedup" ->
      s"""WITH $wavFpOracleCtes
         |SELECT channels, n_frames, afp,
         |  CAST(COUNT(*) AS BIGINT) AS n_copies,
         |  MIN(doc_id) AS keep_doc_id
         |FROM fp GROUP BY 1, 2, 3
         |ORDER BY 1, 2, 3""".stripMargin,
    // every per-frame statistic recomputed from the indexed-pixel
    // formula over a bounded (frame, x, y) grid with per-doc masks —
    // the oracle never parses a GIF; gray = 51 * palette index
    "m9_gif_frames" ->
      """WITH px AS (
        |  SELECT d.doc_id, gf.f,
        |    gy.y * (8 + (d.doc_id % 4) * 4) + gx.x + 1 AS pos,
        |    51 * ((d.doc_id * 31 + gf.f * 59 + gx.x * 7 + gy.y * 13) % 16) AS g,
        |    51 * ((d.doc_id * 31 + (gf.f - 1) * 59 + gx.x * 7 + gy.y * 13) % 16)
        |      AS gprev
        |  FROM documents d
        |  CROSS JOIN generate_series(0, 3) AS gf(f)
        |  CROSS JOIN generate_series(0, 19) AS gx(x)
        |  CROSS JOIN generate_series(0, 9) AS gy(y)
        |  WHERE d.doc_id % 10 = 6
        |    AND gf.f < 2 + d.doc_id % 3
        |    AND gx.x < 8 + (d.doc_id % 4) * 4
        |    AND gy.y < 6 + (d.doc_id % 2) * 4
        |)
        |SELECT doc_id, CAST(f AS INT) AS frame_idx,
        |  CAST(2 + doc_id % 3 AS INT) AS n_frames,
        |  CAST(SUM(g) AS BIGINT) AS gray_sum,
        |  CAST(SUM(g * pos) AS BIGINT) AS pos_checksum,
        |  CAST(SUM(CASE WHEN f = 0 THEN 0 ELSE abs(g - gprev) END) AS BIGINT)
        |    AS delta_prev
        |FROM px GROUP BY doc_id, f
        |ORDER BY doc_id, frame_idx""".stripMargin,
    // the oracle replays the per-block census from the block formula
    // (census = (d*5+bx*3+by*7)%16 + 1, bounded 4x3 block grid with
    // per-doc masks) — it never parses a JPEG, so the Spark side's
    // lossy ImageIO round-trip must land every 8x8 block mean within
    // +-7 of the encoded level 16k+8 (measured error 0.0)
    "m10_jpeg_census" ->
      """WITH blk AS (
        |  SELECT d.doc_id,
        |    2 + d.doc_id % 3 AS bw, 2 + d.doc_id % 2 AS bh,
        |    gx.bx, gy.by,
        |    (d.doc_id * 5 + gx.bx * 3 + gy.by * 7) % 16 + 1 AS census
        |  FROM documents d
        |  CROSS JOIN generate_series(0, 3) AS gx(bx)
        |  CROSS JOIN generate_series(0, 2) AS gy(by)
        |  WHERE d.doc_id % 10 = 9
        |    AND gx.bx < 2 + d.doc_id % 3
        |    AND gy.by < 2 + d.doc_id % 2
        |)
        |SELECT doc_id,
        |  CAST(MAX(bw) * 8 AS INT) AS width,
        |  CAST(MAX(bh) * 8 AS INT) AS height,
        |  CAST(MAX(bw) * MAX(bh) AS INT) AS n_blocks,
        |  CAST(SUM(census) AS BIGINT) AS sum_census,
        |  CAST(SUM(census * (by * bw + bx + 1)) AS BIGINT) AS pos_checksum
        |FROM blk GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the oracle replays the per-frame block census from the video
    // formula (census = (d*5+f*11+bx*3+by*7)%16 + 1, bounded 4-frame x
    // 4x3-block grid with per-doc masks) plus the inter-frame census
    // delta — it never parses an AVI or a JPEG, so the Spark side's
    // RIFF walk + per-frame lossy ImageIO round-trip must land every
    // 8x8 block mean within +-7 of the encoded level (measured 0.0)
    "m11_mjpeg_avi" ->
      """WITH blk AS (
        |  SELECT d.doc_id,
        |    2 + d.doc_id % 3 AS bw, 2 + d.doc_id % 2 AS bh,
        |    gf.f, gx.bx, gy.by,
        |    (d.doc_id * 5 + gf.f * 11 + gx.bx * 3 + gy.by * 7) % 16 + 1
        |      AS census,
        |    (d.doc_id * 5 + (gf.f - 1) * 11 + gx.bx * 3 + gy.by * 7) % 16 + 1
        |      AS cprev
        |  FROM documents d
        |  CROSS JOIN generate_series(0, 3) AS gf(f)
        |  CROSS JOIN generate_series(0, 3) AS gx(bx)
        |  CROSS JOIN generate_series(0, 2) AS gy(by)
        |  WHERE d.doc_id % 10 = 2
        |    AND gf.f < 2 + d.doc_id % 3
        |    AND gx.bx < 2 + d.doc_id % 3
        |    AND gy.by < 2 + d.doc_id % 2
        |)
        |SELECT doc_id, CAST(f AS INT) AS frame_idx,
        |  CAST(2 + doc_id % 3 AS INT) AS n_frames,
        |  CAST(MAX(bw) * 8 AS INT) AS width,
        |  CAST(MAX(bh) * 8 AS INT) AS height,
        |  CAST(SUM(census) AS BIGINT) AS sum_census,
        |  CAST(SUM(census * (by * bw + bx + 1)) AS BIGINT) AS pos_checksum,
        |  CAST(SUM(CASE WHEN f = 0 THEN 0 ELSE abs(census - cprev) END)
        |    AS BIGINT) AS delta_census
        |FROM blk GROUP BY doc_id, f
        |ORDER BY doc_id, frame_idx""".stripMargin,
    "d1_dedup_exact" ->
      """SELECT sha256(text) AS content_hash, MIN(doc_id) AS keep_doc_id,
        |  COUNT(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin,
    "d10_incremental_dedup" ->
      """WITH inc AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0
        |), corp AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 0
        |), corph AS (
        |  SELECT DISTINCT sha256(text) AS h FROM corp
        |), seniors AS (
        |  SELECT sha256(text) AS h, MIN(doc_id) AS senior FROM inc GROUP BY 1
        |), flagged AS (
        |  SELECT i.doc_id, i.text,
        |    (c.h IS NOT NULL OR i.doc_id <> s.senior) AS is_exact
        |  FROM inc i
        |  JOIN seniors s ON s.h = sha256(i.text)
        |  LEFT JOIN corph c ON c.h = sha256(i.text)
        |), surv AS (
        |  SELECT doc_id, text FROM flagged WHERE NOT is_exact
        |), stoks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w FROM surv
        |), ssh AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 2),
        |    i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS s
        |  FROM stoks WHERE len(w) >= 3
        |), shs AS (
        |  SELECT doc_id, CAST(g.i AS INTEGER) AS h_idx,
        |    ((g.i * 2 + 1) * 1103515245 % 2147483647
        |      * (('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647)
        |      + g.i) % 2147483647 AS h
        |  FROM ssh, UNNEST(generate_series(0, 15)) AS g(i)
        |), ssigs AS (
        |  SELECT doc_id, h_idx, min(h) AS min_hash FROM shs GROUP BY 1, 2
        |), sbands AS (
        |  SELECT doc_id, CAST(h_idx // 4 AS INTEGER) AS band_idx,
        |    ('0x' || substr(md5(string_agg(min_hash::VARCHAR, ',' ORDER BY h_idx)), 1, 15))::BIGINT
        |      AS band_key
        |  FROM ssigs GROUP BY doc_id, h_idx // 4
        |), ctoks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w FROM corp
        |), csh AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 2),
        |    i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS s
        |  FROM ctoks WHERE len(w) >= 3
        |), chs AS (
        |  SELECT doc_id, CAST(g.i AS INTEGER) AS h_idx,
        |    ((g.i * 2 + 1) * 1103515245 % 2147483647
        |      * (('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647)
        |      + g.i) % 2147483647 AS h
        |  FROM csh, UNNEST(generate_series(0, 15)) AS g(i)
        |), csigs AS (
        |  SELECT doc_id, h_idx, min(h) AS min_hash FROM chs GROUP BY 1, 2
        |), cbands AS (
        |  SELECT doc_id, CAST(h_idx // 4 AS INTEGER) AS band_idx,
        |    ('0x' || substr(md5(string_agg(min_hash::VARCHAR, ',' ORDER BY h_idx)), 1, 15))::BIGINT
        |      AS band_key
        |  FROM csigs GROUP BY doc_id, h_idx // 4
        |), ok AS (
        |  SELECT band_idx, band_key FROM cbands GROUP BY 1, 2 HAVING count(*) <= 64
        |), cand AS (
        |  SELECT DISTINCT s.doc_id, c.doc_id AS corpus_doc
        |  FROM sbands s
        |  JOIN ok z ON z.band_idx = s.band_idx AND z.band_key = s.band_key
        |  JOIN cbands c ON c.band_idx = s.band_idx AND c.band_key = s.band_key
        |), ssets AS (
        |  SELECT doc_id, list_distinct(list(s)) AS sh FROM ssh GROUP BY doc_id
        |), csets AS (
        |  SELECT doc_id, list_distinct(list(s)) AS sh FROM csh GROUP BY doc_id
        |), near AS (
        |  SELECT DISTINCT p.doc_id
        |  FROM cand p
        |  JOIN ssets a ON a.doc_id = p.doc_id
        |  JOIN csets b ON b.doc_id = p.corpus_doc
        |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.05
        |)
        |SELECT f.doc_id,
        |  CASE WHEN f.is_exact THEN 'exact_dup'
        |       WHEN n.doc_id IS NOT NULL THEN 'near_dup'
        |       ELSE 'new' END AS status
        |FROM flagged f LEFT JOIN near n ON n.doc_id = f.doc_id
        |ORDER BY f.doc_id""".stripMargin,
    "snm1_sorted_neighborhood" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, n_chars // 64 AS szb,
        |    substr(lower(trim(text)), 1, 32) AS skey,
        |    list_distinct(string_split_regex(lower(trim(text)), '\s+')) AS w
        |  FROM documents
        |), nb AS (
        |  SELECT doc_id, w,
        |    lead(doc_id, 1) OVER win AS n1_id, lead(w, 1) OVER win AS n1_w,
        |    lead(doc_id, 2) OVER win AS n2_id, lead(w, 2) OVER win AS n2_w
        |  FROM toks WINDOW win AS (PARTITION BY lang, szb ORDER BY skey, doc_id)
        |), pairs AS (
        |  SELECT doc_id AS doc_a, n1_id AS doc_b, w AS wa, n1_w AS wb
        |  FROM nb WHERE n1_id IS NOT NULL
        |  UNION ALL
        |  SELECT doc_id, n2_id, w, n2_w FROM nb WHERE n2_id IS NOT NULL
        |)
        |SELECT doc_a, doc_b,
        |  CAST(len(list_intersect(wa, wb)) AS BIGINT) AS n_shared,
        |  CAST(len(list_distinct(list_concat(wa, wb))) AS BIGINT) AS n_union,
        |  CAST(len(list_intersect(wa, wb)) AS BIGINT) * 1000000
        |    // nullif(CAST(len(list_distinct(list_concat(wa, wb))) AS BIGINT), 0)
        |    AS jaccard_ppm
        |FROM pairs ORDER BY doc_a, doc_b""".stripMargin,
    "d4_ngram_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM documents
        |), grams AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, len(w) - 1), i -> w[i] || ' ' || w[i + 1])) AS bg
        |  FROM toks WHERE len(w) >= 2
        |)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  len(list_intersect(a.bg, b.bg)) AS n_shared,
        |  CAST(len(list_intersect(a.bg, b.bg)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.bg, b.bg))) AS jaccard
        |FROM grams a JOIN grams b ON b.doc_id = a.doc_id + 1
        |ORDER BY doc_a""".stripMargin,
    // the same variant synthesis + canonicalization chain; DuckDB's
    // regexp_replace needs the explicit 'g' flag to match Spark's
    // replace-all default
    "d13_url_dedup" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 4 = 1 THEN 'HTTPS://WWW.Example.ORG'
        |          ELSE 'https://www.example.org' END)
        |    || '/docs/' || CAST(doc_id // 4 AS VARCHAR)
        |    || (CASE WHEN doc_id % 4 = 1 THEN '/' ELSE '' END)
        |    || (CASE WHEN doc_id % 4 = 2 THEN '?utm_source=feed&utm_medium=rss' ELSE '' END)
        |    || (CASE WHEN doc_id % 4 = 3 THEN '#section-2' ELSE '' END) AS url
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, url,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |      lower(url),
        |      '#.*$', '', 'g'),
        |      '[?&]utm_[a-z]+=[^&#]*', '', 'g'),
        |      '\?&', '?', 'g'),
        |      '^([^?&]*)&', '\1?', 'g'),
        |      '/$', '', 'g') AS canonical_url
        |  FROM u
        |)
        |SELECT canonical_url, CAST(COUNT(*) AS BIGINT) AS n_variants,
        |  CAST(COUNT(DISTINCT url) AS BIGINT) AS n_distinct_raw,
        |  MIN(doc_id) AS keep_doc_id
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    // the probe + rank-1 census replayed FROM THE PERSISTED train-side
    // index artifacts (x37's pattern applied to the flat-IVF tier):
    // DuckDB reads the same centroids.parquet and list_id-partitioned
    // lists.parquet the Spark side built once at write time, so the
    // clustered on-disk layout — not just the assignment math (x5's
    // oracle covers that) — is what the census is gated on. The literal
    // paths are Similarity.indexRoot("<sf0.01>") + "_scont"'s layout.
    "scont2_semantic_contamination_ivf" ->
      """WITH qe AS MATERIALIZED (
        |  SELECT vec_id,
        |    list_transform(embedding, v -> floor(CAST(v AS DOUBLE) * 1048576.0)) AS q
        |  FROM embeddings
        |), cent AS (
        |  SELECT centroid_id,
        |    list_transform(c_emb, v -> floor(CAST(v AS DOUBLE) * 1048576.0)) AS cq
        |  FROM read_parquet('/tmp/graft_ann_index/sf0.01_scont/centroids.parquet/v*/*.parquet')
        |), corpus_assign AS (
        |  SELECT c_vec, CAST(list_id AS BIGINT) AS list_id
        |  FROM read_parquet('/tmp/graft_ann_index/sf0.01_scont/lists.parquet/v*/*/*.parquet',
        |                    hive_partitioning = 1)
        |), query_assign AS (
        |  SELECT q_vec, centroid_id AS list_id FROM (
        |    SELECT e.vec_id AS q_vec, c.centroid_id,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_dot_product(e.q, c.cq) /
        |          nullif(sqrt(list_dot_product(e.q, e.q)) * sqrt(list_dot_product(c.cq, c.cq)), 0)
        |          DESC, c.centroid_id) AS rk
        |    FROM qe e, cent c
        |    WHERE e.vec_id % 5 = 0 AND e.vec_id < 2500) t WHERE rk <= 2
        |), scored AS (
        |  SELECT qa.q_vec, ca.c_vec,
        |    list_dot_product(eq.q, ec.q) /
        |      nullif(sqrt(list_dot_product(eq.q, eq.q)) * sqrt(list_dot_product(ec.q, ec.q)), 0)
        |      AS cosine
        |  FROM query_assign qa
        |  JOIN corpus_assign ca USING (list_id)
        |  JOIN qe eq ON eq.vec_id = qa.q_vec
        |  JOIN qe ec ON ec.vec_id = ca.c_vec
        |  WHERE ca.c_vec <> qa.q_vec
        |)
        |SELECT q_vec AS vec_id, c_vec AS nn_train, cosine,
        |  cosine >= 0.9 AS contaminated
        |FROM (
        |  SELECT q_vec, c_vec, cosine,
        |    row_number() OVER (PARTITION BY q_vec ORDER BY cosine DESC, c_vec) AS rank
        |  FROM scored) t
        |WHERE rank = 1 ORDER BY vec_id""".stripMargin,
    // eval x train exact-quantized-cosine argmax, replayed like x1
    "scont1_semantic_contamination" ->
      s"""WITH qe AS MATERIALIZED (
         |  SELECT vec_id,
         |    list_transform(embedding, v -> floor(CAST(v AS DOUBLE) * 1048576.0)) AS q
         |  FROM embeddings
         |)
         |SELECT vec_id, nn_train, cosine, cosine >= 0.9 AS contaminated FROM (
         |  SELECT a.vec_id, b.vec_id AS nn_train, ${qcosSql("a", "b")} AS cosine,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY ${qcosSql("a", "b")} DESC, b.vec_id) AS rn
         |  FROM qe a, qe b
         |  WHERE a.vec_id % 5 = 0 AND a.vec_id < 2500 AND b.vec_id % 5 <> 0) t
         |WHERE rn = 1
         |ORDER BY vec_id""".stripMargin,
    // Cosine terms are quantized to integers by an exact 2^20 scale on both
    // sides, so the accumulations are integer-exact and engine-portable.
    "d5_cosine_neardup" ->
      """WITH pairs AS (
        |  SELECT a.vec_id AS va, b.vec_id AS vb, a.embedding AS ea, b.embedding AS eb
        |  FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
        |), terms AS (
        |  SELECT va, vb,
        |    CAST(floor(CAST(ea[g.i] AS DOUBLE) * 1048576.0) AS BIGINT) AS x,
        |    CAST(floor(CAST(eb[g.i] AS DOUBLE) * 1048576.0) AS BIGINT) AS y
        |  FROM pairs, UNNEST(generate_series(1, len(ea))) AS g(i)
        |), agg AS (
        |  SELECT va, vb,
        |    CAST(SUM(x * y) AS DOUBLE) AS dot,
        |    CAST(SUM(x * x) AS DOUBLE) AS nx,
        |    CAST(SUM(y * y) AS DOUBLE) AS ny
        |  FROM terms GROUP BY 1, 2
        |)
        |SELECT va AS vec_a, vb AS vec_b, dot / nullif(sqrt(nx) * sqrt(ny), 0) AS cosine
        |FROM agg ORDER BY vec_a""".stripMargin,
    "x1_ann_bruteforce" ->
      """WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8),
        |pairs AS (
        |  SELECT q.vec_id AS qv, c.vec_id AS cv, q.embedding AS eq, c.embedding AS ec
        |  FROM q, embeddings c WHERE c.vec_id != q.vec_id
        |), terms AS (
        |  SELECT qv, cv,
        |    CAST(floor(CAST(eq[g.i] AS DOUBLE) * 1048576.0) AS BIGINT) AS x,
        |    CAST(floor(CAST(ec[g.i] AS DOUBLE) * 1048576.0) AS BIGINT) AS y
        |  FROM pairs, UNNEST(generate_series(1, len(eq))) AS g(i)
        |), agg AS (
        |  SELECT qv, cv,
        |    CAST(SUM(x * y) AS DOUBLE) AS dot,
        |    CAST(SUM(x * x) AS DOUBLE) AS nx,
        |    CAST(SUM(y * y) AS DOUBLE) AS ny
        |  FROM terms GROUP BY 1, 2
        |), scored AS (
        |  SELECT qv AS q_vec, cv AS c_vec,
        |    dot / nullif(sqrt(nx) * sqrt(ny), 0) AS cosine,
        |    ROW_NUMBER() OVER (PARTITION BY qv
        |      ORDER BY dot / nullif(sqrt(nx) * sqrt(ny), 0) DESC, cv) AS rank
        |  FROM agg
        |)
        |SELECT q_vec, rank, c_vec, cosine FROM scored
        |WHERE rank <= 5 ORDER BY q_vec, rank""".stripMargin,
    // x1's oracle with the label predicate joined into candidate
    // generation — identical quantized-cosine arithmetic
    "x32_filtered_ann" ->
      """WITH q AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id < 8),
        |pairs AS (
        |  SELECT q.vec_id AS qv, c.vec_id AS cv, q.embedding AS eq, c.embedding AS ec
        |  FROM q, embeddings c
        |  WHERE c.vec_id != q.vec_id AND c.label = q.label
        |), terms AS (
        |  SELECT qv, cv,
        |    CAST(floor(CAST(eq[g.i] AS DOUBLE) * 1048576.0) AS BIGINT) AS x,
        |    CAST(floor(CAST(ec[g.i] AS DOUBLE) * 1048576.0) AS BIGINT) AS y
        |  FROM pairs, UNNEST(generate_series(1, len(eq))) AS g(i)
        |), agg AS (
        |  SELECT qv, cv,
        |    CAST(SUM(x * y) AS DOUBLE) AS dot,
        |    CAST(SUM(x * x) AS DOUBLE) AS nx,
        |    CAST(SUM(y * y) AS DOUBLE) AS ny
        |  FROM terms GROUP BY 1, 2
        |), scored AS (
        |  SELECT qv AS q_vec, cv AS c_vec,
        |    dot / nullif(sqrt(nx) * sqrt(ny), 0) AS cosine,
        |    ROW_NUMBER() OVER (PARTITION BY qv
        |      ORDER BY dot / nullif(sqrt(nx) * sqrt(ny), 0) DESC, cv) AS rank
        |  FROM agg
        |)
        |SELECT q_vec, rank, c_vec, cosine FROM scored
        |WHERE rank <= 5 ORDER BY q_vec, rank""".stripMargin,
    "t1_token_counts" ->
      """SELECT doc_id,
        |  len(string_split_regex(lower(trim(text)), '\s+')) AS n_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_subtokens,
        |  length(text) AS n_chars_measured
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t2_quality_scores" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |    string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM documents
        |)
        |SELECT doc_id, length(text) AS n_chars_measured,
        |  CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
        |    / nullif(length(text), 0) AS punct_ratio,
        |  CAST(len(list_filter(w, x -> x = 'the' OR x = 'and' OR x = 'of'
        |    OR x = 'to' OR x = 'in')) AS DOUBLE)
        |    / nullif(len(w), 0) AS stopword_ratio,
        |  CAST(length(text) AS DOUBLE) / nullif(len(w), 0) AS avg_token_len
        |FROM t ORDER BY doc_id""".stripMargin,
    "t3_language_id" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM documents
        |), h AS (
        |  SELECT doc_id, lang AS lang_declared,
        |    len(list_filter(w, x -> x = 'the' OR x = 'and' OR x = 'of'
        |      OR x = 'to' OR x = 'in')) AS hits_en,
        |    len(list_filter(w, x -> x = 'der' OR x = 'die' OR x = 'und'
        |      OR x = 'ist' OR x = 'das')) AS hits_de,
        |    len(list_filter(w, x -> x = 'le' OR x = 'les' OR x = 'et'
        |      OR x = 'est' OR x = 'une')) AS hits_fr,
        |    len(list_filter(w, x -> x = 'el' OR x = 'los' OR x = 'y'
        |      OR x = 'es' OR x = 'una')) AS hits_es
        |  FROM t
        |)
        |SELECT doc_id, lang_declared, hits_en, hits_de, hits_fr, hits_es,
        |  CASE
        |    WHEN hits_en >= hits_de AND hits_en >= hits_fr AND hits_en >= hits_es THEN 'en'
        |    WHEN hits_de >= hits_fr AND hits_de >= hits_es THEN 'de'
        |    WHEN hits_fr >= hits_es THEN 'fr'
        |    ELSE 'es' END AS lang_predicted
        |FROM h ORDER BY doc_id""".stripMargin,
    "t4_fingerprint" ->
      """SELECT doc_id, list_reduce(
        |  list_prepend(0, list_transform(
        |    string_split_regex(lower(trim(text)), '\s+'),
        |    w -> length(w) * 31 + ascii(substr(w, 1, 1)))),
        |  (a, b) -> (a * 31 + b) % 1000000007) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t5_term_stats" ->
      """WITH terms AS (
        |  SELECT doc_id, u.term
        |  FROM documents,
        |    UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS u(term)
        |), tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2
        |), df AS (
        |  SELECT term, COUNT(DISTINCT doc_id) AS df FROM terms GROUP BY 1
        |), n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents)
        |SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |  (tf.tf * (n.n_docs + 1)) / (df.df + 1) AS tfidf_rational
        |FROM tf JOIN df USING (term) CROSS JOIN n
        |ORDER BY tf.doc_id, tf.term""".stripMargin,
    "t10_bigram_fluency" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM documents
        |), bg AS (
        |  SELECT doc_id, w[g.i] || ' ' || w[g.i + 1] AS b
        |  FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS g(i)
        |), cf AS (
        |  SELECT b, COUNT(*) AS c FROM bg GROUP BY 1
        |)
        |SELECT doc_id, COUNT(*) AS n_bigrams, CAST(SUM(c) AS BIGINT) AS sum_cf,
        |  CAST(SUM(c) AS DOUBLE) / COUNT(*) AS fluency
        |FROM bg JOIN cf USING (b)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "t8_vocab" ->
      """WITH toks AS (
        |  SELECT u.w AS token FROM (
        |    SELECT string_split_regex(lower(trim(text)), '\s+') AS ws
        |    FROM documents
        |  ), UNNEST(ws) AS u(w) WHERE u.w <> ''
        |)
        |SELECT token, COUNT(*) AS n_occurrences FROM toks GROUP BY 1
        |ORDER BY n_occurrences DESC, token LIMIT 500""".stripMargin,
    "t9_len_histogram" ->
      """SELECT CAST(floor(n_chars / 100) * 100 AS BIGINT) AS bucket_lo,
        |  COUNT(*) AS n_docs
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "m1_media_meta" ->
      """SELECT doc_id, 'text/plain' AS media_type,
        |  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |  md5(text) AS digest
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x4_salted_agg" ->
      """SELECT l_returnflag, SUM(l_quantity) AS total, COUNT(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "st1_stream_daily" ->
      """SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(20,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "x7_upsert" ->
      """WITH current AS (
        |  SELECT c_custkey, c_name, c_acctbal FROM customer
        |), updates AS (
        |  SELECT c_custkey, c_name, 0.0 AS c_acctbal FROM customer WHERE c_acctbal < 0
        |  UNION ALL SELECT (SELECT max(c_custkey) + 1 FROM customer),
        |    'Customer#new', 1.5
        |)
        |SELECT coalesce(u.c_custkey, c.c_custkey) AS c_custkey,
        |  coalesce(u.c_name, c.c_name) AS c_name,
        |  coalesce(u.c_acctbal, c.c_acctbal) AS c_acctbal
        |FROM current c FULL OUTER JOIN updates u ON c.c_custkey = u.c_custkey
        |ORDER BY c_custkey""".stripMargin,
    // x1's quantized-cosine CTEs with the e3 int8 mapping alongside;
    // per-anchor top-5 overlap, absent anchors emit 0
    "e8_int8_recall" ->
      """WITH q AS (
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 4
        |), pairs AS (
        |  SELECT q.vec_id AS qv, c.vec_id AS cv,
        |    q.embedding AS eq, c.embedding AS ec
        |  FROM q, embeddings c WHERE c.vec_id != q.vec_id
        |), terms AS (
        |  SELECT qv, cv,
        |    CAST(floor(CAST(eq[g.i] AS DOUBLE) * 1048576.0) AS BIGINT) AS xf,
        |    CAST(floor(CAST(ec[g.i] AS DOUBLE) * 1048576.0) AS BIGINT) AS yf,
        |    GREATEST(-127, LEAST(127,
        |      CAST(floor(CAST(eq[g.i] AS DOUBLE) * 127.0) AS BIGINT))) AS x8,
        |    GREATEST(-127, LEAST(127,
        |      CAST(floor(CAST(ec[g.i] AS DOUBLE) * 127.0) AS BIGINT))) AS y8
        |  FROM pairs, UNNEST(generate_series(1, len(eq))) AS g(i)
        |), agg AS (
        |  SELECT qv, cv,
        |    CAST(SUM(xf * yf) AS DOUBLE) AS dotf,
        |    CAST(SUM(xf * xf) AS DOUBLE) AS nxf,
        |    CAST(SUM(yf * yf) AS DOUBLE) AS nyf,
        |    CAST(SUM(x8 * y8) AS DOUBLE) AS dot8,
        |    CAST(SUM(x8 * x8) AS DOUBLE) AS nx8,
        |    CAST(SUM(y8 * y8) AS DOUBLE) AS ny8
        |  FROM terms GROUP BY 1, 2
        |), rf AS (
        |  SELECT qv, cv, ROW_NUMBER() OVER (PARTITION BY qv
        |    ORDER BY dotf / nullif(sqrt(nxf) * sqrt(nyf), 0) DESC, cv) AS r
        |  FROM agg
        |), r8 AS (
        |  SELECT qv, cv, ROW_NUMBER() OVER (PARTITION BY qv
        |    ORDER BY dot8 / (sqrt(nx8) * sqrt(ny8)) DESC, cv) AS r
        |  FROM agg
        |), ov AS (
        |  SELECT f.qv, COUNT(*) AS n
        |  FROM rf f JOIN r8 e ON e.qv = f.qv AND e.cv = f.cv AND e.r <= 5
        |  WHERE f.r <= 5 GROUP BY 1
        |)
        |SELECT q.vec_id AS q_vec, CAST(COALESCE(ov.n, 0) AS BIGINT)
        |  AS overlap_at_5
        |FROM q LEFT JOIN ov ON ov.qv = q.vec_id
        |ORDER BY q_vec""".stripMargin,
    "x11_scd2" ->
      """SELECT user_id,
        |  CAST(ROW_NUMBER() OVER w AS INT) AS version, event_id, value,
        |  date_trunc('second', ts) AS effective_from,
        |  date_trunc('second', LEAD(ts, 1) OVER w) AS effective_to,
        |  CAST(LEAD(ts, 1) OVER w IS NULL AS INT) AS is_current
        |FROM events WHERE event_type = 'signup'
        |WINDOW w AS (PARTITION BY user_id
        |  ORDER BY date_trunc('second', ts), event_id)
        |ORDER BY user_id, version""".stripMargin,
    // x11's history rebuilt, then the partition-of-time audit; a
    // correct history pins every violation count to a literal zero
    "scd3_history_integrity" ->
      """WITH hist AS (
        |  SELECT user_id,
        |    CAST(ROW_NUMBER() OVER w AS INT) AS version,
        |    date_trunc('second', ts) AS effective_from,
        |    date_trunc('second', LEAD(ts, 1) OVER w) AS effective_to,
        |    CAST(LEAD(ts, 1) OVER w IS NULL AS INT) AS is_current
        |  FROM events WHERE event_type = 'signup'
        |  WINDOW w AS (PARTITION BY user_id
        |    ORDER BY date_trunc('second', ts), event_id)
        |), lagged AS (
        |  SELECT *, LAG(effective_to, 1) OVER (PARTITION BY user_id
        |    ORDER BY version) AS prev_to
        |  FROM hist
        |)
        |SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_keys,
        |  COUNT(*) AS n_versions,
        |  CAST(count_if(version > 1 AND effective_from <> prev_to)
        |    AS BIGINT) AS n_seam_breaks,
        |  CAST(count_if(effective_to IS NOT NULL
        |    AND effective_to <= effective_from) AS BIGINT) AS n_inverted,
        |  CAST(count_if(is_current = 1 AND effective_to IS NOT NULL)
        |    AS BIGINT) AS n_closed_current,
        |  count_if(effective_to IS NULL) = COUNT(DISTINCT user_id)
        |    AS one_current_per_key
        |FROM lagged""".stripMargin,
    // NOT EXISTS over the same interval containment x8 joins on
    "j11_interval_anti" ->
      """WITH iv AS (
        |  SELECT range AS interval_id,
        |    1704067200 + range * 129600 AS s,
        |    1704067200 + range * 129600 + 43200 AS e
        |  FROM range(20)
        |)
        |SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
        |  COUNT(*) AS n_uncovered
        |FROM events ev
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM iv
        |  WHERE epoch_ns(ev.ts) // 1000000000 >= iv.s
        |    AND epoch_ns(ev.ts) // 1000000000 < iv.e)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "x8_range_join" ->
      """WITH iv AS (
        |  SELECT range AS interval_id,
        |    1704067200 + range * 129600 AS s,
        |    1704067200 + range * 129600 + 43200 AS e
        |  FROM range(20)
        |)
        |SELECT ev.event_id, iv.interval_id
        |FROM events ev JOIN iv
        |  ON epoch_ns(ev.ts) // 1000000000 >= iv.s
        | AND epoch_ns(ev.ts) // 1000000000 < iv.e
        |ORDER BY ev.event_id, iv.interval_id""".stripMargin,
    "j14_relational_division" ->
      """WITH target AS (
        |  SELECT p_partkey FROM part WHERE p_size = 50
        |), nt AS (SELECT COUNT(*) AS n_target FROM target),
        |cov AS (
        |  SELECT l_suppkey AS s_suppkey, COUNT(*) AS n_covered FROM (
        |    SELECT DISTINCT l_suppkey, l_partkey FROM lineitem
        |  ) sp JOIN target t ON sp.l_partkey = t.p_partkey
        |  GROUP BY 1
        |)
        |SELECT s.s_suppkey,
        |  CAST(COALESCE(cov.n_covered, 0) AS BIGINT) AS n_covered,
        |  nt.n_target,
        |  COALESCE(cov.n_covered, 0) = nt.n_target AS full_coverage
        |FROM supplier s LEFT JOIN cov ON cov.s_suppkey = s.s_suppkey
        |CROSS JOIN nt
        |ORDER BY s.s_suppkey""".stripMargin,
    "fd1_functional_dependencies" ->
      """WITH f1 AS (
        |  SELECT 'o_orderkey->o_custkey' AS fd, COUNT(*) AS n_lhs,
        |    CAST(count_if(k > 1) AS BIGINT) AS n_violating
        |  FROM (SELECT o_orderkey, COUNT(DISTINCT o_custkey) AS k
        |        FROM orders GROUP BY 1)
        |), f2 AS (
        |  SELECT 'o_custkey->o_orderpriority' AS fd, COUNT(*) AS n_lhs,
        |    CAST(count_if(k > 1) AS BIGINT) AS n_violating
        |  FROM (SELECT o_custkey, COUNT(DISTINCT o_orderpriority) AS k
        |        FROM orders GROUP BY 1)
        |), f3 AS (
        |  SELECT 'l_orderkey->l_returnflag' AS fd, COUNT(*) AS n_lhs,
        |    CAST(count_if(k > 1) AS BIGINT) AS n_violating
        |  FROM (SELECT l_orderkey, COUNT(DISTINCT l_returnflag) AS k
        |        FROM lineitem GROUP BY 1)
        |), f4 AS (
        |  SELECT 'l_partkey->l_suppkey' AS fd, COUNT(*) AS n_lhs,
        |    CAST(count_if(k > 1) AS BIGINT) AS n_violating
        |  FROM (SELECT l_partkey, COUNT(DISTINCT l_suppkey) AS k
        |        FROM lineitem GROUP BY 1)
        |), u AS (
        |  SELECT * FROM f1 UNION ALL SELECT * FROM f2
        |  UNION ALL SELECT * FROM f3 UNION ALL SELECT * FROM f4
        |)
        |SELECT fd, n_lhs, n_violating, n_violating = 0 AS holds
        |FROM u ORDER BY fd""".stripMargin,
    // naive inequality join — the bucketed candidates must reproduce it
    "j12_band_join" ->
      """WITH o AS (
        |  SELECT o_orderkey AS okey, o_orderpriority AS prio,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders
        |)
        |SELECT a.prio, COUNT(*) AS n_pairs,
        |  COUNT(*) FILTER (WHERE a.cents = b.cents) AS n_exact,
        |  CAST(MIN(abs(a.cents - b.cents)) AS BIGINT) AS min_diff,
        |  CAST(SUM(abs(a.cents - b.cents)) AS BIGINT) AS diff_mass
        |FROM o a JOIN o b ON a.prio = b.prio AND a.okey < b.okey
        |  AND abs(a.cents - b.cents) <= 100
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // portable bottom-k sample; order statistics; merged row re-sketches
    // from the per-priority bottom-k union — must equal direct exactly
    "qsk1_sample_quantiles" ->
      """WITH o AS (
        |  SELECT o_orderpriority AS prio,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    ('0x' || substr(md5('qsk:' || o_orderkey), 1, 15))::BIGINT AS h
        |  FROM orders
        |), direct AS (SELECT cents, h FROM o ORDER BY h, cents LIMIT 256),
        |per AS (
        |  SELECT cents, h FROM (
        |    SELECT cents, h,
        |      ROW_NUMBER() OVER (PARTITION BY prio ORDER BY h, cents) AS rn
        |    FROM o)
        |  WHERE rn <= 256
        |), merged AS (SELECT cents, h FROM per ORDER BY h, cents LIMIT 256),
        |dr AS (
        |  SELECT cents, ROW_NUMBER() OVER (ORDER BY cents, h) AS rk,
        |    COUNT(*) OVER () AS kk FROM direct
        |), mr AS (
        |  SELECT cents, ROW_NUMBER() OVER (ORDER BY cents, h) AS rk,
        |    COUNT(*) OVER () AS kk FROM merged
        |)
        |SELECT 'direct' AS path, MAX(kk) AS k_sample,
        |  MAX(CASE WHEN rk = CAST(ceil(kk * 0.25) AS BIGINT) THEN cents END) AS p25_est,
        |  MAX(CASE WHEN rk = CAST(ceil(kk * 0.5) AS BIGINT) THEN cents END) AS p50_est,
        |  MAX(CASE WHEN rk = CAST(ceil(kk * 0.75) AS BIGINT) THEN cents END) AS p75_est,
        |  MAX(CASE WHEN rk = CAST(ceil(kk * 0.9) AS BIGINT) THEN cents END) AS p90_est
        |FROM dr
        |UNION ALL
        |SELECT 'merged' AS path, MAX(kk) AS k_sample,
        |  MAX(CASE WHEN rk = CAST(ceil(kk * 0.25) AS BIGINT) THEN cents END) AS p25_est,
        |  MAX(CASE WHEN rk = CAST(ceil(kk * 0.5) AS BIGINT) THEN cents END) AS p50_est,
        |  MAX(CASE WHEN rk = CAST(ceil(kk * 0.75) AS BIGINT) THEN cents END) AS p75_est,
        |  MAX(CASE WHEN rk = CAST(ceil(kk * 0.9) AS BIGINT) THEN cents END) AS p90_est
        |FROM mr
        |ORDER BY path""".stripMargin,
    "dimv1_dimension_variance" ->
      """WITH t AS (
        |  SELECT g.i - 1 AS dim,
        |    CAST(floor(CAST(embedding[g.i] AS DOUBLE) * 1048576.0)
        |      AS BIGINT) AS q
        |  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS g(i)
        |), m AS (
        |  SELECT dim, COUNT(*) AS n, CAST(SUM(q) AS BIGINT) AS s,
        |    CAST(SUM(q * q) AS BIGINT) AS sq
        |  FROM t GROUP BY 1
        |)
        |SELECT dim, n, s, sq,
        |  (CAST(sq AS DOUBLE)
        |    - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * 1099511627776.0) AS variance
        |FROM m ORDER BY dim""".stripMargin,

    "x12_interval_overlap" ->
      """WITH promos AS (
        |  SELECT range AS promo_id,
        |    1704067200 + range * 21600 AS p_start,
        |    1704067200 + range * 21600 + 28800 AS p_end
        |  FROM range(40)
        |), maint AS (
        |  SELECT range AS maint_id,
        |    1704067200 + range * 43200 + 7200 AS m_start,
        |    1704067200 + range * 43200 + 21600 AS m_end
        |  FROM range(20)
        |)
        |SELECT promo_id, maint_id
        |FROM promos JOIN maint
        |  ON GREATEST(p_start, m_start) < LEAST(p_end, m_end)
        |ORDER BY promo_id, maint_id""".stripMargin,
    "x6_asof_join" ->
      """SELECT c.user_id, c.event_id,
        |  date_trunc('second', c.ts) AS click_ts,
        |  s.event_id AS signup_event_id
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |ASOF JOIN (SELECT * FROM events WHERE event_type = 'signup') s
        |  ON c.user_id = s.user_id AND c.ts >= s.ts
        |ORDER BY c.user_id, c.event_id""".stripMargin,
    "st3_stream_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,
    "st4_stream_static_join" ->
      """SELECT d.cohort, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(e.value AS DECIMAL(20,4))) AS DOUBLE) AS sum_value
        |FROM events e
        |JOIN (SELECT range AS user_id, range % 5 AS cohort FROM range(100)) d
        |  ON e.user_id = d.user_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "st6_session_window" ->
      """WITH flagged AS (
        |  SELECT user_id, date_trunc('second', ts) AS tss, event_id,
        |    CASE WHEN lag(date_trunc('second', ts)) OVER w IS NULL
        |      OR epoch(date_trunc('second', ts))
        |         - epoch(lag(date_trunc('second', ts)) OVER w) > 1800
        |      THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY date_trunc('second', ts), event_id)
        |), numbered AS (
        |  SELECT user_id, tss,
        |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY tss, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged
        |)
        |SELECT user_id, MIN(tss) AS session_start,
        |  MAX(tss) + INTERVAL 30 MINUTE AS session_end,
        |  COUNT(*) AS n_events
        |FROM numbered GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,
    "st18_dynamic_gap_sessions" ->
      """WITH ev AS (
        |  SELECT user_id, date_trunc('second', ts) AS tss, event_id,
        |    CASE WHEN event_type = 'purchase' THEN 3600 ELSE 1800 END AS gap
        |  FROM events
        |), flagged AS (
        |  SELECT user_id, tss, event_id, gap,
        |    CASE WHEN max(CAST(epoch(tss) AS BIGINT) + gap) OVER wprev IS NULL
        |      OR CAST(epoch(tss) AS BIGINT)
        |         > max(CAST(epoch(tss) AS BIGINT) + gap) OVER wprev
        |      THEN 1 ELSE 0 END AS is_new
        |  FROM ev
        |  WINDOW wprev AS (PARTITION BY user_id ORDER BY tss, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |), numbered AS (
        |  SELECT user_id, tss, gap,
        |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY tss, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged
        |)
        |SELECT user_id, MIN(tss) AS session_start,
        |  MAX(tss + gap * INTERVAL 1 SECOND) AS session_end,
        |  COUNT(*) AS n_events
        |FROM numbered GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,
    "st2_stream_sessions" ->
      """WITH flagged AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_ns(ts) - epoch_ns(lag(ts) OVER w) > 1800000000000
        |      THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |)
        |SELECT user_id, CAST(SUM(is_new) AS BIGINT) AS n_sessions,
        |  COUNT(*) AS n_events,
        |  date_trunc('millisecond', MAX(ts)) AS last_event_at
        |FROM flagged GROUP BY 1 ORDER BY user_id""".stripMargin,
    "w2_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_ns(ts) - epoch_ns(lag(ts) OVER w) > 1800000000000
        |      THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), numbered AS (
        |  SELECT user_id, ts, is_new,
        |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
        |  FROM flagged
        |)
        |SELECT user_id, session_idx, COUNT(*) AS n_events,
        |  date_trunc('second', MIN(ts)) AS session_start,
        |  (MAX(epoch_ns(ts)) - MIN(epoch_ns(ts))) // 1000000000 AS duration_sec
        |FROM numbered GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "d6_dedup_clusters" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM documents
        |), grams AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, len(w) - 1), i -> w[i] || ' ' || w[i + 1])) AS bg
        |  FROM toks WHERE len(w) >= 2
        |), e0 AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM grams a JOIN grams b ON b.doc_id = a.doc_id + 1
        |  WHERE CAST(len(list_intersect(a.bg, b.bg)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.bg, b.bg))) >= 0.05
        |), edges AS (
        |  SELECT a AS src, b AS dst FROM e0
        |  UNION ALL SELECT b, a FROM e0
        |), reach AS (
        |  SELECT doc_id AS node, doc_id AS root FROM documents
        |  UNION
        |  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node
        |)
        |SELECT node AS doc_id, MIN(root) AS cluster_id,
        |  CAST(node = MIN(root) AS INT) AS is_kept
        |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin,
    // d6's CC chain + per-cluster quality rank (most words, then id)
    "d12_quality_canonical" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM documents
        |), grams AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, len(w) - 1), i -> w[i] || ' ' || w[i + 1])) AS bg
        |  FROM toks WHERE len(w) >= 2
        |), e0 AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM grams a JOIN grams b ON b.doc_id = a.doc_id + 1
        |  WHERE CAST(len(list_intersect(a.bg, b.bg)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.bg, b.bg))) >= 0.05
        |), edges AS (
        |  SELECT a AS src, b AS dst FROM e0
        |  UNION ALL SELECT b, a FROM e0
        |), reach AS (
        |  SELECT doc_id AS node, doc_id AS root FROM documents
        |  UNION
        |  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node
        |), cl AS (
        |  SELECT node AS doc_id, MIN(root) AS cluster_id FROM reach GROUP BY node
        |), nw AS (
        |  SELECT doc_id, CAST(len(list_filter(w, t -> t <> '')) AS BIGINT)
        |    AS n_words
        |  FROM toks
        |), rk AS (
        |  SELECT cl.cluster_id, cl.doc_id, nw.n_words,
        |    ROW_NUMBER() OVER (PARTITION BY cl.cluster_id
        |      ORDER BY nw.n_words DESC, cl.doc_id) AS rk
        |  FROM cl JOIN nw USING (doc_id)
        |)
        |SELECT cluster_id, COUNT(*) AS n_members,
        |  CAST(MAX(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT) AS kept_doc,
        |  CAST(MAX(CASE WHEN rk = 1 THEN n_words END) AS BIGINT)
        |    AS kept_n_words,
        |  CAST(SUM(n_words) AS BIGINT) AS cluster_words,
        |  CAST(SUM(n_words) - MAX(CASE WHEN rk = 1 THEN n_words END)
        |    AS BIGINT) AS words_dropped
        |FROM rk GROUP BY 1 ORDER BY 1""".stripMargin,
    "t6_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, u.w FROM (
        |    SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
        |    FROM documents
        |  ), UNNEST(ws) AS u(w) WHERE u.w <> ''
        |), tf AS (
        |  SELECT doc_id, w, COUNT(*) AS cnt FROM toks GROUP BY 1, 2
        |)
        |SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens, COUNT(*) AS n_distinct,
        |  CAST(MAX(cnt) AS DOUBLE) / nullif(SUM(cnt), 0) AS top_token_ratio,
        |  CAST(COUNT(*) AS DOUBLE) / nullif(SUM(cnt), 0) AS type_token_ratio
        |FROM tf GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "t7_pii_scrub" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(text, '[0-9]{7,}')) AS n_long_numbers,
        |  md5(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '[0-9]{7,}', '[NUM]', 'g')) AS scrubbed_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    // arithmetic replay of the PII-text formula: counts from the
    // modular conditions and the redacted string rebuilt with
    // placeholders spliced where the formula planted each PII span —
    // the oracle never runs a regex (concat_ws skips NULLs identically
    // in both engines, so the strings are byte-equal)
    "pii1_redact" ->
      """SELECT d.doc_id,
        |  CAST(d.doc_id % 3 AS BIGINT) AS n_emails,
        |  CAST(d.doc_id % 2 AS BIGINT) AS n_ips,
        |  CAST(CASE WHEN d.doc_id % 5 <> 0 THEN 1 ELSE 0 END AS BIGINT)
        |    AS n_phones,
        |  (d.doc_id % 3 + d.doc_id % 2 +
        |    CASE WHEN d.doc_id % 5 <> 0 THEN 1 ELSE 0 END) > 0 AS has_pii,
        |  concat_ws(' ', 'Doc', CAST(d.doc_id AS VARCHAR), 'contact',
        |    CASE WHEN d.doc_id % 3 >= 1 THEN '[EMAIL]' END,
        |    CASE WHEN d.doc_id % 3 = 2 THEN '[EMAIL]' END,
        |    'at',
        |    CASE WHEN d.doc_id % 2 = 1 THEN '[IP]' END,
        |    'call',
        |    CASE WHEN d.doc_id % 5 <> 0 THEN '[PHONE]' END,
        |    'ref 12345 code A1B2') AS redacted
        |FROM documents d ORDER BY d.doc_id""".stripMargin,
    "s5_contiguous_ids" ->
      """SELECT doc_id, lang,
        |  ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS row_id
        |FROM documents ORDER BY doc_id""".stripMargin,
    "smp2_stratified" ->
      """SELECT doc_id, lang FROM documents
        |WHERE CASE
        |  WHEN lang = 'en' THEN
        |    substr(md5('mix1:' || CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1')
        |  WHEN lang = 'zh' THEN
        |    substr(md5('mix1:' || CAST(doc_id AS VARCHAR)), 1, 1)
        |      IN ('0','1','2','3')
        |  ELSE substr(md5('mix1:' || CAST(doc_id AS VARCHAR)), 1, 1)
        |    IN ('0','1','2','3','4','5','6','7')
        |END ORDER BY doc_id""".stripMargin,
    "smp1_sample_det" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE substr(md5('seed42:' || CAST(doc_id AS VARCHAR)), 1, 1)
        |  IN ('0', '1', '2', '3')
        |ORDER BY doc_id""".stripMargin,
    "e1_embed_norm" ->
      """WITH terms AS (
        |  SELECT vec_id, len(embedding) AS n_dims,
        |    CAST(floor(CAST(embedding[g.i] AS DOUBLE) * 1048576.0) AS BIGINT) AS q
        |  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS g(i)
        |)
        |SELECT vec_id, n_dims, CAST(COALESCE(SUM(q * q), 0) AS BIGINT) AS qnorm2,
        |  sqrt(CAST(COALESCE(SUM(q * q), 0) AS DOUBLE)) / 1048576.0 AS norm
        |FROM terms GROUP BY 1, 2 ORDER BY vec_id""".stripMargin,
    "e2_centroid_pool" ->
      """WITH terms AS (
        |  SELECT label, g.i - 1 AS dim,
        |    CAST(floor(CAST(embedding[g.i] AS DOUBLE) * 1048576.0) AS BIGINT) AS q
        |  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS g(i)
        |)
        |SELECT label, dim, COUNT(*) AS n_vecs,
        |  CAST(SUM(q) AS DOUBLE) / (COUNT(*) * 1048576.0) AS centroid
        |FROM terms GROUP BY 1, 2 ORDER BY label, dim""".stripMargin,
    "e4_kmeans_assign" ->
      """WITH terms AS (
        |  SELECT label, g.i - 1 AS dim,
        |    CAST(floor(CAST(embedding[g.i] AS DOUBLE) * 1048576.0) AS BIGINT) AS q
        |  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS g(i)
        |), cent AS (
        |  SELECT label, dim,
        |    CAST(floor(CAST(SUM(q) AS DOUBLE) / (COUNT(*) * 1048576.0)
        |      * 1048576.0) AS BIGINT) AS qc
        |  FROM terms GROUP BY 1, 2
        |), vq AS (
        |  SELECT vec_id, g.i - 1 AS dim,
        |    CAST(floor(CAST(embedding[g.i] AS DOUBLE) * 1048576.0) AS BIGINT) AS qv
        |  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS g(i)
        |), dists AS (
        |  SELECT v.vec_id, c.label,
        |    CAST(SUM((qv - qc) * (qv - qc)) AS BIGINT) AS qdist
        |  FROM vq v JOIN cent c ON c.dim = v.dim GROUP BY 1, 2
        |), ranked AS (
        |  SELECT vec_id, label, qdist,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY qdist, label) AS rn
        |  FROM dists
        |)
        |SELECT vec_id, label AS cluster, qdist FROM ranked WHERE rn = 1
        |ORDER BY vec_id""".stripMargin,
    // e4's assignment unrolled TWICE, with round-2 centroids recomputed
    // from round-1's clusters (floor-requantized exactly like the Spark
    // side's centroids() -> q20 path)
    "km2_lloyd_fit" ->
      """WITH vq AS (
        |  SELECT vec_id, label, g.i - 1 AS dim,
        |    CAST(floor(CAST(embedding[g.i] AS DOUBLE) * 1048576.0) AS BIGINT) AS qv
        |  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS g(i)
        |), cent1 AS (
        |  SELECT label, dim,
        |    CAST(floor(CAST(SUM(qv) AS DOUBLE) / (COUNT(*) * 1048576.0)
        |      * 1048576.0) AS BIGINT) AS qc
        |  FROM vq GROUP BY 1, 2
        |), d1 AS (
        |  SELECT v.vec_id, c.label,
        |    CAST(SUM((qv - qc) * (qv - qc)) AS BIGINT) AS qdist
        |  FROM vq v JOIN cent1 c ON c.dim = v.dim GROUP BY 1, 2
        |), a1 AS (
        |  SELECT vec_id, label AS cluster FROM (
        |    SELECT vec_id, label, ROW_NUMBER() OVER (PARTITION BY vec_id
        |      ORDER BY qdist, label) AS rn FROM d1) WHERE rn = 1
        |), cent2 AS (
        |  SELECT a.cluster AS label, v.dim,
        |    CAST(floor(CAST(SUM(v.qv) AS DOUBLE) / (COUNT(*) * 1048576.0)
        |      * 1048576.0) AS BIGINT) AS qc
        |  FROM vq v JOIN a1 a USING (vec_id) GROUP BY 1, 2
        |), d2 AS (
        |  SELECT v.vec_id, c.label,
        |    CAST(SUM((qv - qc) * (qv - qc)) AS BIGINT) AS qdist
        |  FROM vq v JOIN cent2 c ON c.dim = v.dim GROUP BY 1, 2
        |), a2 AS (
        |  SELECT vec_id, label, qdist, ROW_NUMBER() OVER (PARTITION BY vec_id
        |    ORDER BY qdist, label) AS rn FROM d2
        |)
        |SELECT vec_id, label AS cluster, qdist FROM a2 WHERE rn = 1
        |ORDER BY vec_id""".stripMargin,
    "e3_int8_quant" ->
      """WITH q AS (
        |  SELECT vec_id,
        |    len(list_filter(embedding,
        |      x -> abs(CAST(x AS DOUBLE)) > 1.0)) AS n_clipped,
        |    list_transform(embedding, x -> CASE WHEN x IS NULL THEN NULL
        |      ELSE GREATEST(-127, LEAST(127,
        |        CAST(floor(CAST(x AS DOUBLE) * 127.0) AS BIGINT))) END) AS q8
        |  FROM embeddings
        |)
        |SELECT vec_id, n_clipped, CAST(COALESCE(list_sum(q8), 0) AS BIGINT) AS sum_q8,
        |  list_min(q8) AS min_q8, list_max(q8) AS max_q8
        |FROM q ORDER BY vec_id""".stripMargin,
    "x9_salted_join" ->
      """SELECT d.cohort, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(e.value AS DECIMAL(20,4))) AS DOUBLE) AS sum_value
        |FROM events e
        |JOIN (SELECT range AS user_id, range % 5 AS cohort FROM range(100)) d
        |  ON e.user_id = d.user_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "st5_stream_stream_join" ->
      """WITH c AS (
        |  SELECT user_id, event_id AS click_id,
        |    epoch_ns(ts) // 1000000000 AS cts
        |  FROM events WHERE event_type = 'click'
        |), p AS (
        |  SELECT user_id, event_id AS purchase_id,
        |    epoch_ns(ts) // 1000000000 AS pts
        |  FROM events WHERE event_type = 'purchase'
        |)
        |SELECT c.user_id, COUNT(*) AS n_pairs,
        |  COUNT(DISTINCT c.click_id) AS n_clicks_matched,
        |  COUNT(DISTINCT p.purchase_id) AS n_purchases_matched
        |FROM c JOIN p ON p.user_id = c.user_id
        |  AND p.pts >= c.cts AND p.pts <= c.cts + 3600
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // st15: matched pairs always emit; an unmatched click emits
    // null-extended iff its 1 h match window closed strictly below the
    // final GLOBAL watermark — which, with two withWatermark operators,
    // is the MIN of the two sides' maxima (multipleWatermarkPolicy=min,
    // the default), not the overall max event time. Clicks still inside
    // the window stay pending and never surface.
    "st15_stream_stream_left" ->
      """WITH c AS (
        |  SELECT user_id, event_id AS click_id,
        |    epoch_ns(ts) // 1000000000 AS cts
        |  FROM events WHERE event_type = 'click'
        |), p AS (
        |  SELECT user_id AS p_user_id, event_id AS purchase_id,
        |    epoch_ns(ts) // 1000000000 AS pts
        |  FROM events WHERE event_type = 'purchase'
        |), wm AS (
        |  SELECT LEAST((SELECT max(cts) FROM c), (SELECT max(pts) FROM p)) AS w
        |), m AS (
        |  SELECT c.user_id, c.click_id, p.purchase_id
        |  FROM c JOIN p ON p.p_user_id = c.user_id
        |    AND p.pts >= c.cts AND p.pts <= c.cts + 3600
        |), u AS (
        |  SELECT c.user_id, c.click_id
        |  FROM c, wm
        |  WHERE c.cts + 3600 < wm.w
        |    AND NOT EXISTS (SELECT 1 FROM m WHERE m.click_id = c.click_id)
        |), allrows AS (
        |  SELECT user_id, click_id, purchase_id FROM m
        |  UNION ALL SELECT user_id, click_id, NULL AS purchase_id FROM u
        |)
        |SELECT user_id, COUNT(*) AS n_rows,
        |  CAST(count_if(purchase_id IS NULL) AS BIGINT) AS n_unmatched,
        |  CAST(COUNT(DISTINCT purchase_id) AS BIGINT) AS n_purchases_matched
        |FROM allrows GROUP BY 1 ORDER BY 1""".stripMargin,
    // st23 gates against the IDENTICAL SQL as batch ts11 — streaming
    // bars must be indistinguishable from the batch rollup.
    "st23_stream_ohlc" ->
      """WITH e AS (
        |  SELECT event_type, CAST(date_trunc('second', ts) AS DATE) AS day,
        |    CAST(floor(value * 100) AS BIGINT) AS cents,
        |    printf('%020d:%020d', epoch_ns(ts), event_id) AS k
        |  FROM events
        |)
        |SELECT event_type, day,
        |  arg_min(cents, k) AS open_cents,
        |  MAX(cents) AS high_cents,
        |  MIN(cents) AS low_cents,
        |  arg_max(cents, k) AS close_cents,
        |  COUNT(*) AS n_trades,
        |  CAST(SUM(cents) AS DOUBLE) / COUNT(*) AS vwap_cents
        |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Full-outer emission: unmatched clicks exactly as st15; unmatched
    // purchases once purchase_ts itself passes the global watermark
    // (their candidate clicks all precede them, and sub-watermark
    // arrivals are dropped, so nothing can still match).
    "st22_stream_stream_full" ->
      """WITH c AS (
        |  SELECT user_id, event_id AS click_id,
        |    epoch_ns(ts) // 1000000000 AS cts
        |  FROM events WHERE event_type = 'click'
        |), p AS (
        |  SELECT user_id AS p_user_id, event_id AS purchase_id,
        |    epoch_ns(ts) // 1000000000 AS pts
        |  FROM events WHERE event_type = 'purchase'
        |), wm AS (
        |  SELECT LEAST((SELECT max(cts) FROM c), (SELECT max(pts) FROM p)) AS w
        |), m AS (
        |  SELECT c.user_id, c.click_id, p.purchase_id
        |  FROM c JOIN p ON p.p_user_id = c.user_id
        |    AND p.pts >= c.cts AND p.pts <= c.cts + 3600
        |), u AS (
        |  SELECT c.user_id, c.click_id
        |  FROM c, wm
        |  WHERE c.cts + 3600 < wm.w
        |    AND NOT EXISTS (SELECT 1 FROM m WHERE m.click_id = c.click_id)
        |), v AS (
        |  SELECT p.p_user_id AS user_id, p.purchase_id
        |  FROM p, wm
        |  WHERE p.pts < wm.w
        |    AND NOT EXISTS (SELECT 1 FROM m WHERE m.purchase_id = p.purchase_id)
        |), allrows AS (
        |  SELECT user_id, click_id, purchase_id FROM m
        |  UNION ALL SELECT user_id, click_id, NULL AS purchase_id FROM u
        |  UNION ALL SELECT user_id, NULL AS click_id, purchase_id FROM v
        |)
        |SELECT user_id, COUNT(*) AS n_rows,
        |  CAST(count_if(purchase_id IS NULL) AS BIGINT) AS n_unmatched_clicks,
        |  CAST(count_if(click_id IS NULL) AS BIGINT) AS n_unmatched_purchases,
        |  CAST(COUNT(DISTINCT CASE WHEN click_id IS NOT NULL
        |    THEN purchase_id END) AS BIGINT) AS n_purchases_matched
        |FROM allrows GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
