package graft.queries

import graft.Tables
import graft.functions.VectorMath
import graft.operators.{Contamination, Packing, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}

/** Training-data pipeline operators beyond cleaning/dedup: sequence
  * packing into context-window bins, train/eval contamination audit,
  * and data-mixture weight computation. All oracle-gated; the usual
  * cross-engine rules (exact BIGINT accumulators, late double division,
  * identical aliases) apply.
  */
object TrainingDataQueries {
  type Q = (SparkSession, String) => DataFrame

  /** The BPE merge loop shared by bpe2 (reports the rules) and bpe3
    * (applies them to encode the corpus) — one definition so the two can
    * never desynchronize on pair selection, tie-break, or the two-sweep
    * replace convention. `wc` must carry `seq` (space-delimited symbols
    * with boundary spaces) and `n` (word frequency); all other columns
    * pass through. Each of the K rounds is one map-side-partial pair
    * count plus a 1-row driver scalar (the selected rule), with the
    * rewritten vocabulary localCheckpoint-pinned between rounds. Returns
    * the rules and the final rewritten table.
    */
  private def learnMerges(wc: DataFrame, k: Int): (Seq[(Int, String, Long)], DataFrame) = {
    var seqs = wc
    val rules = Seq.newBuilder[(Int, String, Long)]
    for (round <- 1 to k) {
      val top = seqs
        .select(col("n"), split(trim(col("seq")), " ").as("syms"))
        .where(size(col("syms")) >= 2)
        .select(col("n"),
          explode(sequence(lit(0), size(col("syms")) - 2)).as("i"),
          col("syms"))
        .select(
          concat_ws(" ",
            element_at(col("syms"), col("i") + 1),
            element_at(col("syms"), col("i") + 2)).as("pair"),
          col("n"))
        .groupBy("pair").agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(1)
        .collect().headOption
        .getOrElse(throw new IllegalStateException(
          s"BPE merge round $round: no adjacent symbol pair left " +
            "(every word already collapsed to a single symbol — " +
            s"vocabulary too small for k=$k merges)"))
      val pair = top.getString(0)
      rules += ((round, pair, top.getLong(1)))
      val pat = lit(" " + pair + " ")
      val rep = lit(" " + pair.replace(" ", "") + " ")
      val others = seqs.columns.filterNot(_ == "seq").map(col).toSeq
      seqs = seqs
        .select(others :+
          call_function("replace",
            call_function("replace", col("seq"), pat, rep), pat, rep).as("seq"): _*)
        .localCheckpoint()
    }
    (rules.result(), seqs)
  }

  /** The RAG chunk relation shared by chunk1 (reports it) and chunk2
    * (dedups across docs): 32-token windows at stride 24 over the
    * standard tokenizer — pure per-row expression work (split → start
    * sequence → posexplode → slice), zero shuffle. One definition so
    * the two queries can never disagree on the chunk boundaries or the
    * hash identity. Returns (doc_id, chunk_idx, n_tokens, chunk_hash).
    */
  private def ragChunks(docs: DataFrame): DataFrame = {
    val chunkSize = 32
    val stride = 24
    docs
      .select(col("doc_id"), TextAnalysis.words(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), size(col("toks")) - 1, lit(stride)))
          .as("start"))
      .select(col("doc_id"),
        (col("start") / stride).cast(LongType).as("chunk_idx"),
        slice(col("toks"), col("start") + 1, lit(chunkSize)).as("chunk"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("chunk")).cast(LongType).as("n_tokens"),
        md5(array_join(col("chunk"), " ")).as("chunk_hash"))
  }

  /** The gq1 Gopher-gate DuckDB replay's CTE chain (through the
    * per-doc metrics relation `m`) — ONE copy shared by the per-doc
    * gq1 oracle and the st24 streaming-gate census oracle, so the
    * gate definition cannot drift between them.
    */
  private val gopherOracleCtes: String =
    """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM documents
        |), words AS (
        |  SELECT doc_id, w[g.i] AS wd
        |  FROM toks, UNNEST(generate_series(1, len(w))) AS g(i)
        |), wstats AS (
        |  SELECT doc_id, COUNT(*) AS n_words,
        |    CAST(SUM(length(wd)) AS BIGINT) AS word_chars
        |  FROM words GROUP BY 1
        |), topw AS (
        |  SELECT doc_id, c AS top_word_n FROM (
        |    SELECT doc_id, wd, COUNT(*) AS c,
        |      row_number() OVER (PARTITION BY doc_id
        |        ORDER BY COUNT(*) DESC, wd) AS rn
        |    FROM words GROUP BY doc_id, wd) t WHERE rn = 1
        |), bg AS (
        |  SELECT doc_id, w[g.i] || ' ' || w[g.i + 1] AS g2
        |  FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS g(i)
        |  WHERE len(w) >= 2
        |), topbg AS (
        |  SELECT doc_id, c AS top_bigram_n FROM (
        |    SELECT doc_id, g2, COUNT(*) AS c,
        |      row_number() OVER (PARTITION BY doc_id
        |        ORDER BY COUNT(*) DESC, g2) AS rn
        |    FROM bg GROUP BY doc_id, g2) t WHERE rn = 1
        |), tg AS (
        |  SELECT doc_id, w[g.i] || ' ' || w[g.i + 1] || ' ' || w[g.i + 2] AS g3
        |  FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS g(i)
        |  WHERE len(w) >= 3
        |), tgc AS (
        |  SELECT doc_id, g3, COUNT(*) AS c FROM tg GROUP BY 1, 2
        |), tri AS (
        |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_trigrams,
        |    CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup_trigram_n
        |  FROM tgc GROUP BY 1
        |), m AS (
        |  SELECT d.doc_id,
        |    CAST(coalesce(ws.n_words, 0) AS BIGINT) AS n_words,
        |    CAST(coalesce(ws.word_chars, 0) AS BIGINT) AS word_chars,
        |    CAST(coalesce(tw.top_word_n, 0) AS BIGINT) AS top_word_n,
        |    CAST(coalesce(tb.top_bigram_n, 0) AS BIGINT) AS top_bigram_n,
        |    CAST(coalesce(tr.n_trigrams, 0) AS BIGINT) AS n_trigrams,
        |    CAST(coalesce(tr.dup_trigram_n, 0) AS BIGINT) AS dup_trigram_n
        |  FROM documents d
        |  LEFT JOIN wstats ws USING (doc_id)
        |  LEFT JOIN topw tw USING (doc_id)
        |  LEFT JOIN topbg tb USING (doc_id)
        |  LEFT JOIN tri tr USING (doc_id))""".stripMargin

  val queries: Map[String, Q] = Map(

    // Sequence packing: documents → fixed-capacity token bins (the rows
    // an LLM trainer actually consumes). Cumulative-offset assignment is
    // a pure function of the corpus, and the prefix sum underneath is
    // the distributed two-pass form — no single-partition global window.
    "pack1_sequence_packing" -> { (spark, dir) =>
      val toks = Tables.documents(spark, dir)
        .select(col("doc_id"),
          size(TextAnalysis.words(col("text"))).cast(LongType).as("n_tok"))
      Packing.packBins(toks, Seq(col("doc_id")), col("n_tok"), 2048L)
        .groupBy("bin_id")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("n_tok").as("bin_tokens"),
          min("doc_id").as("first_doc"),
          max("doc_id").as("last_doc"))
        .orderBy("bin_id")
    },

    // Per-domain document cap — the sampling step that stops one crawl
    // domain from dominating a mixture — expressed DIRECTLY on the
    // engine's whole-operator TopKPerKey plan node: bounded heaps cap
    // each map partition at k rows per source, the exchange carries
    // only survivors (never the corpus), no sort anywhere. The oracle
    // is the row_number formulation DuckDB runs.
    "cap1_domain_cap" -> { (spark, dir) =>
      graft.plans.TopKPerKey.topKPerKey(
          Tables.documentsParallel(spark, dir)
            .select(col("doc_id"), col("source"), col("n_chars")),
          keyCols = Seq("source"),
          orderCols = Seq(("n_chars", false), ("doc_id", true)),
          k = 10)
        .orderBy("source", "doc_id")
    },

    // BPE pair counts — the merge-selection statistic of byte-pair-
    // encoding tokenizer training (iteration 1: most frequent adjacent
    // symbol pair within words). Counts compact map-side; only
    // (pair, count) partials shuffle; deterministic tie-break on the
    // pair for the top-50 cut.
    "bpe1_pair_counts" -> { (spark, dir) =>
      Tables.documentsParallel(spark, dir)
        .select(explode(TextAnalysis.words(col("text"))).as("w"))
        .where(length(col("w")) >= 2)
        .select(col("w"), explode(sequence(lit(1), length(col("w")) - 1)).as("i"))
        .select(expr("substring(w, CAST(i AS INT), 2)").as("pair"))
        .groupBy("pair")
        .agg(count(lit(1)).as("n_occurrences"))
        .orderBy(col("n_occurrences").desc, col("pair"))
        .limit(50)
    },

    // BPE merge LOOP (iterations 2..4 of tokenizer training): starting
    // from the per-word character sequences, repeatedly (K=3) pick the
    // most frequent adjacent symbol pair (weighted by word frequency,
    // ties broken on the pair string) and merge it corpus-wide. The
    // merge is defined OPERATIONALLY as two sweeps of non-overlapping
    // left-to-right string replace on the space-delimited symbol string
    // — a convention both engines implement identically (`replace`),
    // sidestepping regex-lookahead differences. Scale shape: BPE trains
    // on the WORD-FREQUENCY table (vocabulary-sized, not corpus-sized);
    // each round is one map-side-partial pair count plus a 1-row
    // driver scalar (the selected rule — the same bounded-collect
    // pattern as Ids' offsets). Output: the K merge rules.
    "bpe2_merge_loop" -> { (spark, dir) =>
      val wc = Tables.documentsParallel(spark, dir)
        .select(explode(TextAnalysis.words(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("n"))
        // ' h e l l o ' — every symbol space-delimited, boundary spaces
        .select(
          concat(lit(" "), regexp_replace(col("w"), "(.)", "$1 ")).as("seq"),
          col("n"))
        .localCheckpoint()
      val (rules, _) = learnMerges(wc, 3)
      import spark.implicits._
      rules.toDF("merge_idx", "pair", "n_occurrences")
        .orderBy("merge_idx")
    },

    // BPE ENCODE (applying the learned tokenizer): run the bpe2 merge
    // rules over the vocabulary and measure the corpus under the
    // resulting segmentation — tokens per doc, corpus compression vs
    // raw characters. Encoding is computed once per DISTINCT word and
    // joined back to the doc→word stream (the scale move: the encode
    // table is vocabulary-sized; the corpus is never re-segmented
    // per-occurrence). Output: per-language token totals under the
    // learned tokenizer next to whitespace-token and char totals.
    "bpe3_encode" -> { (spark, dir) =>
      val words = Tables.documentsParallel(spark, dir)
        .select(col("doc_id"), col("lang"),
          explode(TextAnalysis.words(col("text"))).as("w"))
        .localCheckpoint(eager = true)
      val wc = words.groupBy("w").agg(count(lit(1)).as("n"))
        .select(
          col("w"),
          concat(lit(" "), regexp_replace(col("w"), "(.)", "$1 ")).as("seq"),
          col("n"))
        .localCheckpoint()
      // the SAME rules as bpe2, by construction (shared learnMerges);
      // `w` passes through so the encoded vocabulary joins back to docs
      val (_, seqs) = learnMerges(wc, 3)
      val encoded = seqs.select(col("w"),
        size(split(trim(col("seq")), " ")).cast(LongType).as("n_sym"))
      words.join(encoded, Seq("w"))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_words"),
          sum(col("n_sym")).as("n_bpe_tokens"),
          sum(length(col("w")).cast(LongType)).as("n_chars"))
        .select(col("lang"), col("n_words"), col("n_bpe_tokens"), col("n_chars"),
          (col("n_bpe_tokens").cast(DoubleType) / col("n_chars").cast(DoubleType))
            .as("tokens_per_char"))
        .orderBy("lang")
    },

    // Unigram-LM tokenizer training (the SentencePiece shape — the
    // OTHER production subword tokenizer, next to merge-based BPE):
    // seed a capped piece vocabulary from frequent substrings, then
    // two hard-EM rounds — Viterbi-segment every word under the
    // current piece probabilities, recount, requantize. Probabilities
    // are dyadic-quantized integers (q = 1 + (cnt*256) div total —
    // pure BIGINT division, no IEEE op in the chain) and the Viterbi
    // compares exact 128-bit-safe integer products, so the oracle
    // replays ALL rounds bit-exactly (recursive-CTE path enumeration
    // with the same (score DESC, segmentation) tie-break). Output
    // exposes the seed count and EVERY round's recount. Scale: EM
    // runs on the word-frequency table (vocabulary-sized, the bpe2
    // discipline); the capped model collects bounded (V + alphabet
    // rows), never a corpus relation (see UnigramLm's scaladoc).
    "usp1_unigram_lm" -> { (spark, dir) =>
      val wc = Tables.documentsParallel(spark, dir)
        .select(explode(TextAnalysis.words(col("text"))).as("w"))
        .where(length(col("w")) > 0)
        .groupBy("w").agg(count(lit(1)).as("n"))
      val pieces = graft.operators.UnigramLm.train(spark, wc, 100, 2)
      pieces
        // bounded post-model window: one row per vocab piece (<= 126)
        .withColumn("total_r2", sum("cnt_r2").over(Window.partitionBy()))
        .select(col("piece"), col("cnt_seed"), col("cnt_r1"), col("cnt_r2"),
          (col("cnt_r2").cast(DoubleType) / col("total_r2").cast(DoubleType))
            .as("prob_r2"))
        .orderBy(col("cnt_r2").desc, col("piece"))
        .limit(50)
    },

    // Feature hashing (Weinberger et al. 2009, the "hashing trick") —
    // fixed-width bag-of-words features with zero vocabulary state:
    // feature index = portable 60-bit hash mod 64, sign = the hash's
    // next bit, value = signed occurrence sum. The per-doc census
    // (nnz / l1 / squared norm / index-weighted checksum) pins every
    // bucket's exact value, all BIGINT. No vocab broadcast, no fit
    // step — the property that makes the trick the default featurizer
    // on unbounded streams.
    "fh1_feature_hashing" -> { (spark, dir) =>
      val feats = Tables.documentsParallel(spark, dir)
        .select(col("doc_id"),
          explode(TextAnalysis.words(col("text"))).as("w"))
        .where(col("w") =!= "")
        .select(col("doc_id"),
          graft.operators.Dedup.portableHash60(col("w")).as("h"))
        .select(col("doc_id"),
          pmod(col("h"), lit(64L)).as("idx"),
          when(expr("(h div 64) % 2") === 0L, 1L).otherwise(-1L).as("sign"))
        .groupBy("doc_id", "idx")
        .agg(sum(col("sign")).as("v"))
        .where(col("v") =!= 0L)
      feats.groupBy("doc_id")
        .agg(count(lit(1)).as("nnz"),
          sum(abs(col("v"))).as("l1"),
          sum(col("v") * col("v")).as("sq_norm"),
          sum(col("idx") * col("v")).as("checksum"))
        .orderBy("doc_id")
    },

    // WINNOWING (Schleimer et al. 2003, the MOSS fingerprint selector):
    // from each document's rolling 8-gram hashes, every 4-hash window
    // contributes its minimum — the guarantee is that any shared
    // substring of length >= k + w - 1 = 11 yields at least one SHARED
    // selected fingerprint, at ~1/w the storage of full k-gram sets
    // (the density/guarantee trade sdr's strided windows don't make).
    // Hashes fold to 40 bits so the (hash << 20 | position) composite
    // used for deterministic in-window tie-breaks stays inside a BIGINT
    // (documents here are < 2^20 chars; shard longer docs first).
    // Scale shape: per-doc windows only (bounded by doc length); the
    // census never shuffles text, just 8-byte composites.
    "win1_winnowing" -> { (spark, dir) =>
      val docs = Tables.documentsParallel(spark, dir)
      val census = graft.operators.Contamination.winnowedFingerprints(docs)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_selected"), sum(col("fp")).as("fp_sum"))
      docs.select(col("doc_id"),
          greatest(col("n_chars") - 7L, lit(0L)).as("n_grams"))
        .join(census, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("n_selected"), lit(0L)).as("n_selected"),
          coalesce(col("fp_sum"), lit(0L)).as("fp_sum"))
        .orderBy("doc_id")
    },

    // Winnowing-based cross-corpus CONTAMINATION (the guarantee-backed
    // variant of cont1's strided spans): a train/eval leak of >= 11
    // chars CANNOT slip between sample points — winnowing selects at
    // least one shared fingerprint for it, where a fixed stride can
    // alias past a short leak. The eval fingerprint set broadcasts
    // (benchmarks are small; corpora are not); the train side never
    // shuffles text.
    "wcont1_winnowed_contamination" -> { (spark, dir) =>
      val docs = Tables.documentsParallel(spark, dir)
      val isEval = col("doc_id") % 10 === 7
      def fps(d: DataFrame) = Contamination.winnowedFingerprints(d)
      Contamination.hitCounts(docs.where(!isEval),
          fps(docs.where(!isEval)), fps(docs.where(isEval)), "fp", "n_fps", "n_shared")
        .orderBy("doc_id")
    },

    // Content-defined chunking — the byte-level dedup primitive (rsync/
    // FastCDC shape): a chunk boundary falls wherever the hash of the
    // 16-char window starting there is 0 mod 64, so boundaries survive
    // insertions/deletions (unlike fixed-size blocks). The hash is the
    // portable md5 family — engine-recomputable. Work is linear in
    // characters (one window hash per position, exactly a rolling CDC's
    // cost) and stays in the scan stage; only per-doc aggregates
    // shuffle.
    "cdc1_chunking" -> { (spark, dir) =>
      val W = 16
      Tables.documentsParallel(spark, dir)
        .where(col("n_chars") >= W)
        .select(col("doc_id"),
          graft.operators.Contamination.asciiBin(col("text")).as("__bin"),
          explode(sequence(lit(1L), col("n_chars") - (W - 1))).as("p"),
          col("text"))
        .select(col("doc_id"), col("p"),
          (graft.operators.Dedup.portableHash60(
            graft.operators.Contamination.sliceBytes(
              col("__bin"), col("text"), col("p"), W)) % 64 === 0).as("is_b"))
        .groupBy("doc_id")
        .agg(
          sum(when(col("is_b"), 1L).otherwise(0L)).as("n_boundaries"),
          (sum(when(col("is_b"), 1L).otherwise(0L)) + 1L).as("n_chunks"),
          min(when(col("is_b"), col("p"))).as("first_boundary"))
        .orderBy("doc_id")
    },

    // Deterministic corpus shuffle — the epoch-0 global shuffle a
    // dataloader needs: position is a pure function of (doc_id, seed)
    // via the portable hash, reproducible across runs and engines, and
    // assigned WITHOUT a single-partition global window —
    // Ids.contiguousIds range-partitions by the hash and broadcasts
    // per-partition offsets (driver traffic = numPartitions longs).
    "shuf1_det_shuffle" -> { (spark, dir) =>
      val hashed = Tables.documentsParallel(spark, dir)
        .select(col("doc_id"),
          graft.operators.Dedup.portableHash60(
            concat(col("doc_id").cast("string"), lit(":shuf42"))).as("h"))
      graft.operators.Ids
        .contiguousIds(hashed, Seq(col("h"), col("doc_id")), idCol = "shuffle_pos")
        .select(col("doc_id"), col("h"), col("shuffle_pos"))
        .orderBy("doc_id")
    },

    // Curriculum binning: 4 difficulty tiers by token count. The rank
    // underneath is the distributed contiguous-id assignment (range
    // partition + local window + broadcast offsets), NOT a global
    // NTILE window — same quartile split (bucket sizes differ by at
    // most one), no single-partition sort. Bin ids are exact integer
    // math: (pos * 4) div N.
    "cur1_curriculum_bins" -> { (spark, dir) =>
      val toks = Tables.documentsParallel(spark, dir)
        .select(col("doc_id"),
          size(TextAnalysis.words(col("text"))).cast(LongType).as("n_tok"))
      val ranked = graft.operators.Ids
        .contiguousIds(toks, Seq(col("n_tok"), col("doc_id")), idCol = "pos")
      val total = toks.agg(count(lit(1)).cast(LongType).as("n_total"))
      ranked.crossJoin(broadcast(total))
        .withColumn("bin", expr("(pos * 4) div n_total"))
        .groupBy("bin")
        .agg(
          count(lit(1)).as("n_docs"),
          min("n_tok").as("min_tok"),
          max("n_tok").as("max_tok"),
          sum("n_tok").as("sum_tok"))
        .orderBy("bin")
    },

    // Quality-filter funnel: per-stage survivor counts of the standard
    // pretraining filter chain (length → mean word length → type-token
    // diversity). All conditions are exact integer comparisons (no
    // float thresholds), computed in ONE scan with a single tiny
    // aggregate — the shape that audits a 100 TB corpus in one pass.
    "qf1_quality_funnel" -> { (spark, dir) =>
      val flags = Tables.documentsParallel(spark, dir)
        .select(col("n_chars"), TextAnalysis.words(col("text")).as("ws"))
        .select(
          col("n_chars"),
          size(col("ws")).cast(LongType).as("n_tok"),
          size(array_distinct(col("ws"))).cast(LongType).as("n_types"),
          aggregate(col("ws"), lit(0L), (acc, w) => acc + length(w)).as("sum_len"))
        .select(
          (col("n_chars") >= 100).as("c1"),
          (col("sum_len") >= col("n_tok") * 3 &&
            col("sum_len") <= col("n_tok") * 12).as("c2"),
          (col("n_types") * 10 >= col("n_tok") * 3).as("c3"))
      flags.agg(
          count(lit(1)).as("n_all"),
          sum(when(col("c1"), 1L).otherwise(0L)).as("n_len"),
          sum(when(col("c1") && col("c2"), 1L).otherwise(0L)).as("n_wordlen"),
          sum(when(col("c1") && col("c2") && col("c3"), 1L).otherwise(0L))
            .as("n_final"))
        .selectExpr("""stack(4,
            '1_all', n_all,
            '2_len_ge_100', n_len,
            '3_mean_wordlen_3_12', n_wordlen,
            '4_type_token_03', n_final) AS (stage, n_docs)""")
        .orderBy("stage")
    },

    // Out-of-vocabulary rate vs the corpus top-1000 vocabulary — the
    // tokenizer-coverage statistic. The vocab cut is deterministic
    // (count desc, word asc) and broadcast-tiny; the token stream joins
    // against it map-side, so the only shuffles are the word count and
    // the per-doc aggregate.
    "t11_oov_rate" -> { (spark, dir) =>
      val toks = Tables.documentsParallel(spark, dir)
        .select(col("doc_id"), explode(TextAnalysis.words(col("text"))).as("w"))
      val vocab = toks.groupBy("w").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("w")).limit(1000)
        .select(col("w").as("vw"))
      toks.join(broadcast(vocab), col("w") === col("vw"), "left")
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_tok"),
          sum(when(col("vw").isNull, 1L).otherwise(0L)).as("n_oov"))
        .withColumn("oov_rate",
          col("n_oov").cast(DoubleType) / col("n_tok").cast(DoubleType))
        .orderBy("doc_id")
    },

    // RAG chunk inventory: fixed 64-char windows at stride 48 (overlap
    // 16), the retrieval-chunking shape. Chunk hashes are the portable
    // family, so within-doc chunk dedup (n_distinct_chunks) is oracle-
    // recomputable; work is linear in characters and stays in the scan
    // stage.
    "rag1_chunk_windows" -> { (spark, dir) =>
      val W = 64
      Tables.documentsParallel(spark, dir)
        .where(col("n_chars") >= W)
        .select(col("doc_id"),
          graft.operators.Contamination.asciiBin(col("text")).as("__bin"),
          explode(sequence(lit(1L), col("n_chars") - (W - 1), lit(48L))).as("p"),
          col("text"))
        .select(col("doc_id"), col("p"),
          graft.operators.Dedup.portableHash60(
            graft.operators.Contamination.sliceBytes(
              col("__bin"), col("text"), col("p"), W)).as("h"))
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_chunks"),
          countDistinct(col("h")).as("n_distinct_chunks"),
          max(col("p")).as("last_start"),
          min(col("h")).as("min_chunk_hash"))
        .orderBy("doc_id")
    },

    // Contamination audit: does a training document share a 32-char span
    // with the (broadcast-small) eval split? Every 20th document plays
    // the benchmark here; at warehouse scale the eval hash set stays a
    // broadcast and the train scan joins shuffle-free.
    "cont1_contamination" -> { (spark, dir) =>
      Contamination.report(
          Tables.documentsParallel(spark, dir), col("doc_id") % 20 === 0)
        .orderBy("doc_id")
    },

    // Contamination RUN lengths (Lee et al. memorization spans): a
    // 50-window run is a verbatim benchmark passage, one isolated
    // window a common idiom — the severity dimension cont1's boolean
    // cannot see. Gaps-and-islands over window indices, per-doc
    // windows only.
    "cont2_contamination_spans" -> { (spark, dir) =>
      Contamination.spanRuns(
          Tables.documentsParallel(spark, dir), col("doc_id") % 20 === 0)
        .orderBy("doc_id")
    },

    // Span-removal dedup — the cleaned corpus cont1/cont2/sd1 only point
    // at: cross-document duplicated 32-char spans merge into maximal
    // intervals and are CUT OUT, docs reconstructed from the keep
    // segments with per-doc removal stats. The full Lee et al. pipeline
    // shape; the oracle replays window hashing, the >= 2-docs threshold,
    // interval merge, and substring reconstruction.
    "sdr1_span_removal" -> { (spark, dir) =>
      Contamination.removeDuplicateSpans(Tables.documentsParallel(spark, dir))
        .orderBy("doc_id")
    },

    // Keep-first span removal — the Lee et al. DEDUP semantic (one
    // canonical copy of every span survives, in the lowest doc id)
    // versus sdr1's decontamination semantic (shared spans vanish
    // everywhere). Same hash → interval-merge → rebuild machinery, one
    // extra first_doc column on the duplicated-hash stats.
    "sdr2_span_removal_keep_first" -> { (spark, dir) =>
      Contamination.removeDuplicateSpans(
        Tables.documentsParallel(spark, dir), keepFirst = true)
        .orderBy("doc_id")
    },

    // Data-mixture weights: per-language token mass and the resampling
    // weight that would flatten the corpus to a uniform language mix —
    // the knob a training-mixture spec turns. Exact BIGINT token sums;
    // the two divisions are the only floating steps and mirror the
    // oracle expression shape exactly.
    // Trigram LM conditional counts — the relational core of n-gram
    // language-model estimation (and of Kneser-Ney's numerator/
    // denominator tables): for each (w1 w2, w3), the continuation count
    // n3 and the prefix total n2 = Σ_w n3(prefix, w), with the MLE
    // conditional P(w3|w1 w2) as one late division. Two aggregations,
    // both with map-side partials keyed on the prefix; the denominator
    // derives from the numerator relation (no second corpus scan).
    // Deterministic top-100 via the total (n3 desc, prefix, next_tok)
    // order → TakeOrdered, no global sort.
    "t12_trigram_lm" -> { (spark, dir) =>
      val ws = TextAnalysis.words(col("text"))
      val tri = Tables.documentsParallel(spark, dir)
        .select(ws.as("w"))
        .where(size(col("w")) >= 3)
        .select(explode(sequence(lit(0), size(col("w")) - 3)).as("i"), col("w"))
        .select(
          concat_ws(" ", slice(col("w"), col("i") + 1, lit(2))).as("prefix"),
          element_at(col("w"), col("i") + 3).as("next_tok"))
      val n3 = tri.groupBy("prefix", "next_tok").agg(count(lit(1)).as("n3"))
      val n2 = n3.groupBy("prefix").agg(sum("n3").as("n2"))
      n3.join(n2, Seq("prefix"))
        .select(col("prefix"), col("next_tok"), col("n3"), col("n2"),
          (col("n3").cast(DoubleType) / col("n2").cast(DoubleType)).as("cond_p"))
        .orderBy(col("n3").desc, col("prefix"), col("next_tok"))
        .limit(100)
    },

    // Interpolated Kneser-Ney bigram LM (absolute discount D = 3/4 —
    // dyadic, so the subtraction is float-exact) — the smoothing every
    // serious n-gram quality scorer uses over t12's raw MLE: mass
    // discounted from seen bigrams is re-spent proportional to the
    // CONTINUATION probability (how many distinct contexts a word
    // follows), which is what demotes "francisco"-style words that are
    // frequent but only ever follow one context. All five count
    // relations (c, ctx, distinct-successor n1f, distinct-predecessor
    // n1b, total bigram types n1all) are exact BIGINTs; p_kn is one
    // identically-structured double expression on both engines (no
    // max(): c >= 1 makes c - 0.75 always positive). Shuffles key on
    // words; the denominators derive from the bigram-type relation —
    // the corpus is scanned once. Deterministic top-100 via
    // (c desc, w1, w2) → TakeOrdered.
    "kn1_kneser_ney" -> { (spark, dir) =>
      val ws = TextAnalysis.words(col("text"))
      val bi = Tables.documentsParallel(spark, dir)
        .select(ws.as("w"))
        .where(size(col("w")) >= 2)
        .select(explode(sequence(lit(0), size(col("w")) - 2)).as("i"), col("w"))
        .select(element_at(col("w"), col("i") + 1).as("w1"),
          element_at(col("w"), col("i") + 2).as("w2"))
      val c = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c"))
      val ctx = c.groupBy("w1").agg(sum("c").as("ctx"), count(lit(1)).as("n1f"))
      val n1b = c.groupBy("w2").agg(count(lit(1)).as("n1b"))
      val n1all = c.agg(count(lit(1)).as("n1all"))
      val pkn = (col("c").cast(DoubleType) - 0.75) / col("ctx").cast(DoubleType) +
        ((lit(0.75) * col("n1f").cast(DoubleType)) / col("ctx").cast(DoubleType)) *
          (col("n1b").cast(DoubleType) / col("n1all").cast(DoubleType))
      c.join(ctx, Seq("w1")).join(n1b, Seq("w2")).crossJoin(broadcast(n1all))
        .select(col("w1"), col("w2"), col("c"), col("ctx"), col("n1f"),
          col("n1b"), col("n1all"), pkn.as("p_kn"))
        .orderBy(col("c").desc, col("w1"), col("w2"))
        .limit(100)
    },

    // DSIR-shape importance weights (Xie et al. 2023, "Data Selection
    // for Language Models via Importance Resampling"): score raw
    // documents by how target-like their hashed-bigram distribution is.
    // Features are portable-md5 bigram buckets (B=4096); target = the
    // 'en' slice, raw = everything. Each bucket's add-1-smoothed
    // likelihood ratio is ONE exact integer expression —
    // ((p_f+1)(q_tot+B)·2^20) div ((q_f+1)(p_tot+B)) — no logs, no
    // floats, so the scores are bit-identical on any engine (DSIR's
    // log-w ordering is monotone in the ratio; the mean-of-ratios is
    // its portable twin). Execution: one feature pass, two tiny count
    // aggregates (map-side partials over 4096 buckets), broadcast the
    // bucket table back onto the feature stream — at 100 TB the bucket
    // table is B rows whatever the corpus size.
    // Hashed-feature linear quality classifier (the fastText-shape gate
    // that sits next to ppl1/dsir1 in a corpus-quality stack): word
    // bigrams hash into B=4096 buckets (portable md5), a deterministic
    // per-bucket integer weight TABLE — the stand-in for learned
    // weights, derived from each bucket id's own md5 so both engines
    // materialize the identical table — broadcasts onto the per-doc
    // bucket counts, and each document scores as the exact-integer dot
    // product Σ count(b)·w(b), gate = score > 0. Scale shape: features
    // aggregate map-side per (doc, bucket); the 4096-row weight table is
    // the only join side at ANY corpus size; every doc gets a verdict
    // (featureless docs score 0 / fail).
    "qc1_linear_quality" -> { (spark, dir) =>
      graft.operators.DataQuality.linearQualityScores(Tables.documentsParallel(spark, dir))
        .orderBy("doc_id")
    },

    // End-to-end training-set FUNNEL — the composed corpus build every
    // stage above feeds: exact dedup (keep the min doc_id per
    // sha256(text)) → Gopher repetition gate → linear-classifier
    // quality gate → language allowlist, with per-stage survivor and
    // attrition counts (the numbers a dataset card reports). Each gate
    // is THE same definition its standalone oracle query uses
    // (DataQuality.gopherMetrics / linearQualityScores), so the funnel
    // can never drift from the audited parts. Output is stage-level:
    // 5 rows of exact BIGINTs.
    "tm1_training_funnel" -> { (spark, dir) =>
      // ONE-PASS funnel (optimization r15, guide §2.3/§2.4): the r14
      // shape materialized every stage (4 eager localCheckpoints of the
      // full text column) and ran 5 separate count/sum aggregations +
      // a 5-way union. Both gates are PER-DOCUMENT-pure (gopherMetrics
      // is map-only over one tokenization; linearQualityScores depends
      // only on the doc's own bigrams + the fixed broadcast weight
      // table), so gate verdicts computed on the FULL corpus equal the
      // verdicts on each stage's survivors — stage membership is a
      // conjunction of per-doc flags, and the whole funnel is one
      // conditional aggregation over one pass. Gates remain THE same
      // registered definitions (dq.gopherMetrics / linearQualityScores);
      // the oracle re-MATCHes byte-identically (rows+schema+hash).
      val dq = graft.operators.DataQuality
      val docs = Tables.documentsParallel(spark, dir)
        .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
      val keepExact = docs
        .groupBy(sha2(col("text"), 256).as("h"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"), lit(true).as("__keep"))
      val flags = docs
        .join(keepExact, Seq("doc_id"), "left")
        .join(dq.gopherMetrics(docs).select("doc_id", "gopher_pass"),
          Seq("doc_id"))
        .join(dq.linearQualityScores(docs).select("doc_id", "quality_pass"),
          Seq("doc_id"))
        .select(col("n_chars"),
          coalesce(col("__keep"), lit(false)).as("s1"),
          (coalesce(col("__keep"), lit(false)) && col("gopher_pass")).as("s2"),
          (coalesce(col("__keep"), lit(false)) && col("gopher_pass") &&
            col("quality_pass")).as("s3"),
          (coalesce(col("__keep"), lit(false)) && col("gopher_pass") &&
            col("quality_pass") &&
            col("lang").isin("en", "de", "fr", "es")).as("s4"))
      def stageStruct(ord: Long, name: String,
          n: org.apache.spark.sql.Column, c: org.apache.spark.sql.Column) =
        struct(lit(ord).as("stage_ord"), lit(name).as("stage"),
          n.as("n_docs"), coalesce(c, lit(0L)).as("n_chars"))
      flags.agg(
          count(lit(1)).as("n0"), sum(col("n_chars")).as("c0"),
          count(when(col("s1"), 1)).as("n1"),
          sum(when(col("s1"), col("n_chars"))).as("c1"),
          count(when(col("s2"), 1)).as("n2"),
          sum(when(col("s2"), col("n_chars"))).as("c2"),
          count(when(col("s3"), 1)).as("n3"),
          sum(when(col("s3"), col("n_chars"))).as("c3"),
          count(when(col("s4"), 1)).as("n4"),
          sum(when(col("s4"), col("n_chars"))).as("c4"))
        .select(explode(array(
          stageStruct(1L, "input", col("n0"), col("c0")),
          stageStruct(2L, "exact_dedup", col("n1"), col("c1")),
          stageStruct(3L, "gopher_gate", col("n2"), col("c2")),
          stageStruct(4L, "quality_gate", col("n3"), col("c3")),
          stageStruct(5L, "lang_allowlist", col("n4"), col("c4")))).as("s"))
        .select(col("s.stage_ord").as("stage_ord"), col("s.stage").as("stage"),
          col("s.n_docs").as("n_docs"), col("s.n_chars").as("n_chars"))
        .orderBy("stage_ord")
    },

    // The CLEANED-corpus pipeline end to end — the round-5 funnel (tm1)
    // counted survivors of doc-level gates; this one runs the
    // content-REWRITING stage first: Lee-et-al span removal produces
    // clean_text, a 32-char floor drops hollowed-out docs, the Gopher
    // gate re-judges the CLEANED text (a doc whose repetition lived in
    // the removed spans can now pass), and the per-source census carries
    // exact counts, char masses and a portable content digest of the
    // final corpus — the number a training run would actually consume.
    // Every stage is the same definition as its standalone oracle query
    // (sdr1 / gq1), so the chain can never drift from its parts.
    "tm2_clean_corpus" -> { (spark, dir) =>
      // ONE-PASS census (optimization r15, guide §2.3/§2.4): the r14
      // shape materialized `cleaned` AND the 32-char survivors (`ne`),
      // aggregated each branch separately, and joined the two censuses
      // back on `source`. The Gopher gate is PER-DOCUMENT-pure, so its
      // verdict on a cleaned doc is the same whether computed over the
      // 32-char survivors or over all cleaned docs — final-corpus
      // membership is a per-doc conjunction (len>=32 AND gopher_pass),
      // and the whole census is one conditional groupBy(source). One
      // materialization (the span-removal output), one aggregation, no
      // census join. Gate stays THE registered definition; oracle
      // re-MATCHes byte-identically.
      val dq = graft.operators.DataQuality
      val docsRaw = Tables.documentsParallel(spark, dir)
      val cleaned = Contamination.removeDuplicateSpans(docsRaw)
        .select(col("doc_id"), col("clean_text").as("text"))
        .join(docsRaw.select(col("doc_id"), col("source"),
          col("n_chars").as("n_chars_input")), Seq("doc_id"))
        .localCheckpoint(eager = true) // feeds census + gate join
      val flagged = cleaned.join(
        dq.gopherMetrics(cleaned.select(col("doc_id"), col("text")))
          .select("doc_id", "gopher_pass"),
        Seq("doc_id"))
        .select(col("source"), col("n_chars_input"),
          length(col("text")).cast(LongType).as("len"),
          (length(col("text")) >= 32).as("ok32"),
          ((length(col("text")) >= 32) && col("gopher_pass")).as("fin"),
          (graft.operators.Dedup.portableHash60(col("text")) % lit(1000003L))
            .as("h"))
      flagged.groupBy("source").agg(
          count(lit(1)).as("n_input"),
          sum(col("n_chars_input")).as("chars_input"),
          sum(when(col("ok32"), 1L).otherwise(0L)).as("n_after_clean"),
          sum(when(col("ok32"), col("len")).otherwise(0L)).as("chars_clean"),
          count(when(col("fin"), 1)).as("n_final"),
          coalesce(sum(when(col("fin"), col("len"))), lit(0L)).as("chars_final"),
          coalesce(sum(when(col("fin"), col("h"))), lit(0L)).as("clean_digest"))
        .orderBy("source")
    },

    // TRAINING MANIFEST — the last mile the whole pipeline feeds:
    // "what exactly does training step k consume?" Exact dedup (d1's
    // keep rule) → Gopher gate (the registered definition) →
    // deterministic corpus shuffle (shuf1's hash order) → 2048-token
    // cumulative-offset packing IN SHUFFLE ORDER (pack1's engine) →
    // the first 20 steps' census: docs, token mass, id bounds, exact
    // content digest. Every stage is the SAME definition its
    // standalone oracle gates, composed; the result is a pure function
    // of the corpus — rerun, repartition, and engine all reproduce the
    // byte-identical manifest, which is what makes a training run
    // auditable. Scale shape: gates are map-only / hash-grouped, the
    // shuffle key is a 60-bit hash, and the packing prefix sum is the
    // distributed two-pass form — no global window anywhere.
    "tm3_training_manifest" -> { (spark, dir) =>
      val dq = graft.operators.DataQuality
      // Gate flags fold into ONE pass (optimization r15, same per-doc-
      // purity argument as tm1): the r14 shape joined survivors stage by
      // stage, re-deriving the s1 join inside gopherMetrics(s1). The
      // Gopher verdict is per-doc-pure, so it joins ONCE against the
      // full corpus and survivorship is a conjunction. Oracle re-MATCHes.
      val docs = Tables.documentsParallel(spark, dir)
        .select(col("doc_id"), col("text"))
      val keep = docs
        .groupBy(sha2(col("text"), 256).as("h"))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
      val s2 = docs.join(keep, Seq("doc_id"))
        .join(dq.gopherMetrics(docs).where(col("gopher_pass")).select("doc_id"),
          Seq("doc_id"))
      val toks = s2.select(col("doc_id"),
        size(TextAnalysis.words(col("text"))).cast(LongType).as("n_tok"),
        graft.operators.Dedup.portableHash60(
          concat(col("doc_id").cast("string"), lit(":shuf42"))).as("h"))
      Packing.packBins(toks, Seq(col("h"), col("doc_id")), col("n_tok"), 2048L)
        .where(col("bin_id") < 20)
        .groupBy("bin_id")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("step_tokens"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"),
          sum(col("doc_id") * col("n_tok")).as("content_digest"))
        .orderBy("bin_id")
    },

    // Gopher/MassiveText repetition-quality rules (Rae et al. 2021,
    // appendix A): the pre-LM heuristic gate every corpus pipeline runs
    // before perplexity/classifier scoring. Per document: top-word and
    // top-bigram occurrence fractions, duplicated-trigram occurrence
    // fraction, word-length stats — all as exact BIGINT numerators /
    // denominators, with the pass verdict decided by integer
    // cross-multiplication (no float compares anywhere near the gate).
    // The fixture has no newlines, so the line-dup family is vacuous
    // here and the n-gram family carries the signal. Scale shape: three
    // map-side-partial counts keyed on (doc, gram) + one per-doc window
    // over the doc's own vocabulary — partitions bounded by document
    // length, never corpus-wide.
    "gq1_gopher_quality" -> { (spark, dir) =>
      graft.operators.DataQuality.gopherMetrics(Tables.documentsParallel(spark, dir))
        .orderBy("doc_id")
    },

    // TRAINED language ID (VERDICT r9 #7) — the real pipeline derives
    // the lang column the mixture/fertility/drift operators consume:
    // hashed char-3-gram profile voting (fastText/Cavnar-Trenkle
    // shape), trained on the 80% split, judged on the 20% eval split
    // as a per-source CONFUSION census against the fixture's true lang
    // labels. All-integer weights (cl·2^20 div cb) and deterministic
    // argmax, so the oracle replays train + classify end to end. On
    // THIS fixture the text is statistically lang-uniform by
    // construction, so accuracy is near-chance — the gated artifact is
    // the classifier harness and its exact confusion counts, not the
    // (unlearnable) labels.
    "lid1_language_id" -> { (spark, dir) =>
      val docs = Tables.documentsParallel(spark, dir)
      // eval split on % 7 (coprime with the 20-source id stride, so the
      // census covers EVERY source; % 5 hit only 4 of them)
      val isEval = col("doc_id") % 7 === 3
      val pred = TextAnalysis.languageIdTrained(docs, isEval)
      docs.where(isEval)
        .select(col("doc_id"), col("source"), col("lang").as("true_lang"))
        .join(pred.select("doc_id", "pred_lang"), Seq("doc_id"))
        .groupBy("source", "true_lang", "pred_lang")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("source", "true_lang", "pred_lang")
    },

    "dsir1_importance_weights" -> { (spark, dir) =>
      import graft.operators.Dedup.portableHash60
      val B = 4096
      val ws = TextAnalysis.words(col("text"))
      val feats = Tables.documentsParallel(spark, dir)
        .select(col("doc_id"), col("lang"), ws.as("w"))
        .where(size(col("w")) >= 2)
        .select(col("doc_id"), col("lang"),
          explode(sequence(lit(0), size(col("w")) - 2)).as("i"), col("w"))
        .select(col("doc_id"), col("lang"),
          pmod(portableHash60(concat_ws(" ", slice(col("w"), col("i") + 1, lit(2)))),
            lit(B.toLong)).as("b"))
        // eager: the LM-count agg and the scoring join are independent
        // stages; lazy re-materializes the exploded bigram relation per
        // branch when they schedule in parallel (dr1/mod1 lesson)
        .localCheckpoint(eager = true)
      val counts = feats.groupBy("b").agg(
        expr("count_if(lang = 'en')").as("pc"),
        count(lit(1)).as("qc"))
      val totals = counts.agg(
        sum(col("pc")).as("ptot"), sum(col("qc")).as("qtot"))
      val ratios = counts.crossJoin(broadcast(totals))
        .select(col("b"),
          expr(s"((pc + 1L) * (qtot + $B) * 1048576L) div ((qc + 1L) * (ptot + $B))")
            .as("r"))
      feats.join(broadcast(ratios), Seq("b"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_feats"), sum(col("r")).as("r_sum"))
        .select(col("doc_id"), col("n_feats"),
          (col("r_sum").cast(DoubleType) / col("n_feats").cast(DoubleType) /
            lit(VectorMath.Scale)).as("dsir_score"),
          (col("r_sum") > col("n_feats") * 1048576L).as("target_like"))
        .orderBy("doc_id")
    },

    // CCNet-shape LM quality filter: score every document under the
    // corpus's own trigram LM (the perplexity-filter pipeline stage).
    // Per-trigram conditional p = n3/n2 — both exact BIGINTs — is
    // quantized portably (floor(p·2^40): the division and the
    // power-of-two multiply are single IEEE ops identical on both
    // engines; a log-sum would ride libm's 1-ulp drift); the per-doc
    // score is the exact-integer mean of those quanta, the arithmetic-
    // mean twin of perplexity. Execution: one corpus pass builds the
    // trigram relation (doc_id carried), LM counts reduce with map-side
    // partials, scoring joins trigrams to the LM on the prefix pair —
    // at 100 TB the LM prunes to a capped vocabulary and broadcasts.
    "ppl1_lm_doc_score" -> { (spark, dir) =>
      val ws = TextAnalysis.words(col("text"))
      val tri = Tables.documentsParallel(spark, dir)
        .select(col("doc_id"), ws.as("w"))
        .where(size(col("w")) >= 3)
        .select(col("doc_id"),
          explode(sequence(lit(0), size(col("w")) - 3)).as("i"), col("w"))
        .select(col("doc_id"),
          concat_ws(" ", slice(col("w"), col("i") + 1, lit(2))).as("prefix"),
          element_at(col("w"), col("i") + 3).as("next_tok"))
        .localCheckpoint(eager = true) // LM build + scoring share one pass
      val n3 = tri.groupBy("prefix", "next_tok").agg(count(lit(1)).as("n3"))
      val n2 = n3.groupBy("prefix").agg(sum("n3").as("n2"))
      val lm = n3.join(n2, Seq("prefix"))
        .select(col("prefix"), col("next_tok"),
          floor(col("n3").cast(DoubleType) / col("n2").cast(DoubleType) *
            lit(1099511627776.0)).cast(LongType).as("q"))
      tri.join(lm, Seq("prefix", "next_tok"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tri"), sum(col("q")).as("q_sum"))
        .select(col("doc_id"), col("n_tri"),
          (col("q_sum").cast(DoubleType) / col("n_tri").cast(DoubleType) /
            lit(1099511627776.0)).as("avg_cond_p"))
        .orderBy("doc_id")
    },

    // Temperature-scaled mixture (α = 0.5): sampling weight ∝ share^α —
    // the standard dial between natural (α=1) and uniform (α=0) language
    // mixing (mT5/XLM-R shape). α=0.5 is √share, and √ of an exact
    // BIGINT is correctly rounded IEEE, so quantizing it (floor·2^20)
    // gives exact-integer weights: the normalizing sum is a BIGINT sum,
    // portable across engines — no order-dependent float accumulation.
    // upsample_factor = temp_weight / natural_share reads off how hard
    // each language is over/under-sampled.
    "dm2_temperature_mix" -> { (spark, dir) =>
      val byLang = Tables.documents(spark, dir)
        .groupBy("lang")
        .agg(sum(size(TextAnalysis.words(col("text"))).cast(LongType)).as("n_tokens"))
      val all = Window.partitionBy() // post-agg: one row per language
      byLang
        .withColumn("qw",
          VectorMath.quantize(sqrt(col("n_tokens").cast(DoubleType))))
        .withColumn("total_qw", sum("qw").over(all))
        .withColumn("total_tokens", sum("n_tokens").over(all))
        .select(
          col("lang"), col("n_tokens"), col("qw"),
          (col("qw").cast(DoubleType) / col("total_qw").cast(DoubleType))
            .as("temp_weight"),
          ((col("qw").cast(DoubleType) * col("total_tokens").cast(DoubleType))
            / (col("total_qw").cast(DoubleType) * col("n_tokens").cast(DoubleType)))
            .as("upsample_factor"))
        .orderBy("lang")
    },

    "dm1_mixture_weights" -> { (spark, dir) =>
      val byLang = Tables.documents(spark, dir)
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(size(TextAnalysis.words(col("text"))).cast(LongType)).as("n_tokens"))
      val all = Window.partitionBy() // post-agg: one row per language
      byLang
        .withColumn("total_tokens", sum("n_tokens").over(all))
        .withColumn("n_langs", count(lit(1)).over(all))
        .select(
          col("lang"), col("n_docs"), col("n_tokens"),
          (col("n_tokens").cast(DoubleType) / col("total_tokens").cast(DoubleType))
            .as("token_share"),
          ((col("total_tokens").cast(DoubleType) / col("n_langs").cast(DoubleType))
            / col("n_tokens").cast(DoubleType)).as("uniform_weight"))
        .orderBy("lang")
    },

    // Product quantization: 4 × 16-dim subspaces, codebook = the class
    // centroids restricted to each subspace (10 codewords per subspace).
    // The memory tier of billion-vector ANN, exact-integer throughout,
    // so the code tuples are oracle-checkable.
    "e5_pq_assign" -> { (spark, dir) =>
      val emb = Tables.embeddings(spark, dir)
      graft.operators.EmbeddingOps
        .pqAssign(emb, graft.operators.EmbeddingOps.centroids(emb), nSub = 4)
        .orderBy("vec_id")
    },

    // TPC-H Q18 shape: HAVING-filtered aggregate (big-quantity orders)
    // semi-joined back through orders × customer, top-10 by order value.
    // The aggregate runs BEFORE the joins, so the join input is the
    // filtered order-key set, not the fact table.
    "hav1_having_topn" -> { (spark, dir) =>
      val big = Tables.lineitem(spark, dir)
        .groupBy("l_orderkey")
        .agg(sum(floor(col("l_quantity")).cast(LongType)).as("sum_qty"))
        .where(col("sum_qty") > 200)
      Tables.orders(spark, dir)
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
        .select(
          col("c_name"), col("o_orderkey"),
          to_date(col("o_orderdate")).as("o_day"),
          floor(col("o_totalprice") * 100).cast(LongType).as("total_cents"),
          col("sum_qty"))
        .orderBy(col("total_cents").desc, col("o_orderkey"))
        .limit(10)
    },

    // MLM masking plan (BERT recipe): 15% of token POSITIONS select for
    // masking via a portable hash gate on (doc, position) — any engine,
    // any partitioning, any rerun masks the same positions — and the
    // selected set splits 80/10/10 into [MASK] / random-token /
    // keep-unchanged on an independent hash digit. Per-doc census;
    // pure projection + one groupBy, nothing wide.
    "mlm1_masking_plan" -> { (spark, dir) =>
      val toks = Tables.documentsParallel(spark, dir)
        .select(col("doc_id"),
          posexplode(TextAnalysis.words(col("text"))).as(Seq("pos0", "w")))
        .select(col("doc_id"), (col("pos0") + 1).as("pos"))
      val u = graft.operators.Dedup.portableHash60(
        concat_ws(":", lit("mlm1"), col("doc_id"), col("pos")))
      val withU = toks.withColumn("u", u)
        .withColumn("masked", col("u") % 100 < 15)
        .withColumn("sub", expr("(u div 100) % 10"))
      withU
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("masked") && col("sub") < 8, 1L).otherwise(0L))
            .as("n_mask"),
          sum(when(col("masked") && col("sub") === 8, 1L).otherwise(0L))
            .as("n_random"),
          sum(when(col("masked") && col("sub") === 9, 1L).otherwise(0L))
            .as("n_unchanged"))
        .orderBy("doc_id")
    },

    // Cross-gate agreement audit — do the two independent quality gates
    // (hashed-feature linear score qc1, Gopher repetition rules gq1)
    // agree, and WHERE on the score axis do they diverge? Docs band by
    // integer score; per band: both gates' pass counts and the
    // agreement fraction (one late division). This is the calibration
    // check run before trusting a cheap classifier to replace an
    // expensive rule set. Gates are the SAME DataQuality definitions
    // as their standalone oracle queries.
    "cal1_gate_agreement" -> { (spark, dir) =>
      val dq = graft.operators.DataQuality
      val docs = Tables.documentsParallel(spark, dir)
        .localCheckpoint(eager = true) // feeds both gate chains
      val q = dq.linearQualityScores(docs)
        .select(col("doc_id"), col("score"), col("quality_pass"))
      val g = dq.gopherMetrics(docs).select(col("doc_id"), col("gopher_pass"))
      val band = when(col("score") <= -10, "a_le_m10")
        .when(col("score") < 0, "b_m9_m1")
        .when(col("score") === 0, "c_0")
        .when(col("score") < 10, "d_1_9")
        .otherwise("e_ge_10")
      q.join(g, Seq("doc_id"))
        .withColumn("band", band)
        .groupBy("band")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("gopher_pass"), 1L).otherwise(0L)).as("n_gopher_pass"),
          sum(when(col("quality_pass"), 1L).otherwise(0L)).as("n_quality_pass"),
          sum(when(col("quality_pass") === col("gopher_pass"), 1L)
            .otherwise(0L)).as("n_agree"))
        .withColumn("agreement",
          col("n_agree").cast(DoubleType) / col("n_docs").cast(DoubleType))
        .orderBy("band")
    },

    // Vocabulary coverage curve — the tokenizer-budget question "what
    // fraction of corpus tokens do the top-k vocab entries cover?" for
    // k = 10/100/1000. The corpus-wide stage is one word-count
    // aggregate; since only ranks <= 1000 can ever match a k, the vocab
    // first collapses through a DISTRIBUTED top-1000 (orderBy+limit
    // plans TakeOrderedAndProject: per-partition heaps, driver merge —
    // never a global sort), and the ranking window then rides a
    // relation bounded by the LITERAL 1000 whatever the corpus (a noisy
    // 100 TB web crawl has billions of distinct tokens; ranking the
    // full vocab on one task would be the partition-less-window trap).
    // Coverage is one late division of exact BIGINTs. k beyond |V|
    // clamps to the full vocabulary.
    "tok2_vocab_coverage" -> { (spark, dir) =>
      val counts = Tables.documentsParallel(spark, dir)
        .select(explode(TextAnalysis.words(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
      val ord = Window.orderBy(col("c").desc, col("w"))
      val ranked = counts
        .orderBy(col("c").desc, col("w")).limit(1000)
        .withColumn("rk", row_number().over(ord))
        .withColumn("cum", sum(col("c")).over(
          ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val tot = counts.agg(sum(col("c")).as("t"), count(lit(1)).as("v"))
      ranked.crossJoin(broadcast(tot))
        .select(col("rk"), col("cum"), col("t"), col("v"),
          explode(array(lit(10L), lit(100L), lit(1000L))).as("k"))
        .where(col("rk") === least(col("k"), col("v")))
        .select(col("k"), col("cum").as("top_k_tokens"),
          col("t").as("total_tokens"), col("v").as("n_vocab"),
          (col("cum").cast(DoubleType) / col("t").cast(DoubleType))
            .as("coverage"))
        .orderBy("k")
    },

    // RAG chunking — the retrieval-corpus preparation step: each doc's
    // token stream splits into overlapping windows of 32 tokens at
    // stride 24 (8-token overlap so a sentence straddling a boundary
    // survives whole in one chunk). Pure per-row expression work
    // (split → sequence of starts → posexplode → slice): zero shuffle
    // before the output sort, so the pass is scan-bound at any corpus
    // size. Chunk identity = md5 of the reconstructed chunk text —
    // the downstream embedding/dedup key.
    "chunk1_rag_chunking" -> { (spark, dir) =>
      ragChunks(Tables.documentsParallel(spark, dir))
        .orderBy("doc_id", "chunk_idx")
    },

    // Cross-doc duplicate CHUNKS — the retrieval-corpus dedup that doc-
    // level dedup misses (the same boilerplate paragraph embedded in
    // otherwise-distinct docs): chunks sharing a hash across ≥2 docs,
    // with occurrence counts and the canonical (lowest) doc. Shuffle
    // keys on the 32-char chunk hash, never the text; the same
    // shared-definition chunker as chunk1, so the two can't drift.
    "chunk2_chunk_dedup" -> { (spark, dir) =>
      ragChunks(Tables.documentsParallel(spark, dir))
        .groupBy("chunk_hash")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occurrences"),
          min(col("doc_id")).as("first_doc"))
        .where(col("n_docs") >= 2)
        .orderBy("chunk_hash")
    },

    // Streaming ingest quality gate — each arriving micro-batch judged
    // by the SAME Gopher gate as gq1 inside foreachBatch, per-source
    // census merged across batches by partial-aggregate summation (the
    // imv1 merge rule), so N micro-batches produce exactly the batch
    // census. The ingest-side gating a training pipeline runs
    // continuously.
    "st24_stream_quality_gate" -> { (spark, dir) =>
      graft.streaming.DocsStream.streamQualityGate(spark, dir)
    },

    // The per-source DRIFT SCORECARD — qf2's data-card extended with
    // every round-9 lens, composed from the REGISTERED definitions
    // (the Spark side calls the same query functions, the oracle
    // splices the same oracle SQL as CTEs), so the scorecard can never
    // disagree with its standalone columns: token mass + TV (tv1),
    // Hellinger (hell1), profile cosine (csim1), trigram novelty
    // (nov1), vocabulary + Chao1 (chao1), jackknife influence (jk1),
    // and the C4 pass rate (c4g1) — one row per source, the table a
    // curation round actually reads. Scale shape: each lens is its own
    // already-pinned plan; the final join is |sources| rows.
    "card2_drift_scorecard" -> { (spark, dir) =>
      def ex(n: String) = ExperimentQueries.queries(n)(spark, dir)
      // FIVE lenses now compute from ONE tokenize pass (VERDICT r12 #6):
      // the (source, words) rows are checkpointed once and feed both the
      // unigram count spine (tv/hell/cosine/chao tails) and nov1's
      // trigram-type spine — nov1 used to re-tokenize the corpus inside
      // card2. Composition still can't drift: the standalone queries run
      // the SAME shared-tail definitions. jk1 (n_chars scan) and c4g1
      // (predicate census) have different spines and stay registered
      // functions. Both downstream spines checkpoint eagerly, so the
      // corpus-width words pin is dropped before the scorecard returns.
      val words = ExperimentQueries
        .wordRows(Tables.documentsParallel(spark, dir))
        .localCheckpoint(eager = true) // tokenize once: counts + trigrams
      val counts = ExperimentQueries.termCountsFromWords(words)
        .localCheckpoint(eager = true) // four lens consumers
      val nv = ExperimentQueries.noveltyFromWords(words)
        .select(col("source"), col("novelty"))
      // RDD-level release (Dataset.unpersist is a no-op on checkpoints)
      graft.operators.Checkpoints.release(words)
      val tv = graft.operators.TextAnalysis.totalVariationBySource(counts)
        .select(col("source"), col("n_tokens"), col("tv"))
      val he = ExperimentQueries.hellingerFromCounts(counts)
        .select(col("source"), col("hell2"))
      val cs = ExperimentQueries.cosineFromCounts(counts)
        .select(col("source"), col("cosine"))
      val ch = ExperimentQueries.chao1FromCounts(counts)
        .select(col("source"), col("d").as("vocab"), col("chao1"))
      val jk = ex("jk1_source_influence")
        .select(col("source"), col("n_docs"), col("influence"))
      val c4 = queries("c4g1_c4_gate")(spark, dir)
        .select(col("source"), (col("n_pass").cast(DoubleType) /
          col("n_docs").cast(DoubleType)).as("c4_pass_rate"))
      tv.join(he, "source").join(cs, "source").join(nv, "source")
        .join(ch, "source").join(jk, "source").join(c4, "source")
        .orderBy("source")
    },

    // C4-style page-filter census — the OTHER canonical web-corpus gate
    // next to gq1's Gopher rules (C4/T5, Raffel et al.): terminal
    // punctuation, no code braces, no 'lorem ipsum' placeholder, a
    // minimum word count. Reported per source as pass/fail-per-rule
    // counts — the diagnosis table a curation run reads before
    // deciding which rule is doing the cutting. Doc-level predicates
    // only (the line-level variants need a line axis — same rules,
    // applied after an explode(split(text, '\n'))); all counts exact,
    // one map-side-combinable aggregate.
    "c4g1_c4_gate" -> { (spark, dir) =>
      val txt = col("text")
      val endsPunct = substring(rtrim(txt), -1, 1).isin(".", "!", "?")
      val noBrace = !txt.contains("{")
      val noLorem = !lower(txt).contains("lorem ipsum")
      val minWords = size(TextAnalysis.words(txt)) >= 5
      Tables.documents(spark, dir)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(endsPunct, 1L).otherwise(0L)).as("n_ends_punct"),
          sum(when(noBrace, 0L).otherwise(1L)).as("n_brace_fail"),
          sum(when(noLorem, 0L).otherwise(1L)).as("n_lorem_fail"),
          sum(when(minWords, 0L).otherwise(1L)).as("n_short_fail"),
          sum(when(endsPunct && noBrace && noLorem && minWords, 1L)
            .otherwise(0L)).as("n_pass"))
        .orderBy("source")
    },

    // Streamed distribution-drift gate — tv1's total-variation census
    // maintained incrementally: each micro-batch's (source, term)
    // counts merge by key-wise summation (associative, retry-idempotent
    // via the batchId guard), the read side applies the SAME shared
    // closed-form TV tail. N micro-batches converge to the batch census
    // exactly; the oracle IS tv1's SQL. The streamed state is bounded
    // by vocabulary, never the token stream.
    "st27_stream_drift_gate" -> { (spark, dir) =>
      graft.streaming.DocsStream.streamDriftCensus(spark, dir)
    },

    // Streamed bottom-k quantile sketch — qsk1's streaming twin: the
    // persisted state is 256 (cents, hash) rows re-taken as the min-k
    // of each micro-batch's union (associative AND idempotent), so the
    // monitor converges to the batch sketch exactly; the oracle is
    // qsk1's direct-path arithmetic over events.
    "st28_stream_quantile_sketch" -> { (spark, dir) =>
      graft.streaming.EventsStream.streamQuantileSketch(spark, dir)
    },

    // Tokenizer fertility per language — subtokens emitted per
    // whitespace word under the t1 BPE-ish pre-tokenizer regex: THE
    // cross-lingual tokenizer-cost metric (a high-fertility language
    // pays more sequence length per word, skewing both training cost
    // and mixture weights). Exact integer sums, one late division.
    // Caveat shared with t1: Java's \s includes \x0B where RE2's does
    // not — on a corpus containing vertical tabs the two engines'
    // subtoken counts would differ. The fixture generator emits none
    // (hash-exact proves it); a corpus that might should normalize the
    // class to explicit characters on both sides.
    "tok3_fertility" -> { (spark, dir) =>
      Tables.documents(spark, dir)
        .select(col("lang"),
          size(TextAnalysis.words(col("text"))).cast(LongType).as("nw"),
          size(regexp_extract_all(col("text"),
            lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))
            .cast(LongType).as("ns"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nw")).as("n_words"),
          sum(col("ns")).as("n_subtokens"),
          (sum(col("ns")).cast(DoubleType) /
            sum(col("nw")).cast(DoubleType)).as("fertility"))
        .orderBy("lang")
    },

    // Context-window truncation census — what each candidate sequence
    // cap costs: per cap ∈ {16, 32, 64} tokens, how many docs overflow
    // and exactly how many tokens are lost vs kept. The decision table
    // consulted before fixing max_seq_len; one scan, caps explode 3×
    // per row, exact integers.
    "trunc1_context_census" -> { (spark, dir) =>
      Tables.documents(spark, dir)
        .select(size(TextAnalysis.words(col("text"))).cast(LongType).as("n"))
        .select(col("n"),
          explode(array(lit(16L), lit(32L), lit(64L))).as("cap"))
        .groupBy("cap")
        .agg(count(lit(1)).as("n_docs"),
          expr("count_if(n > cap)").as("n_docs_truncated"),
          sum(greatest(col("n") - col("cap"), lit(0L))).as("tokens_lost"),
          sum(least(col("n"), col("cap"))).as("tokens_kept"))
        .orderBy("cap")
    },

    // Per-source boilerplate-prefix detection — shared headers/licence
    // banners are the classic crawl artifact. The longest common prefix
    // of ALL docs in a source equals LCP(min(text), max(text)) under
    // lexicographic order, so the corpus pass is ONE min/max aggregate
    // (map-side partials, never a pairwise compare); the per-source LCP
    // scan is two bounded strings. The prefix-length probe uses
    // whole-prefix equality per candidate length (quadratic only in the
    // two rollup strings' length — corpus-size-independent).
    "bp1_boilerplate_prefix" -> { (spark, dir) =>
      val agg = Tables.documents(spark, dir)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          min(col("text")).as("lo"), max(col("text")).as("hi"))
      val bound = least(length(col("lo")), length(col("hi")))
      val lcpLen = coalesce(array_max(filter(
        sequence(lit(1), bound),
        i => col("lo").substr(lit(1), i) === col("hi").substr(lit(1), i))),
        lit(0))
      agg
        .withColumn("lcp_len", lcpLen)
        .select(col("source"), col("n_docs"),
          col("lcp_len").cast(LongType).as("lcp_len"),
          md5(col("lo").substr(lit(1), col("lcp_len"))).as("prefix_digest"))
        .orderBy("source")
    },

    // Taxonomy tagging by broadcast dictionary — the FlashText/keyword-
    // gazetteer shape every corpus curation run uses for topic routing:
    // a tiny keyword→category table broadcasts to every executor, the
    // tokenized corpus hash-joins it map-side (NO corpus shuffle), and
    // the only wide stage is the (source × category) rollup — a few
    // hundred rows at any corpus size. Per-category doc reach counts
    // distinct docs, hit counts total keyword occurrences.
    "kw1_keyword_tagging" -> { (spark, dir) =>
      val dict = spark.createDataFrame(Seq(
        ("join", "joins"), ("merge", "joins"), ("hash", "joins"),
        ("scan", "access"), ("filter", "access"), ("table", "access"),
        ("stream", "streaming"), ("window", "streaming"), ("batch", "streaming"),
        ("slow", "perf"), ("fast", "perf"), ("big", "perf"), ("small", "perf")))
        .toDF("kw", "category")
      val toks = Tables.documentsParallel(spark, dir)
        .select(col("doc_id"), col("source"),
          explode(TextAnalysis.words(col("text"))).as("w"))
      toks.join(broadcast(dict), col("w") === col("kw"))
        .groupBy("source", "category")
        .agg(
          countDistinct(col("doc_id")).as("docs_tagged"),
          count(lit(1)).as("n_hits"))
        .orderBy("source", "category")
    },
  )

  /** c4g1's oracle SQL — a named val so card2 can splice it as a CTE
    * without a self-reference into the `oracles` map mid-construction.
    */
  private val c4GateSql: String =
    """SELECT source, COUNT(*) AS n_docs,
      |  CAST(count_if(right(rtrim(text), 1) IN ('.', '!', '?'))
      |    AS BIGINT) AS n_ends_punct,
      |  CAST(count_if(contains(text, '{')) AS BIGINT) AS n_brace_fail,
      |  CAST(count_if(contains(lower(text), 'lorem ipsum'))
      |    AS BIGINT) AS n_lorem_fail,
      |  CAST(count_if(len(string_split_regex(lower(trim(text)), '\s+')) < 5)
      |    AS BIGINT) AS n_short_fail,
      |  CAST(count_if(right(rtrim(text), 1) IN ('.', '!', '?')
      |    AND NOT contains(text, '{')
      |    AND NOT contains(lower(text), 'lorem ipsum')
      |    AND len(string_split_regex(lower(trim(text)), '\s+')) >= 5)
      |    AS BIGINT) AS n_pass
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  val oracles: Map[String, String] = Map(
    "mlm1_masking_plan" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM documents
        |), pos AS (
        |  SELECT doc_id, g.i AS pos
        |  FROM toks, UNNEST(generate_series(1, len(w))) AS g(i)
        |), h AS (
        |  SELECT doc_id, pos,
        |    ('0x' || substr(md5('mlm1:' || doc_id || ':' || pos), 1, 15))::BIGINT
        |      AS u
        |  FROM pos
        |)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |  CAST(SUM(CASE WHEN u % 100 < 15 AND (u // 100) % 10 < 8
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_mask,
        |  CAST(SUM(CASE WHEN u % 100 < 15 AND (u // 100) % 10 = 8
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_random,
        |  CAST(SUM(CASE WHEN u % 100 < 15 AND (u // 100) % 10 = 9
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
        |FROM h GROUP BY 1 ORDER BY doc_id""".stripMargin,
    // cal1: gq1's gate chain + qc1's score chain (qtoks-renamed), joined
    // per doc, banded by integer score, agreement as one late division.
    "cal1_gate_agreement" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM documents
        |), words AS (
        |  SELECT doc_id, w[g.i] AS wd
        |  FROM toks, UNNEST(generate_series(1, len(w))) AS g(i)
        |), wstats AS (
        |  SELECT doc_id, COUNT(*) AS n_words,
        |    CAST(SUM(length(wd)) AS BIGINT) AS word_chars
        |  FROM words GROUP BY 1
        |), topw AS (
        |  SELECT doc_id, c AS top_word_n FROM (
        |    SELECT doc_id, wd, COUNT(*) AS c,
        |      row_number() OVER (PARTITION BY doc_id
        |        ORDER BY COUNT(*) DESC, wd) AS rn
        |    FROM words GROUP BY doc_id, wd) t WHERE rn = 1
        |), bg AS (
        |  SELECT doc_id, w[g.i] || ' ' || w[g.i + 1] AS g2
        |  FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS g(i)
        |  WHERE len(w) >= 2
        |), topbg AS (
        |  SELECT doc_id, c AS top_bigram_n FROM (
        |    SELECT doc_id, g2, COUNT(*) AS c,
        |      row_number() OVER (PARTITION BY doc_id
        |        ORDER BY COUNT(*) DESC, g2) AS rn
        |    FROM bg GROUP BY doc_id, g2) t WHERE rn = 1
        |), tg AS (
        |  SELECT doc_id, w[g.i] || ' ' || w[g.i + 1] || ' ' || w[g.i + 2] AS g3
        |  FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS g(i)
        |  WHERE len(w) >= 3
        |), tgc AS (
        |  SELECT doc_id, g3, COUNT(*) AS c FROM tg GROUP BY 1, 2
        |), tri AS (
        |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_trigrams,
        |    CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup_trigram_n
        |  FROM tgc GROUP BY 1
        |), m AS (
        |  SELECT d.doc_id,
        |    CAST(coalesce(ws.n_words, 0) AS BIGINT) AS n_words,
        |    CAST(coalesce(ws.word_chars, 0) AS BIGINT) AS word_chars,
        |    CAST(coalesce(tw.top_word_n, 0) AS BIGINT) AS top_word_n,
        |    CAST(coalesce(tb.top_bigram_n, 0) AS BIGINT) AS top_bigram_n,
        |    CAST(coalesce(tr.n_trigrams, 0) AS BIGINT) AS n_trigrams,
        |    CAST(coalesce(tr.dup_trigram_n, 0) AS BIGINT) AS dup_trigram_n
        |  FROM documents d
        |  LEFT JOIN wstats ws USING (doc_id)
        |  LEFT JOIN topw tw USING (doc_id)
        |  LEFT JOIN topbg tb USING (doc_id)
        |  LEFT JOIN tri tr USING (doc_id)
        |), gflags AS (
        |  SELECT doc_id,
        |    (n_words BETWEEN 5 AND 100000
        |     AND top_word_n * 8 <= n_words
        |     AND top_bigram_n * 5 <= n_words - 1
        |     AND dup_trigram_n * 10 <= n_trigrams * 3
        |     AND word_chars >= n_words * 2
        |     AND word_chars <= n_words * 10) AS gopher_pass
        |  FROM m
        |), wt AS (
        |  SELECT g.b AS b,
        |    (('0x' || substr(md5(CAST(g.b AS VARCHAR)), 1, 15))::BIGINT % 17) - 8 AS w
        |  FROM UNNEST(generate_series(0, 4095)) AS g(b)
        |), qtoks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS wd
        |  FROM documents
        |), f AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(wd[g.i] || ' ' || wd[g.i + 1]), 1, 15))::BIGINT
        |      % 4096 AS b
        |  FROM qtoks, UNNEST(generate_series(1, len(wd) - 1)) AS g(i)
        |  WHERE len(wd) >= 2
        |), cb AS (
        |  SELECT doc_id, b, COUNT(*) AS c FROM f GROUP BY 1, 2
        |), sc AS (
        |  SELECT cb.doc_id,
        |    CAST(SUM(cb.c * wt.w) AS BIGINT) AS score
        |  FROM cb JOIN wt USING (b) GROUP BY 1
        |), qflags AS (
        |  SELECT d.doc_id, coalesce(sc.score, 0) AS score,
        |    coalesce(sc.score, 0) > 0 AS quality_pass
        |  FROM documents d LEFT JOIN sc USING (doc_id)
        |), banded AS (
        |  SELECT q.doc_id, q.quality_pass, g.gopher_pass,
        |    CASE WHEN q.score <= -10 THEN 'a_le_m10'
        |         WHEN q.score < 0 THEN 'b_m9_m1'
        |         WHEN q.score = 0 THEN 'c_0'
        |         WHEN q.score < 10 THEN 'd_1_9'
        |         ELSE 'e_ge_10' END AS band
        |  FROM qflags q JOIN gflags g USING (doc_id)
        |)
        |SELECT band, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN gopher_pass THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_gopher_pass,
        |  CAST(SUM(CASE WHEN quality_pass THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_quality_pass,
        |  CAST(SUM(CASE WHEN quality_pass = gopher_pass THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_agree,
        |  CAST(SUM(CASE WHEN quality_pass = gopher_pass THEN 1 ELSE 0 END)
        |    AS DOUBLE) / COUNT(*) AS agreement
        |FROM banded GROUP BY 1 ORDER BY 1""".stripMargin,
    "tok2_vocab_coverage" ->
      """WITH counts AS (
        |  SELECT w, COUNT(*) AS c FROM (
        |    SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        |    FROM documents)
        |  GROUP BY 1
        |), ranked AS (
        |  SELECT c,
        |    row_number() OVER (ORDER BY c DESC, w) AS rk,
        |    SUM(c) OVER (ORDER BY c DESC, w ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM counts
        |), tot AS (
        |  SELECT CAST(SUM(c) AS BIGINT) AS t, COUNT(*) AS v FROM counts
        |)
        |SELECT k, CAST(cum AS BIGINT) AS top_k_tokens, t AS total_tokens,
        |  v AS n_vocab, CAST(cum AS DOUBLE) / CAST(t AS DOUBLE) AS coverage
        |FROM ranked CROSS JOIN tot
        |CROSS JOIN (VALUES (10), (100), (1000)) AS ks(k0)
        |CROSS JOIN LATERAL (SELECT CAST(k0 AS BIGINT) AS k) kk
        |WHERE rk = least(k, v)
        |ORDER BY k""".stripMargin,
    "chunk1_rag_chunking" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS ts
        |  FROM documents
        |), starts AS (
        |  SELECT doc_id, ts, g.s AS start
        |  FROM toks, UNNEST(generate_series(0, len(ts) - 1, 24)) AS g(s)
        |)
        |SELECT doc_id, CAST(start // 24 AS BIGINT) AS chunk_idx,
        |  CAST(len(ts[start + 1 : start + 32]) AS BIGINT) AS n_tokens,
        |  md5(array_to_string(ts[start + 1 : start + 32], ' ')) AS chunk_hash
        |FROM starts ORDER BY doc_id, chunk_idx""".stripMargin,
    "chunk2_chunk_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS ts
        |  FROM documents
        |), chunks AS (
        |  SELECT doc_id,
        |    md5(array_to_string(ts[g.s + 1 : g.s + 32], ' ')) AS chunk_hash
        |  FROM toks, UNNEST(generate_series(0, len(ts) - 1, 24)) AS g(s)
        |)
        |SELECT chunk_hash,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  COUNT(*) AS n_occurrences,
        |  MIN(doc_id) AS first_doc
        |FROM chunks GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2
        |ORDER BY chunk_hash""".stripMargin,
    "tok3_fertility" ->
      """WITH t AS (
        |  SELECT lang,
        |    CAST(len(string_split_regex(lower(trim(text)), '\s+'))
        |      AS BIGINT) AS nw,
        |    CAST(len(regexp_extract_all(text,
        |      '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS ns
        |  FROM documents
        |)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(nw) AS BIGINT) AS n_words,
        |  CAST(SUM(ns) AS BIGINT) AS n_subtokens,
        |  CAST(SUM(ns) AS DOUBLE) / CAST(SUM(nw) AS DOUBLE) AS fertility
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,
    "trunc1_context_census" ->
      """WITH t AS (
        |  SELECT CAST(len(string_split_regex(lower(trim(text)), '\s+'))
        |    AS BIGINT) AS n
        |  FROM documents
        |), x AS (
        |  SELECT n, CAST(g.cap AS BIGINT) AS cap
        |  FROM t, UNNEST([16, 32, 64]) AS g(cap)
        |)
        |SELECT cap, COUNT(*) AS n_docs,
        |  CAST(count_if(n > cap) AS BIGINT) AS n_docs_truncated,
        |  CAST(SUM(greatest(n - cap, 0)) AS BIGINT) AS tokens_lost,
        |  CAST(SUM(least(n, cap)) AS BIGINT) AS tokens_kept
        |FROM x GROUP BY 1 ORDER BY 1""".stripMargin,
    "bp1_boilerplate_prefix" ->
      """WITH agg AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |    MIN(text) AS lo, MAX(text) AS hi
        |  FROM documents GROUP BY 1
        |), lcp AS (
        |  SELECT source, n_docs, lo,
        |    COALESCE(list_max(list_filter(
        |      generate_series(1, least(length(lo), length(hi))),
        |      i -> substr(lo, 1, i) = substr(hi, 1, i))), 0) AS lcp_len
        |  FROM agg
        |)
        |SELECT source, n_docs, CAST(lcp_len AS BIGINT) AS lcp_len,
        |  md5(substr(lo, 1, CAST(lcp_len AS INTEGER))) AS prefix_digest
        |FROM lcp ORDER BY source""".stripMargin,
    "kw1_keyword_tagging" ->
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        |  FROM documents
        |)
        |SELECT source, category,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS docs_tagged,
        |  COUNT(*) AS n_hits
        |FROM toks
        |JOIN (VALUES
        |    ('join', 'joins'), ('merge', 'joins'), ('hash', 'joins'),
        |    ('scan', 'access'), ('filter', 'access'), ('table', 'access'),
        |    ('stream', 'streaming'), ('window', 'streaming'), ('batch', 'streaming'),
        |    ('slow', 'perf'), ('fast', 'perf'), ('big', 'perf'), ('small', 'perf'))
        |  AS d(kw, category) ON w = kw
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "cap1_domain_cap" ->
      """SELECT doc_id, source, n_chars FROM (
        |  SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents) t
        |WHERE rn <= 10 ORDER BY source, doc_id""".stripMargin,
    "cdc1_chunking" ->
      """WITH pos AS (
        |  SELECT doc_id,
        |    CASE WHEN ('0x' || substr(md5(substr(text, CAST(g.p AS INTEGER), 16)), 1, 15))::BIGINT
        |           % 64 = 0
        |      THEN g.p END AS bp
        |  FROM documents, UNNEST(generate_series(1, n_chars - 15)) AS g(p)
        |  WHERE n_chars >= 16
        |)
        |SELECT doc_id,
        |  CAST(count(bp) AS BIGINT) AS n_boundaries,
        |  CAST(count(bp) + 1 AS BIGINT) AS n_chunks,
        |  min(bp) AS first_boundary
        |FROM pos GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // bpe3: same 3-round merge chain as bpe2 (w carried through), then
    // symbol counts per word joined back onto the doc→word stream.
    "bpe3_encode" ->
      """WITH dw AS (
        |  SELECT doc_id, lang,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        |  FROM documents
        |), wc0 AS (
        |  SELECT w, COUNT(*) AS n FROM dw GROUP BY 1
        |), s0 AS (
        |  SELECT w, ' ' || regexp_replace(w, '(.)', '\1 ', 'g') AS seq, n FROM wc0
        |), p1 AS (
        |  SELECT sy[g.i] || ' ' || sy[g.i + 1] AS pair,
        |    CAST(SUM(n) AS BIGINT) AS cnt
        |  FROM (SELECT string_split(trim(seq), ' ') AS sy, n FROM s0) t,
        |       UNNEST(generate_series(1, len(sy) - 1)) AS g(i)
        |  WHERE len(sy) >= 2 GROUP BY 1
        |), r1 AS (SELECT pair FROM p1 ORDER BY cnt DESC, pair LIMIT 1
        |), s1 AS (
        |  SELECT w, replace(replace(seq,
        |      ' ' || r1.pair || ' ', ' ' || replace(r1.pair, ' ', '') || ' '),
        |      ' ' || r1.pair || ' ', ' ' || replace(r1.pair, ' ', '') || ' ') AS seq, n
        |  FROM s0, r1
        |), p2 AS (
        |  SELECT sy[g.i] || ' ' || sy[g.i + 1] AS pair,
        |    CAST(SUM(n) AS BIGINT) AS cnt
        |  FROM (SELECT string_split(trim(seq), ' ') AS sy, n FROM s1) t,
        |       UNNEST(generate_series(1, len(sy) - 1)) AS g(i)
        |  WHERE len(sy) >= 2 GROUP BY 1
        |), r2 AS (SELECT pair FROM p2 ORDER BY cnt DESC, pair LIMIT 1
        |), s2 AS (
        |  SELECT w, replace(replace(seq,
        |      ' ' || r2.pair || ' ', ' ' || replace(r2.pair, ' ', '') || ' '),
        |      ' ' || r2.pair || ' ', ' ' || replace(r2.pair, ' ', '') || ' ') AS seq, n
        |  FROM s1, r2
        |), p3 AS (
        |  SELECT sy[g.i] || ' ' || sy[g.i + 1] AS pair,
        |    CAST(SUM(n) AS BIGINT) AS cnt
        |  FROM (SELECT string_split(trim(seq), ' ') AS sy, n FROM s2) t,
        |       UNNEST(generate_series(1, len(sy) - 1)) AS g(i)
        |  WHERE len(sy) >= 2 GROUP BY 1
        |), r3 AS (SELECT pair FROM p3 ORDER BY cnt DESC, pair LIMIT 1
        |), s3 AS (
        |  SELECT w, replace(replace(seq,
        |      ' ' || r3.pair || ' ', ' ' || replace(r3.pair, ' ', '') || ' '),
        |      ' ' || r3.pair || ' ', ' ' || replace(r3.pair, ' ', '') || ' ') AS seq, n
        |  FROM s2, r3
        |), enc AS (
        |  SELECT w, CAST(len(string_split(trim(seq), ' ')) AS BIGINT) AS n_sym
        |  FROM s3)
        |SELECT lang, COUNT(*) AS n_words,
        |  CAST(SUM(e.n_sym) AS BIGINT) AS n_bpe_tokens,
        |  CAST(SUM(length(d.w)) AS BIGINT) AS n_chars,
        |  CAST(SUM(e.n_sym) AS DOUBLE) / CAST(SUM(length(d.w)) AS DOUBLE)
        |    AS tokens_per_char
        |FROM dw d JOIN enc e USING (w)
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // every 4-window min over the 40-bit-folded rolling 8-gram hashes,
    // (hash << 20 | pos) composite for the deterministic tie-break
    "win1_winnowing" ->
      """WITH g AS (
        |  SELECT doc_id, gs.p AS p,
        |    (('0x' || substr(md5(substr(text, CAST(gs.p AS INTEGER), 8)), 1, 15))::BIGINT)
        |      % 1099511627776 AS h
        |  FROM documents, UNNEST(generate_series(1, n_chars - 7)) AS gs(p)
        |  WHERE n_chars >= 8
        |), sel AS (
        |  SELECT DISTINCT doc_id, comp // 1048576 AS fp FROM (
        |    SELECT doc_id, p,
        |      MIN(h * 1048576 + p) OVER (PARTITION BY doc_id ORDER BY p
        |        ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS comp
        |    FROM g) t WHERE p >= 4
        |), c AS (
        |  SELECT doc_id, COUNT(*) AS n_selected,
        |    CAST(SUM(fp) AS BIGINT) AS fp_sum
        |  FROM sel GROUP BY 1
        |)
        |SELECT d.doc_id,
        |  CAST(GREATEST(d.n_chars - 7, 0) AS BIGINT) AS n_grams,
        |  CAST(COALESCE(c.n_selected, 0) AS BIGINT) AS n_selected,
        |  CAST(COALESCE(c.fp_sum, 0) AS BIGINT) AS fp_sum
        |FROM documents d LEFT JOIN c USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // same winnowed fingerprint sets on both splits; eval fps joined to
    // train fps, per-train-doc shared-count census
    "wcont1_winnowed_contamination" ->
      """WITH g AS (
        |  SELECT doc_id, gs.p AS p,
        |    (('0x' || substr(md5(substr(text, CAST(gs.p AS INTEGER), 8)), 1, 15))::BIGINT)
        |      % 1099511627776 AS h
        |  FROM documents, UNNEST(generate_series(1, n_chars - 7)) AS gs(p)
        |  WHERE n_chars >= 8
        |), sel AS MATERIALIZED (
        |  SELECT DISTINCT doc_id, comp // 1048576 AS fp FROM (
        |    SELECT doc_id, p,
        |      MIN(h * 1048576 + p) OVER (PARTITION BY doc_id ORDER BY p
        |        ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS comp
        |    FROM g) t WHERE p >= 4
        |), ev AS (
        |  SELECT DISTINCT fp FROM sel WHERE doc_id % 10 = 7
        |), tr AS (
        |  SELECT s.doc_id, COUNT(*) AS n_fps,
        |    CAST(count_if(e.fp IS NOT NULL) AS BIGINT) AS n_shared
        |  FROM sel s LEFT JOIN ev e ON e.fp = s.fp
        |  WHERE s.doc_id % 10 <> 7
        |  GROUP BY 1
        |)
        |SELECT d.doc_id,
        |  CAST(COALESCE(t.n_fps, 0) AS BIGINT) AS n_fps,
        |  CAST(COALESCE(t.n_shared, 0) AS BIGINT) AS n_shared,
        |  COALESCE(t.n_shared, 0) > 0 AS contaminated
        |FROM documents d LEFT JOIN tr t USING (doc_id)
        |WHERE d.doc_id % 10 <> 7
        |ORDER BY d.doc_id""".stripMargin,
    // signed 64-bucket hashing-trick features from the portable 60-bit
    // hash; per-doc exact-integer census over the non-zero buckets
    "fh1_feature_hashing" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        |  FROM documents
        |), h AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(w), 1, 15))::BIGINT AS h
        |  FROM w WHERE w <> ''
        |), f AS (
        |  SELECT doc_id, h % 64 AS idx,
        |    CAST(SUM(CASE WHEN (h // 64) % 2 = 0 THEN 1 ELSE -1 END)
        |      AS BIGINT) AS v
        |  FROM h GROUP BY 1, 2
        |)
        |SELECT doc_id, COUNT(*) AS nnz,
        |  CAST(SUM(ABS(v)) AS BIGINT) AS l1,
        |  CAST(SUM(v * v) AS BIGINT) AS sq_norm,
        |  CAST(SUM(idx * v) AS BIGINT) AS checksum
        |FROM f WHERE v <> 0
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // bpe2: the oracle replays the 3-round merge loop with chained CTEs
    // — same pair counting, same (cnt DESC, pair) selection, same
    // two-sweep replace convention.
    "bpe2_merge_loop" ->
      """WITH words AS (
        |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        |  FROM documents
        |), wc0 AS (
        |  SELECT w, COUNT(*) AS n FROM words GROUP BY 1
        |), s0 AS (
        |  SELECT ' ' || regexp_replace(w, '(.)', '\1 ', 'g') AS seq, n FROM wc0
        |), p1 AS (
        |  SELECT sy[g.i] || ' ' || sy[g.i + 1] AS pair,
        |    CAST(SUM(n) AS BIGINT) AS cnt
        |  FROM (SELECT string_split(trim(seq), ' ') AS sy, n FROM s0) t,
        |       UNNEST(generate_series(1, len(sy) - 1)) AS g(i)
        |  WHERE len(sy) >= 2 GROUP BY 1
        |), r1 AS (SELECT pair, cnt FROM p1 ORDER BY cnt DESC, pair LIMIT 1
        |), s1 AS (
        |  SELECT replace(replace(seq,
        |      ' ' || r1.pair || ' ', ' ' || replace(r1.pair, ' ', '') || ' '),
        |      ' ' || r1.pair || ' ', ' ' || replace(r1.pair, ' ', '') || ' ') AS seq, n
        |  FROM s0, r1
        |), p2 AS (
        |  SELECT sy[g.i] || ' ' || sy[g.i + 1] AS pair,
        |    CAST(SUM(n) AS BIGINT) AS cnt
        |  FROM (SELECT string_split(trim(seq), ' ') AS sy, n FROM s1) t,
        |       UNNEST(generate_series(1, len(sy) - 1)) AS g(i)
        |  WHERE len(sy) >= 2 GROUP BY 1
        |), r2 AS (SELECT pair, cnt FROM p2 ORDER BY cnt DESC, pair LIMIT 1
        |), s2 AS (
        |  SELECT replace(replace(seq,
        |      ' ' || r2.pair || ' ', ' ' || replace(r2.pair, ' ', '') || ' '),
        |      ' ' || r2.pair || ' ', ' ' || replace(r2.pair, ' ', '') || ' ') AS seq, n
        |  FROM s1, r2
        |), p3 AS (
        |  SELECT sy[g.i] || ' ' || sy[g.i + 1] AS pair,
        |    CAST(SUM(n) AS BIGINT) AS cnt
        |  FROM (SELECT string_split(trim(seq), ' ') AS sy, n FROM s2) t,
        |       UNNEST(generate_series(1, len(sy) - 1)) AS g(i)
        |  WHERE len(sy) >= 2 GROUP BY 1
        |), r3 AS (SELECT pair, cnt FROM p3 ORDER BY cnt DESC, pair LIMIT 1)
        |SELECT 1 AS merge_idx, pair, cnt AS n_occurrences FROM r1
        |UNION ALL SELECT 2, pair, cnt FROM r2
        |UNION ALL SELECT 3, pair, cnt FROM r3
        |ORDER BY merge_idx""".stripMargin,
    // usp1: the oracle replays the FULL unigram-LM EM chain — seed
    // substring counts, capped vocab, dyadic quantization (pure BIGINT
    // division), and BOTH Viterbi E-steps as recursive-CTE path
    // enumeration over HUGEINT products with the identical
    // (score DESC, segmentation ASC) tie-break. Words past the 15-char
    // 128-bit DP bound take the same char-wise fallback branch the
    // engine defines (dead on this corpus, present for parity).
    "usp1_unigram_lm" ->
      """WITH RECURSIVE words AS (
        |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        |  FROM documents
        |), wc AS (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS n FROM words
        |  WHERE length(w) > 0 GROUP BY 1
        |), cand AS (
        |  SELECT substr(w, CAST(g.i AS INTEGER), CAST(l.j AS INTEGER)) AS piece,
        |    CAST(SUM(n) AS BIGINT) AS cnt_seed
        |  FROM wc,
        |       UNNEST(generate_series(1, 3)) AS l(j),
        |       UNNEST(generate_series(1, length(w))) AS g(i)
        |  WHERE g.i + l.j - 1 <= length(w)
        |  GROUP BY 1
        |), vocab AS (
        |  -- top-100 by (cnt DESC, piece) OR single char, as one rank
        |  -- filter: under WITH RECURSIVE, DuckDB does not apply
        |  -- UNION's dedup inside a non-recursive CTE (observed on
        |  -- 1.0.0 - a top-100-UNION-chars form kept 23 duplicate char
        |  -- rows and inflated t0), so the dedup-free formulation is
        |  -- the portable one
        |  SELECT piece, cnt_seed FROM (
        |    SELECT piece, cnt_seed,
        |      row_number() OVER (ORDER BY cnt_seed DESC, piece) AS rk
        |    FROM cand) rc
        |  WHERE rk <= 100 OR length(piece) = 1
        |), t0 AS (SELECT CAST(SUM(cnt_seed) AS BIGINT) AS t FROM vocab
        |), v0 AS (
        |  SELECT piece, CAST(1 + (cnt_seed * 256) // t0.t AS HUGEINT)
        |    * CASE length(piece) WHEN 1 THEN 1 WHEN 2 THEN 256
        |        ELSE 65536 END AS f
        |  FROM vocab, t0
        |), seg1 AS (
        |  SELECT w, n, 0 AS pos, '' AS seg, CAST(1 AS HUGEINT) AS score
        |  FROM wc WHERE length(w) <= 15
        |  UNION ALL
        |  SELECT s.w, s.n, s.pos + length(v.piece),
        |    CASE WHEN s.seg = '' THEN v.piece
        |         ELSE s.seg || ' ' || v.piece END,
        |    s.score * v.f
        |  FROM seg1 s JOIN v0 v
        |    ON v.piece = substr(s.w, s.pos + 1, length(v.piece))
        |  WHERE s.pos < length(s.w)
        |), best1 AS (
        |  SELECT w, n, seg FROM (
        |    SELECT w, n, seg,
        |      row_number() OVER (PARTITION BY w
        |        ORDER BY score DESC, seg) AS rn
        |    FROM seg1 WHERE pos = length(w)) b1 WHERE rn = 1
        |  UNION ALL
        |  SELECT w, n, trim(regexp_replace(w, '(.)', '\1 ', 'g')) AS seg
        |  FROM wc WHERE length(w) > 15
        |), cnt1 AS (
        |  SELECT piece, CAST(SUM(n) AS BIGINT) AS cnt
        |  FROM (SELECT unnest(string_split(seg, ' ')) AS piece, n
        |        FROM best1) u1
        |  GROUP BY 1
        |), r1 AS (
        |  SELECT v.piece, CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt_r1
        |  FROM vocab v LEFT JOIN cnt1 c USING (piece)
        |), t1 AS (SELECT CAST(SUM(cnt_r1) AS BIGINT) AS t FROM r1
        |), v1 AS (
        |  SELECT piece, CAST(1 + (cnt_r1 * 256) // t1.t AS HUGEINT)
        |    * CASE length(piece) WHEN 1 THEN 1 WHEN 2 THEN 256
        |        ELSE 65536 END AS f
        |  FROM r1, t1
        |), seg2 AS (
        |  SELECT w, n, 0 AS pos, '' AS seg, CAST(1 AS HUGEINT) AS score
        |  FROM wc WHERE length(w) <= 15
        |  UNION ALL
        |  SELECT s.w, s.n, s.pos + length(v.piece),
        |    CASE WHEN s.seg = '' THEN v.piece
        |         ELSE s.seg || ' ' || v.piece END,
        |    s.score * v.f
        |  FROM seg2 s JOIN v1 v
        |    ON v.piece = substr(s.w, s.pos + 1, length(v.piece))
        |  WHERE s.pos < length(s.w)
        |), best2 AS (
        |  SELECT w, n, seg FROM (
        |    SELECT w, n, seg,
        |      row_number() OVER (PARTITION BY w
        |        ORDER BY score DESC, seg) AS rn
        |    FROM seg2 WHERE pos = length(w)) b2 WHERE rn = 1
        |  UNION ALL
        |  SELECT w, n, trim(regexp_replace(w, '(.)', '\1 ', 'g')) AS seg
        |  FROM wc WHERE length(w) > 15
        |), cnt2 AS (
        |  SELECT piece, CAST(SUM(n) AS BIGINT) AS cnt
        |  FROM (SELECT unnest(string_split(seg, ' ')) AS piece, n
        |        FROM best2) u2
        |  GROUP BY 1
        |), r2 AS (
        |  SELECT v.piece, CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt_r2
        |  FROM vocab v LEFT JOIN cnt2 c USING (piece)
        |), t2 AS (SELECT CAST(SUM(cnt_r2) AS BIGINT) AS t FROM r2)
        |SELECT v.piece, v.cnt_seed, r1.cnt_r1, r2.cnt_r2,
        |  CAST(r2.cnt_r2 AS DOUBLE) / CAST(t2.t AS DOUBLE) AS prob_r2
        |FROM vocab v
        |JOIN r1 USING (piece) JOIN r2 USING (piece), t2
        |ORDER BY r2.cnt_r2 DESC, v.piece LIMIT 50""".stripMargin,
    "bpe1_pair_counts" ->
      """WITH toks AS (
        |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        |  FROM documents
        |), pairs AS (
        |  SELECT substr(w, CAST(g.i AS INTEGER), 2) AS pair
        |  FROM toks, UNNEST(generate_series(1, length(w) - 1)) AS g(i)
        |  WHERE length(w) >= 2
        |)
        |SELECT pair, count(*) AS n_occurrences FROM pairs
        |GROUP BY pair ORDER BY n_occurrences DESC, pair LIMIT 50""".stripMargin,
    "e5_pq_assign" ->
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
        |  SELECT vec_id, g.i - 1 AS dim, len(embedding) // 4 AS subdim,
        |    CAST(floor(CAST(embedding[g.i] AS DOUBLE) * 1048576.0) AS BIGINT) AS qv
        |  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS g(i)
        |  WHERE len(embedding) % 4 = 0
        |), dists AS (
        |  SELECT v.vec_id, v.dim // v.subdim AS sub, c.label,
        |    CAST(SUM((qv - qc) * (qv - qc)) AS BIGINT) AS qdist
        |  FROM vq v JOIN cent c ON c.dim = v.dim
        |  GROUP BY 1, 2, 3
        |), ranked AS (
        |  SELECT vec_id, sub, label, qdist,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY qdist, label) AS rn
        |  FROM dists)
        |SELECT vec_id,
        |  MAX(CASE WHEN sub = 0 THEN label END) AS code0,
        |  MAX(CASE WHEN sub = 1 THEN label END) AS code1,
        |  MAX(CASE WHEN sub = 2 THEN label END) AS code2,
        |  MAX(CASE WHEN sub = 3 THEN label END) AS code3,
        |  CAST(SUM(qdist) AS BIGINT) AS qdist_total
        |FROM ranked WHERE rn = 1
        |GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    "hav1_having_topn" ->
      """WITH big AS (
        |  SELECT l_orderkey,
        |    CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
        |  FROM lineitem GROUP BY 1
        |  HAVING SUM(CAST(floor(l_quantity) AS BIGINT)) > 200)
        |SELECT c_name, o_orderkey, CAST(o_orderdate AS DATE) AS o_day,
        |  CAST(floor(o_totalprice * 100) AS BIGINT) AS total_cents, sum_qty
        |FROM orders JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_cents DESC, o_orderkey LIMIT 10""".stripMargin,
    "pack1_sequence_packing" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT)
        |      AS n_tok
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, n_tok,
        |    CAST(SUM(n_tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS cum
        |  FROM t)
        |SELECT (cum - n_tok) // 2048 AS bin_id,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS bin_tokens,
        |  MIN(doc_id) AS first_doc,
        |  MAX(doc_id) AS last_doc
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "shuf1_det_shuffle" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':shuf42'), 1, 15))::BIGINT AS h
        |  FROM documents)
        |SELECT doc_id, h,
        |  CAST(row_number() OVER (ORDER BY h, doc_id) - 1 AS BIGINT) AS shuffle_pos
        |FROM h ORDER BY doc_id""".stripMargin,
    "cur1_curriculum_bins" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n_tok
        |  FROM documents
        |), r AS (
        |  SELECT n_tok,
        |    CAST(row_number() OVER (ORDER BY n_tok, doc_id) - 1 AS BIGINT) AS pos,
        |    CAST(COUNT(*) OVER () AS BIGINT) AS n_total
        |  FROM t)
        |SELECT (pos * 4) // n_total AS bin,
        |  COUNT(*) AS n_docs,
        |  MIN(n_tok) AS min_tok,
        |  MAX(n_tok) AS max_tok,
        |  CAST(SUM(n_tok) AS BIGINT) AS sum_tok
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    "qf1_quality_funnel" ->
      """WITH f AS (
        |  SELECT n_chars,
        |    CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n_tok,
        |    CAST(len(list_distinct(string_split_regex(lower(trim(text)), '\s+'))) AS BIGINT) AS n_types,
        |    CAST(list_sum(list_transform(string_split_regex(lower(trim(text)), '\s+'),
        |      w -> length(w))) AS BIGINT) AS sum_len
        |  FROM documents
        |), g AS (
        |  SELECT COUNT(*) AS n_all,
        |    CAST(SUM(CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_len,
        |    CAST(SUM(CASE WHEN n_chars >= 100
        |      AND sum_len BETWEEN n_tok * 3 AND n_tok * 12 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_wordlen,
        |    CAST(SUM(CASE WHEN n_chars >= 100
        |      AND sum_len BETWEEN n_tok * 3 AND n_tok * 12
        |      AND n_types * 10 >= n_tok * 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_final
        |  FROM f)
        |SELECT * FROM (
        |  SELECT '1_all' AS stage, n_all AS n_docs FROM g
        |  UNION ALL SELECT '2_len_ge_100', n_len FROM g
        |  UNION ALL SELECT '3_mean_wordlen_3_12', n_wordlen FROM g
        |  UNION ALL SELECT '4_type_token_03', n_final FROM g)
        |ORDER BY stage""".stripMargin,
    "t11_oov_rate" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        |  FROM documents
        |), vocab AS (
        |  SELECT w AS vw FROM (
        |    SELECT w, COUNT(*) AS cnt FROM toks GROUP BY w
        |    ORDER BY cnt DESC, w LIMIT 1000)
        |), j AS (
        |  SELECT t.doc_id, CASE WHEN v.vw IS NULL THEN 1 ELSE 0 END AS oov
        |  FROM toks t LEFT JOIN vocab v ON t.w = v.vw)
        |SELECT doc_id, COUNT(*) AS n_tok,
        |  CAST(SUM(oov) AS BIGINT) AS n_oov,
        |  CAST(SUM(oov) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS oov_rate
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "rag1_chunk_windows" ->
      """WITH ch AS (
        |  SELECT doc_id, g.p AS p,
        |    ('0x' || substr(md5(substr(text, CAST(g.p AS INTEGER), 64)), 1, 15))::BIGINT AS h
        |  FROM documents, UNNEST(generate_series(1, n_chars - 63, 48)) AS g(p)
        |  WHERE n_chars >= 64)
        |SELECT doc_id, COUNT(*) AS n_chunks,
        |  CAST(COUNT(DISTINCT h) AS BIGINT) AS n_distinct_chunks,
        |  MAX(p) AS last_start,
        |  MIN(h) AS min_chunk_hash
        |FROM ch GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "cont1_contamination" ->
      """WITH wins AS (
        |  SELECT doc_id, doc_id % 20 = 0 AS is_eval,
        |    md5(substr(text, CAST(g.p AS INTEGER), 32)) AS h
        |  FROM documents, UNNEST(generate_series(1, n_chars - 31, 8)) AS g(p)
        |  WHERE n_chars >= 32
        |), ev AS (
        |  SELECT DISTINCT h FROM wins WHERE is_eval
        |), tr AS (
        |  SELECT doc_id, h FROM wins WHERE NOT is_eval
        |), agg AS (
        |  SELECT tr.doc_id, COUNT(*) AS n_windows,
        |    CAST(SUM(CASE WHEN ev.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_contaminated
        |  FROM tr LEFT JOIN ev ON tr.h = ev.h
        |  GROUP BY tr.doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(a.n_windows, 0) AS BIGINT) AS n_windows,
        |  CAST(coalesce(a.n_contaminated, 0) AS BIGINT) AS n_contaminated,
        |  coalesce(a.n_contaminated, 0) > 0 AS contaminated
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |WHERE NOT (d.doc_id % 20 = 0)
        |ORDER BY d.doc_id""".stripMargin,
    "cont2_contamination_spans" ->
      """WITH wins AS (
        |  SELECT doc_id, doc_id % 20 = 0 AS is_eval, g.p,
        |    md5(substr(text, CAST(g.p AS INTEGER), 32)) AS h
        |  FROM documents, UNNEST(generate_series(1, n_chars - 31, 8)) AS g(p)
        |  WHERE n_chars >= 32
        |), ev AS (
        |  SELECT DISTINCT h FROM wins WHERE is_eval
        |), hit AS (
        |  SELECT w.doc_id, (w.p - 1) // 8 AS i
        |  FROM wins w JOIN ev ON ev.h = w.h
        |  WHERE NOT w.is_eval
        |), isl AS (
        |  SELECT doc_id, i,
        |    i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS island
        |  FROM hit
        |), runs AS (
        |  SELECT doc_id, island, COUNT(*) AS run_windows
        |  FROM isl GROUP BY 1, 2)
        |SELECT doc_id, COUNT(*) AS n_runs,
        |  CAST(MAX(run_windows) AS BIGINT) AS max_run_windows,
        |  CAST((MAX(run_windows) - 1) * 8 + 32 AS BIGINT) AS max_span_chars
        |FROM runs GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "sdr1_span_removal" ->
      """WITH wins AS (
        |  SELECT doc_id, g.p AS p,
        |    md5(substr(text, CAST(g.p AS INTEGER), 32)) AS h
        |  FROM documents, UNNEST(generate_series(1, n_chars - 31, 8)) AS g(p)
        |  WHERE n_chars >= 32
        |), duph AS (
        |  SELECT h FROM (SELECT DISTINCT h, doc_id FROM wins)
        |  GROUP BY h HAVING COUNT(*) >= 2
        |), dw AS (
        |  SELECT w.doc_id, w.p AS s, w.p + 31 AS e
        |  FROM wins w JOIN duph USING (h)
        |), brk AS (
        |  SELECT doc_id, s, e,
        |    CASE WHEN max(e) OVER pm IS NULL OR s > max(e) OVER pm + 1
        |         THEN 1 ELSE 0 END AS b
        |  FROM dw WINDOW pm AS (PARTITION BY doc_id ORDER BY s
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |), isl AS (
        |  SELECT doc_id, s, e,
        |    SUM(b) OVER (PARTITION BY doc_id ORDER BY s
        |      ROWS UNBOUNDED PRECEDING) AS island
        |  FROM brk
        |), merged AS (
        |  SELECT doc_id, island, MIN(s) AS s, MAX(e) AS e
        |  FROM isl GROUP BY 1, 2
        |), stats AS (
        |  SELECT doc_id, COUNT(*) AS n_spans_removed,
        |    CAST(SUM(e - s + 1) AS BIGINT) AS removed_chars,
        |    MAX(e) AS last_e
        |  FROM merged GROUP BY 1
        |), before AS (
        |  SELECT doc_id,
        |    coalesce(lag(e) OVER ws + 1, 1) AS ks,
        |    s - coalesce(lag(e) OVER ws + 1, 1) AS kl
        |  FROM merged WINDOW ws AS (PARTITION BY doc_id ORDER BY s)
        |), segs AS (
        |  SELECT doc_id, ks, kl FROM before
        |  UNION ALL
        |  SELECT st.doc_id, st.last_e + 1 AS ks, d.n_chars - st.last_e AS kl
        |  FROM stats st JOIN documents d USING (doc_id)
        |), rebuilt AS (
        |  SELECT s.doc_id,
        |    string_agg(substr(d.text, CAST(s.ks AS INTEGER), CAST(s.kl AS INTEGER)),
        |               '' ORDER BY s.ks) AS clean_text
        |  FROM segs s JOIN documents d USING (doc_id)
        |  WHERE s.kl > 0
        |  GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(st.n_spans_removed, 0) AS BIGINT) AS n_spans_removed,
        |  CAST(coalesce(st.removed_chars, 0) AS BIGINT) AS removed_chars,
        |  CASE WHEN st.doc_id IS NULL THEN d.text
        |       ELSE coalesce(r.clean_text, '') END AS clean_text,
        |  CAST(length(CASE WHEN st.doc_id IS NULL THEN d.text
        |       ELSE coalesce(r.clean_text, '') END) AS BIGINT) AS n_chars_clean
        |FROM documents d
        |LEFT JOIN stats st USING (doc_id)
        |LEFT JOIN rebuilt r USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "sdr2_span_removal_keep_first" ->
      """WITH wins AS (
        |  SELECT doc_id, g.p AS p,
        |    md5(substr(text, CAST(g.p AS INTEGER), 32)) AS h
        |  FROM documents, UNNEST(generate_series(1, n_chars - 31, 8)) AS g(p)
        |  WHERE n_chars >= 32
        |), duph AS (
        |  SELECT h, MIN(doc_id) AS first_doc
        |  FROM (SELECT DISTINCT h, doc_id FROM wins)
        |  GROUP BY h HAVING COUNT(*) >= 2
        |), dw AS (
        |  SELECT w.doc_id, w.p AS s, w.p + 31 AS e
        |  FROM wins w JOIN duph USING (h)
        |  WHERE w.doc_id <> duph.first_doc
        |), brk AS (
        |  SELECT doc_id, s, e,
        |    CASE WHEN max(e) OVER pm IS NULL OR s > max(e) OVER pm + 1
        |         THEN 1 ELSE 0 END AS b
        |  FROM dw WINDOW pm AS (PARTITION BY doc_id ORDER BY s
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |), isl AS (
        |  SELECT doc_id, s, e,
        |    SUM(b) OVER (PARTITION BY doc_id ORDER BY s
        |      ROWS UNBOUNDED PRECEDING) AS island
        |  FROM brk
        |), merged AS (
        |  SELECT doc_id, island, MIN(s) AS s, MAX(e) AS e
        |  FROM isl GROUP BY 1, 2
        |), stats AS (
        |  SELECT doc_id, COUNT(*) AS n_spans_removed,
        |    CAST(SUM(e - s + 1) AS BIGINT) AS removed_chars,
        |    MAX(e) AS last_e
        |  FROM merged GROUP BY 1
        |), before AS (
        |  SELECT doc_id,
        |    coalesce(lag(e) OVER ws + 1, 1) AS ks,
        |    s - coalesce(lag(e) OVER ws + 1, 1) AS kl
        |  FROM merged WINDOW ws AS (PARTITION BY doc_id ORDER BY s)
        |), segs AS (
        |  SELECT doc_id, ks, kl FROM before
        |  UNION ALL
        |  SELECT st.doc_id, st.last_e + 1 AS ks, d.n_chars - st.last_e AS kl
        |  FROM stats st JOIN documents d USING (doc_id)
        |), rebuilt AS (
        |  SELECT s.doc_id,
        |    string_agg(substr(d.text, CAST(s.ks AS INTEGER), CAST(s.kl AS INTEGER)),
        |               '' ORDER BY s.ks) AS clean_text
        |  FROM segs s JOIN documents d USING (doc_id)
        |  WHERE s.kl > 0
        |  GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(st.n_spans_removed, 0) AS BIGINT) AS n_spans_removed,
        |  CAST(coalesce(st.removed_chars, 0) AS BIGINT) AS removed_chars,
        |  CASE WHEN st.doc_id IS NULL THEN d.text
        |       ELSE coalesce(r.clean_text, '') END AS clean_text,
        |  CAST(length(CASE WHEN st.doc_id IS NULL THEN d.text
        |       ELSE coalesce(r.clean_text, '') END) AS BIGINT) AS n_chars_clean
        |FROM documents d
        |LEFT JOIN stats st USING (doc_id)
        |LEFT JOIN rebuilt r USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // st24 reuses gq1's CTE chain and aggregates the gate per source —
    // the streaming census must equal the batch one exactly.
    "st24_stream_quality_gate" ->
      (gopherOracleCtes +
        """
          |SELECT d.source, COUNT(*) AS n_docs,
          |  CAST(count_if(n_words BETWEEN 5 AND 100000
          |    AND top_word_n * 8 <= n_words
          |    AND top_bigram_n * 5 <= n_words - 1
          |    AND dup_trigram_n * 10 <= n_trigrams * 3
          |    AND word_chars >= n_words * 2
          |    AND word_chars <= n_words * 10) AS BIGINT) AS n_pass,
          |  CAST(SUM(CASE WHEN n_words BETWEEN 5 AND 100000
          |    AND top_word_n * 8 <= n_words
          |    AND top_bigram_n * 5 <= n_words - 1
          |    AND dup_trigram_n * 10 <= n_trigrams * 3
          |    AND word_chars >= n_words * 2
          |    AND word_chars <= n_words * 10 THEN n_words ELSE 0 END)
          |    AS BIGINT) AS pass_words
          |FROM m JOIN documents d USING (doc_id)
          |GROUP BY 1 ORDER BY 1""".stripMargin),
    "c4g1_c4_gate" -> c4GateSql,
    // card2 splices the REGISTERED oracle SQL of every lens as CTEs —
    // one definition per lens, composition can't drift
    "card2_drift_scorecard" ->
      s"""WITH tv AS (${ExperimentQueries.oracles("tv1_distribution_shift")}),
         |he AS (${ExperimentQueries.oracles("hell1_hellinger_drift")}),
         |cs AS (${ExperimentQueries.oracles("csim1_source_profile_cosine")}),
         |nv AS (${ExperimentQueries.oracles("nov1_ngram_novelty")}),
         |ch AS (${ExperimentQueries.oracles("chao1_vocab_richness")}),
         |jk AS (${ExperimentQueries.oracles("jk1_source_influence")}),
         |c4 AS ($c4GateSql)
         |SELECT tv.source, tv.n_tokens, tv.tv, he.hell2, cs.cosine,
         |  nv.novelty, ch.d AS vocab, ch.chao1, jk.n_docs, jk.influence,
         |  CAST(c4.n_pass AS DOUBLE) / CAST(c4.n_docs AS DOUBLE)
         |    AS c4_pass_rate
         |FROM tv JOIN he USING (source) JOIN cs USING (source)
         |  JOIN nv USING (source) JOIN ch USING (source)
         |  JOIN jk USING (source) JOIN c4 USING (source)
         |ORDER BY tv.source""".stripMargin,
    // the streamed census converges to the batch one — the oracle IS
    // tv1's SQL
    "st27_stream_drift_gate" ->
      """WITH toks AS (
        |  SELECT source, u.term FROM documents,
        |    UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS u(term)
        |  WHERE u.term <> ''
        |), sc AS (SELECT source, term, COUNT(*) AS cs FROM toks GROUP BY 1, 2),
        |g AS (SELECT term, COUNT(*) AS c FROM toks GROUP BY 1),
        |ns AS (SELECT source, COUNT(*) AS n_s FROM toks GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS n FROM toks),
        |agg AS (
        |  SELECT sc.source, ns.n_s, tot.n,
        |    CAST(SUM(abs(sc.cs * tot.n - g.c * ns.n_s)) AS BIGINT) AS s1,
        |    CAST(SUM(g.c) AS BIGINT) AS cov
        |  FROM sc JOIN ns ON sc.source = ns.source CROSS JOIN tot
        |    JOIN g ON sc.term = g.term
        |  GROUP BY 1, 2, 3
        |)
        |SELECT source, n_s AS n_tokens,
        |  CAST(s1 + n_s * (n - cov) AS BIGINT) AS tv_num,
        |  CAST(s1 + n_s * (n - cov) AS DOUBLE) /
        |    (2.0 * CAST(n_s AS DOUBLE) * CAST(n AS DOUBLE)) AS tv
        |FROM agg ORDER BY source""".stripMargin,
    // the streamed min-k state converges to the batch bottom-256 —
    // qsk1's direct-path arithmetic over events
    "st28_stream_quantile_sketch" ->
      """WITH e AS (
        |  SELECT CAST(floor(value * 100) AS BIGINT) AS cents,
        |    ('0x' || substr(md5('qsk2:' || event_id), 1, 15))::BIGINT AS h
        |  FROM events
        |), direct AS (SELECT cents, h FROM e ORDER BY h, cents LIMIT 256),
        |dr AS (
        |  SELECT cents, ROW_NUMBER() OVER (ORDER BY cents, h) AS rk,
        |    COUNT(*) OVER () AS kk FROM direct
        |)
        |SELECT MAX(kk) AS k_sample,
        |  MAX(CASE WHEN rk = CAST(ceil(kk * 0.25) AS BIGINT) THEN cents END) AS p25_est,
        |  MAX(CASE WHEN rk = CAST(ceil(kk * 0.5) AS BIGINT) THEN cents END) AS p50_est,
        |  MAX(CASE WHEN rk = CAST(ceil(kk * 0.75) AS BIGINT) THEN cents END) AS p75_est,
        |  MAX(CASE WHEN rk = CAST(ceil(kk * 0.9) AS BIGINT) THEN cents END) AS p90_est
        |FROM dr""".stripMargin,
    "gq1_gopher_quality" ->
      (gopherOracleCtes +
        """
        |SELECT *,
        |  CAST(top_word_n AS DOUBLE) / nullif(n_words, 0) AS top_word_frac,
        |  CAST(dup_trigram_n AS DOUBLE) / nullif(n_trigrams, 0) AS dup_trigram_frac,
        |  (n_words BETWEEN 5 AND 100000
        |   AND top_word_n * 8 <= n_words
        |   AND top_bigram_n * 5 <= n_words - 1
        |   AND dup_trigram_n * 10 <= n_trigrams * 3
        |   AND word_chars >= n_words * 2
        |   AND word_chars <= n_words * 10) AS gopher_pass
        |FROM m ORDER BY doc_id""".stripMargin),
    // tm3: dedup keep + gopher gate (the shared CTE chain's relation m,
    // metrics are per-doc so filtering survivors afterwards is exact) +
    // md5 shuffle order + cumulative-offset packing, first 20 steps
    "tm3_training_manifest" ->
      (gopherOracleCtes + """,
        |keep AS (
        |  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY sha256(text)
        |), surv AS (
        |  SELECT m.doc_id, m.n_words AS n_tok
        |  FROM m JOIN keep k ON k.doc_id = m.doc_id
        |  WHERE m.n_words BETWEEN 5 AND 100000
        |    AND m.top_word_n * 8 <= m.n_words
        |    AND m.top_bigram_n * 5 <= m.n_words - 1
        |    AND m.dup_trigram_n * 10 <= m.n_trigrams * 3
        |    AND m.word_chars >= m.n_words * 2
        |    AND m.word_chars <= m.n_words * 10
        |), ordered AS (
        |  SELECT doc_id, n_tok,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':shuf42'), 1, 15))::BIGINT AS h
        |  FROM surv
        |), cum AS (
        |  SELECT doc_id, n_tok,
        |    SUM(n_tok) OVER (ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) AS c
        |  FROM ordered
        |), binned AS (
        |  SELECT doc_id, n_tok, (c - n_tok) // 2048 AS bin_id FROM cum
        |)
        |SELECT CAST(bin_id AS BIGINT) AS bin_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS step_tokens,
        |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc,
        |  CAST(SUM(doc_id * n_tok) AS BIGINT) AS content_digest
        |FROM binned WHERE bin_id < 20
        |GROUP BY bin_id ORDER BY bin_id""".stripMargin),
    // tm2: sdr1's span-removal chain rebuilds clean_text per doc, gq1's
    // gopher chain re-judges the CLEANED relation (same CTEs, base
    // swapped from documents to the cleaned survivors), and the census
    // aggregates both with a portable content digest.
    "tm2_clean_corpus" ->
      """WITH wins AS (
        |  SELECT doc_id, g.p AS p,
        |    md5(substr(text, CAST(g.p AS INTEGER), 32)) AS h
        |  FROM documents, UNNEST(generate_series(1, n_chars - 31, 8)) AS g(p)
        |  WHERE n_chars >= 32
        |), duph AS (
        |  SELECT h FROM (SELECT DISTINCT h, doc_id FROM wins)
        |  GROUP BY h HAVING COUNT(*) >= 2
        |), dw AS (
        |  SELECT w.doc_id, w.p AS s, w.p + 31 AS e
        |  FROM wins w JOIN duph USING (h)
        |), brk AS (
        |  SELECT doc_id, s, e,
        |    CASE WHEN max(e) OVER pm IS NULL OR s > max(e) OVER pm + 1
        |         THEN 1 ELSE 0 END AS b
        |  FROM dw WINDOW pm AS (PARTITION BY doc_id ORDER BY s
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |), isl AS (
        |  SELECT doc_id, s, e,
        |    SUM(b) OVER (PARTITION BY doc_id ORDER BY s
        |      ROWS UNBOUNDED PRECEDING) AS island
        |  FROM brk
        |), merged AS (
        |  SELECT doc_id, island, MIN(s) AS s, MAX(e) AS e
        |  FROM isl GROUP BY 1, 2
        |), sp_stats AS (
        |  SELECT doc_id, MAX(e) AS last_e FROM merged GROUP BY 1
        |), before AS (
        |  SELECT doc_id,
        |    coalesce(lag(e) OVER ws + 1, 1) AS ks,
        |    s - coalesce(lag(e) OVER ws + 1, 1) AS kl
        |  FROM merged WINDOW ws AS (PARTITION BY doc_id ORDER BY s)
        |), segs AS (
        |  SELECT doc_id, ks, kl FROM before
        |  UNION ALL
        |  SELECT st.doc_id, st.last_e + 1 AS ks, d.n_chars - st.last_e AS kl
        |  FROM sp_stats st JOIN documents d USING (doc_id)
        |), rebuilt AS (
        |  SELECT s.doc_id,
        |    string_agg(substr(d.text, CAST(s.ks AS INTEGER), CAST(s.kl AS INTEGER)),
        |               '' ORDER BY s.ks) AS clean_text
        |  FROM segs s JOIN documents d USING (doc_id)
        |  WHERE s.kl > 0
        |  GROUP BY 1
        |), cleandocs AS (
        |  SELECT d.doc_id, d.source, d.n_chars AS n_chars_input,
        |    CASE WHEN st.doc_id IS NULL THEN d.text
        |         ELSE coalesce(r.clean_text, '') END AS text
        |  FROM documents d
        |  LEFT JOIN sp_stats st USING (doc_id)
        |  LEFT JOIN rebuilt r USING (doc_id)
        |), ne AS (
        |  SELECT * FROM cleandocs WHERE length(text) >= 32
        |), toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM ne
        |), words AS (
        |  SELECT doc_id, w[g.i] AS wd
        |  FROM toks, UNNEST(generate_series(1, len(w))) AS g(i)
        |), wstats AS (
        |  SELECT doc_id, COUNT(*) AS n_words,
        |    CAST(SUM(length(wd)) AS BIGINT) AS word_chars
        |  FROM words GROUP BY 1
        |), topw AS (
        |  SELECT doc_id, c AS top_word_n FROM (
        |    SELECT doc_id, wd, COUNT(*) AS c,
        |      row_number() OVER (PARTITION BY doc_id
        |        ORDER BY COUNT(*) DESC, wd) AS rn
        |    FROM words GROUP BY doc_id, wd) t WHERE rn = 1
        |), bg AS (
        |  SELECT doc_id, w[g.i] || ' ' || w[g.i + 1] AS g2
        |  FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS g(i)
        |  WHERE len(w) >= 2
        |), topbg AS (
        |  SELECT doc_id, c AS top_bigram_n FROM (
        |    SELECT doc_id, g2, COUNT(*) AS c,
        |      row_number() OVER (PARTITION BY doc_id
        |        ORDER BY COUNT(*) DESC, g2) AS rn
        |    FROM bg GROUP BY doc_id, g2) t WHERE rn = 1
        |), tg AS (
        |  SELECT doc_id, w[g.i] || ' ' || w[g.i + 1] || ' ' || w[g.i + 2] AS g3
        |  FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS g(i)
        |  WHERE len(w) >= 3
        |), tgc AS (
        |  SELECT doc_id, g3, COUNT(*) AS c FROM tg GROUP BY 1, 2
        |), tri AS (
        |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_trigrams,
        |    CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup_trigram_n
        |  FROM tgc GROUP BY 1
        |), m AS (
        |  SELECT d.doc_id,
        |    CAST(coalesce(ws.n_words, 0) AS BIGINT) AS n_words,
        |    CAST(coalesce(ws.word_chars, 0) AS BIGINT) AS word_chars,
        |    CAST(coalesce(tw.top_word_n, 0) AS BIGINT) AS top_word_n,
        |    CAST(coalesce(tb.top_bigram_n, 0) AS BIGINT) AS top_bigram_n,
        |    CAST(coalesce(tr.n_trigrams, 0) AS BIGINT) AS n_trigrams,
        |    CAST(coalesce(tr.dup_trigram_n, 0) AS BIGINT) AS dup_trigram_n
        |  FROM ne d
        |  LEFT JOIN wstats ws USING (doc_id)
        |  LEFT JOIN topw tw USING (doc_id)
        |  LEFT JOIN topbg tb USING (doc_id)
        |  LEFT JOIN tri tr USING (doc_id)
        |), gates AS (
        |  SELECT doc_id FROM m
        |  WHERE n_words BETWEEN 5 AND 100000
        |    AND top_word_n * 8 <= n_words
        |    AND top_bigram_n * 5 <= n_words - 1
        |    AND dup_trigram_n * 10 <= n_trigrams * 3
        |    AND word_chars >= n_words * 2
        |    AND word_chars <= n_words * 10
        |), fin AS (
        |  SELECT ne.* FROM ne JOIN gates USING (doc_id)
        |), a AS (
        |  SELECT source, COUNT(*) AS n_input,
        |    CAST(SUM(n_chars_input) AS BIGINT) AS chars_input,
        |    CAST(SUM(CASE WHEN length(text) >= 32 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_after_clean,
        |    CAST(SUM(CASE WHEN length(text) >= 32 THEN length(text)
        |      ELSE 0 END) AS BIGINT) AS chars_clean
        |  FROM cleandocs GROUP BY 1
        |), f AS (
        |  SELECT source, COUNT(*) AS n_final,
        |    CAST(SUM(length(text)) AS BIGINT) AS chars_final,
        |    CAST(SUM(('0x' || substr(md5(text), 1, 15))::BIGINT % 1000003)
        |      AS BIGINT) AS clean_digest
        |  FROM fin GROUP BY 1
        |)
        |SELECT a.source, a.n_input, a.chars_input, a.n_after_clean,
        |  a.chars_clean,
        |  CAST(coalesce(f.n_final, 0) AS BIGINT) AS n_final,
        |  CAST(coalesce(f.chars_final, 0) AS BIGINT) AS chars_final,
        |  CAST(coalesce(f.clean_digest, 0) AS BIGINT) AS clean_digest
        |FROM a LEFT JOIN f ON f.source = a.source
        |ORDER BY a.source""".stripMargin,
    // tm1: both gates replayed via the SAME CTE chains as their
    // standalone oracles (gq1 / qc1), intersected stage by stage; the
    // gates are per-document, so gating survivors == gating all docs
    // then intersecting.
    "tm1_training_funnel" ->
      """WITH keep AS (
        |  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY sha256(text)
        |), toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM documents
        |), words AS (
        |  SELECT doc_id, w[g.i] AS wd
        |  FROM toks, UNNEST(generate_series(1, len(w))) AS g(i)
        |), wstats AS (
        |  SELECT doc_id, COUNT(*) AS n_words,
        |    CAST(SUM(length(wd)) AS BIGINT) AS word_chars
        |  FROM words GROUP BY 1
        |), topw AS (
        |  SELECT doc_id, c AS top_word_n FROM (
        |    SELECT doc_id, wd, COUNT(*) AS c,
        |      row_number() OVER (PARTITION BY doc_id
        |        ORDER BY COUNT(*) DESC, wd) AS rn
        |    FROM words GROUP BY doc_id, wd) t WHERE rn = 1
        |), bgr AS (
        |  SELECT doc_id, w[g.i] || ' ' || w[g.i + 1] AS g2
        |  FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS g(i)
        |  WHERE len(w) >= 2
        |), topbg AS (
        |  SELECT doc_id, c AS top_bigram_n FROM (
        |    SELECT doc_id, g2, COUNT(*) AS c,
        |      row_number() OVER (PARTITION BY doc_id
        |        ORDER BY COUNT(*) DESC, g2) AS rn
        |    FROM bgr GROUP BY doc_id, g2) t WHERE rn = 1
        |), tg AS (
        |  SELECT doc_id, w[g.i] || ' ' || w[g.i + 1] || ' ' || w[g.i + 2] AS g3
        |  FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS g(i)
        |  WHERE len(w) >= 3
        |), tgc AS (
        |  SELECT doc_id, g3, COUNT(*) AS c FROM tg GROUP BY 1, 2
        |), tri AS (
        |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_trigrams,
        |    CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup_trigram_n
        |  FROM tgc GROUP BY 1
        |), gm AS (
        |  SELECT d.doc_id,
        |    coalesce(ws.n_words, 0) AS n_words,
        |    coalesce(ws.word_chars, 0) AS word_chars,
        |    coalesce(tw.top_word_n, 0) AS top_word_n,
        |    coalesce(tb.top_bigram_n, 0) AS top_bigram_n,
        |    coalesce(tr.n_trigrams, 0) AS n_trigrams,
        |    coalesce(tr.dup_trigram_n, 0) AS dup_trigram_n
        |  FROM documents d
        |  LEFT JOIN wstats ws USING (doc_id)
        |  LEFT JOIN topw tw USING (doc_id)
        |  LEFT JOIN topbg tb USING (doc_id)
        |  LEFT JOIN tri tr USING (doc_id)
        |), gpass AS (
        |  SELECT doc_id FROM gm
        |  WHERE n_words BETWEEN 5 AND 100000
        |    AND top_word_n * 8 <= n_words
        |    AND top_bigram_n * 5 <= n_words - 1
        |    AND dup_trigram_n * 10 <= n_trigrams * 3
        |    AND word_chars >= n_words * 2
        |    AND word_chars <= n_words * 10
        |), wt AS (
        |  SELECT g.b AS b,
        |    (('0x' || substr(md5(CAST(g.b AS VARCHAR)), 1, 15))::BIGINT % 17) - 8 AS w
        |  FROM UNNEST(generate_series(0, 4095)) AS g(b)
        |), f AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(w[g.i] || ' ' || w[g.i + 1]), 1, 15))::BIGINT
        |      % 4096 AS b
        |  FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS g(i)
        |  WHERE len(w) >= 2
        |), cb AS (
        |  SELECT doc_id, b, COUNT(*) AS c FROM f GROUP BY 1, 2
        |), sc AS (
        |  SELECT cb.doc_id, CAST(SUM(cb.c * wt.w) AS BIGINT) AS score
        |  FROM cb JOIN wt USING (b) GROUP BY 1
        |), qpass AS (
        |  SELECT d.doc_id FROM documents d LEFT JOIN sc USING (doc_id)
        |  WHERE coalesce(sc.score, 0) > 0
        |), s1 AS (
        |  SELECT d.doc_id, d.lang, d.n_chars FROM documents d JOIN keep USING (doc_id)
        |), s2 AS (
        |  SELECT s1.* FROM s1 JOIN gpass USING (doc_id)
        |), s3 AS (
        |  SELECT s2.* FROM s2 JOIN qpass USING (doc_id)
        |), s4 AS (
        |  SELECT * FROM s3 WHERE lang IN ('en', 'de', 'fr', 'es')
        |)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS stage_ord, 'input' AS stage,
        |    COUNT(*) AS n_docs, CAST(coalesce(SUM(n_chars), 0) AS BIGINT) AS n_chars
        |  FROM documents
        |  UNION ALL SELECT 2, 'exact_dedup', COUNT(*),
        |    CAST(coalesce(SUM(n_chars), 0) AS BIGINT) FROM s1
        |  UNION ALL SELECT 3, 'gopher_gate', COUNT(*),
        |    CAST(coalesce(SUM(n_chars), 0) AS BIGINT) FROM s2
        |  UNION ALL SELECT 4, 'quality_gate', COUNT(*),
        |    CAST(coalesce(SUM(n_chars), 0) AS BIGINT) FROM s3
        |  UNION ALL SELECT 5, 'lang_allowlist', COUNT(*),
        |    CAST(coalesce(SUM(n_chars), 0) AS BIGINT) FROM s4
        |) ORDER BY stage_ord""".stripMargin,
    "qc1_linear_quality" ->
      """WITH wt AS (
        |  SELECT g.b AS b,
        |    (('0x' || substr(md5(CAST(g.b AS VARCHAR)), 1, 15))::BIGINT % 17) - 8 AS w
        |  FROM UNNEST(generate_series(0, 4095)) AS g(b)
        |), toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS wd
        |  FROM documents
        |), f AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(wd[g.i] || ' ' || wd[g.i + 1]), 1, 15))::BIGINT
        |      % 4096 AS b
        |  FROM toks, UNNEST(generate_series(1, len(wd) - 1)) AS g(i)
        |  WHERE len(wd) >= 2
        |), cb AS (
        |  SELECT doc_id, b, COUNT(*) AS c FROM f GROUP BY 1, 2
        |), sc AS (
        |  SELECT cb.doc_id, CAST(SUM(cb.c) AS BIGINT) AS n_feats,
        |    CAST(SUM(cb.c * wt.w) AS BIGINT) AS score
        |  FROM cb JOIN wt USING (b) GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(sc.n_feats, 0) AS BIGINT) AS n_feats,
        |  CAST(coalesce(sc.score, 0) AS BIGINT) AS score,
        |  coalesce(sc.score, 0) > 0 AS quality_pass
        |FROM documents d LEFT JOIN sc USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // the full classifier replayed: hashed char-3-gram buckets, train
    // split's exact-integer vote-share weights, eval votes, argmax with
    // lang tiebreak, per-source confusion counts
    "lid1_language_id" ->
      """WITH g AS (
        |  SELECT d.doc_id, d.lang, (d.doc_id % 7 = 3) AS ev,
        |    ('0x' || substr(md5(substr(lower(d.text), CAST(gs.p AS INTEGER), 3)),
        |      1, 15))::BIGINT % 4096 AS b
        |  FROM documents d, UNNEST(generate_series(1, d.n_chars - 2)) AS gs(p)
        |  WHERE d.n_chars >= 3
        |), lc AS (
        |  SELECT b, lang, COUNT(*) AS cl FROM g WHERE NOT ev GROUP BY 1, 2
        |), bc AS (
        |  SELECT b, SUM(cl) AS cb FROM lc GROUP BY 1
        |), wt AS (
        |  SELECT lc.b, lc.lang AS cand_lang, (lc.cl * 1048576) // bc.cb AS w
        |  FROM lc JOIN bc USING (b)
        |), votes AS (
        |  SELECT g.doc_id, wt.cand_lang, SUM(wt.w) AS score
        |  FROM g JOIN wt USING (b) WHERE g.ev
        |  GROUP BY 1, 2
        |), pred AS (
        |  SELECT doc_id, cand_lang AS pred_lang FROM (
        |    SELECT doc_id, cand_lang, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, cand_lang) AS rn
        |    FROM votes) t WHERE rn = 1
        |)
        |SELECT d.source, d.lang AS true_lang,
        |  COALESCE(p.pred_lang, 'und') AS pred_lang,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs
        |FROM documents d LEFT JOIN pred p USING (doc_id)
        |WHERE d.doc_id % 7 = 3
        |GROUP BY 1, 2, 3
        |ORDER BY 1, 2, 3""".stripMargin,
    "dsir1_importance_weights" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM documents
        |), f AS (
        |  SELECT doc_id, lang,
        |    ('0x' || substr(md5(w[g.i] || ' ' || w[g.i + 1]), 1, 15))::BIGINT
        |      % 4096 AS b
        |  FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS g(i)
        |  WHERE len(w) >= 2
        |), c AS (
        |  SELECT b, CAST(count_if(lang = 'en') AS BIGINT) AS pc,
        |    COUNT(*) AS qc
        |  FROM f GROUP BY 1
        |), t AS (
        |  SELECT CAST(SUM(pc) AS BIGINT) AS ptot,
        |    CAST(SUM(qc) AS BIGINT) AS qtot FROM c
        |), r AS (
        |  SELECT b,
        |    ((pc + 1) * (qtot + 4096) * 1048576)
        |      // ((qc + 1) * (ptot + 4096)) AS r
        |  FROM c, t
        |), sc AS (
        |  SELECT f.doc_id, COUNT(*) AS n_feats, CAST(SUM(r.r) AS BIGINT) AS r_sum
        |  FROM f JOIN r USING (b) GROUP BY 1)
        |SELECT doc_id, n_feats,
        |  CAST(r_sum AS DOUBLE) / CAST(n_feats AS DOUBLE) / 1048576.0
        |    AS dsir_score,
        |  r_sum > n_feats * 1048576 AS target_like
        |FROM sc ORDER BY doc_id""".stripMargin,
    "ppl1_lm_doc_score" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM documents
        |), tri AS (
        |  SELECT doc_id, w[g.i] || ' ' || w[g.i + 1] AS prefix,
        |    w[g.i + 2] AS next_tok
        |  FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS g(i)
        |  WHERE len(w) >= 3
        |), t3 AS (
        |  SELECT prefix, next_tok, COUNT(*) AS n3 FROM tri GROUP BY 1, 2
        |), t2 AS (
        |  SELECT prefix, CAST(SUM(n3) AS BIGINT) AS n2 FROM t3 GROUP BY 1
        |), lm AS (
        |  SELECT a.prefix, a.next_tok,
        |    CAST(floor(CAST(a.n3 AS DOUBLE) / CAST(b.n2 AS DOUBLE)
        |      * 1099511627776.0) AS BIGINT) AS q
        |  FROM t3 a JOIN t2 b USING (prefix)
        |), sc AS (
        |  SELECT tr.doc_id, COUNT(*) AS n_tri, CAST(SUM(lm.q) AS BIGINT) AS q_sum
        |  FROM tri tr JOIN lm ON lm.prefix = tr.prefix AND lm.next_tok = tr.next_tok
        |  GROUP BY 1)
        |SELECT doc_id, n_tri,
        |  CAST(q_sum AS DOUBLE) / CAST(n_tri AS DOUBLE) / 1099511627776.0
        |    AS avg_cond_p
        |FROM sc ORDER BY doc_id""".stripMargin,
    "t12_trigram_lm" ->
      """WITH toks AS (
        |  SELECT string_split_regex(lower(trim(text)), '\s+') AS w FROM documents
        |), tri AS (
        |  SELECT w[g.i] || ' ' || w[g.i + 1] AS prefix, w[g.i + 2] AS next_tok
        |  FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS g(i)
        |  WHERE len(w) >= 3
        |), t3 AS (
        |  SELECT prefix, next_tok, COUNT(*) AS n3 FROM tri GROUP BY 1, 2
        |), t2 AS (
        |  SELECT prefix, CAST(SUM(n3) AS BIGINT) AS n2 FROM t3 GROUP BY 1
        |)
        |SELECT a.prefix, a.next_tok, a.n3, b.n2,
        |  CAST(a.n3 AS DOUBLE) / CAST(b.n2 AS DOUBLE) AS cond_p
        |FROM t3 a JOIN t2 b USING (prefix)
        |ORDER BY a.n3 DESC, a.prefix, a.next_tok LIMIT 100""".stripMargin,
    "kn1_kneser_ney" ->
      """WITH toks AS (
        |  SELECT string_split_regex(lower(trim(text)), '\s+') AS w FROM documents
        |), bi AS (
        |  SELECT w[g.i] AS w1, w[g.i + 1] AS w2
        |  FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS g(i)
        |  WHERE len(w) >= 2
        |), c AS (
        |  SELECT w1, w2, COUNT(*) AS c FROM bi GROUP BY 1, 2
        |), ctx AS (
        |  SELECT w1, CAST(SUM(c) AS BIGINT) AS ctx, COUNT(*) AS n1f
        |  FROM c GROUP BY 1
        |), n1b AS (
        |  SELECT w2, COUNT(*) AS n1b FROM c GROUP BY 1
        |), n1all AS (SELECT COUNT(*) AS n1all FROM c)
        |SELECT c.w1, c.w2, c.c, ctx.ctx, ctx.n1f, n1b.n1b, n1all.n1all,
        |  (CAST(c.c AS DOUBLE) - 0.75) / CAST(ctx.ctx AS DOUBLE)
        |    + ((0.75 * CAST(ctx.n1f AS DOUBLE)) / CAST(ctx.ctx AS DOUBLE))
        |      * (CAST(n1b.n1b AS DOUBLE) / CAST(n1all.n1all AS DOUBLE)) AS p_kn
        |FROM c JOIN ctx USING (w1) JOIN n1b USING (w2) CROSS JOIN n1all
        |ORDER BY c.c DESC, c.w1, c.w2 LIMIT 100""".stripMargin,
    "dm2_temperature_mix" ->
      """WITH s AS (
        |  SELECT lang,
        |    CAST(SUM(CAST(len(string_split_regex(lower(trim(text)), '\s+'))
        |      AS BIGINT)) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY lang
        |), q AS (
        |  SELECT lang, n_tokens,
        |    CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1048576.0) AS BIGINT) AS qw
        |  FROM s
        |), t AS (
        |  SELECT *, CAST(SUM(qw) OVER () AS BIGINT) AS total_qw,
        |    CAST(SUM(n_tokens) OVER () AS BIGINT) AS total_tokens
        |  FROM q)
        |SELECT lang, n_tokens, qw,
        |  CAST(qw AS DOUBLE) / CAST(total_qw AS DOUBLE) AS temp_weight,
        |  (CAST(qw AS DOUBLE) * CAST(total_tokens AS DOUBLE))
        |    / (CAST(total_qw AS DOUBLE) * CAST(n_tokens AS DOUBLE)) AS upsample_factor
        |FROM t ORDER BY lang""".stripMargin,
    "dm1_mixture_weights" ->
      """WITH s AS (
        |  SELECT lang, COUNT(*) AS n_docs,
        |    CAST(SUM(CAST(len(string_split_regex(lower(trim(text)), '\s+'))
        |      AS BIGINT)) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY lang
        |), t AS (
        |  SELECT *, CAST(SUM(n_tokens) OVER () AS BIGINT) AS total_tokens,
        |    COUNT(*) OVER () AS n_langs
        |  FROM s)
        |SELECT lang, n_docs, n_tokens,
        |  CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS token_share,
        |  (CAST(total_tokens AS DOUBLE) / CAST(n_langs AS DOUBLE))
        |    / CAST(n_tokens AS DOUBLE) AS uniform_weight
        |FROM t ORDER BY lang""".stripMargin,
  )
}
