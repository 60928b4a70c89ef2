package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Train/eval contamination check — the benchmark-leakage audit every
  * training-data pipeline runs before a corpus ships: does any training
  * document contain a span that also appears in the held-out eval set?
  *
  * Detection is span-hash overlap, the same machinery as the sd1
  * cross-document span dup (32-char windows at a fixed stride, md5
  * digested — portable to any engine): a training document is
  * contaminated when it shares at least one window hash with ANY eval
  * document.
  *
  * Scale shape: eval sets are small (benchmarks are thousands of
  * documents; training corpora are billions), so the distinct eval hash
  * set is BROADCAST to the train side — the 100 TB train scan is joined
  * without a shuffle. Documents shorter than the window width have no
  * spans and are reported with zero windows by definition (they cannot
  * carry a 32-char verbatim leak).
  */
object Contamination {

  val WindowChars = 32
  val Stride = 8

  /** ASCII byte-slice fast path for rolling/strided window extraction
    * (optimization r16, guide §1.2 "per-task work"): `substring` on a
    * STRING column re-scans from the string head to find the UTF-8 char
    * offset — O(p) per window, O(len²/stride) bytes per document across
    * a document's windows. On a BINARY column the same SQL `substring`
    * is an O(1) byte slice. For a row whose byte length equals its char
    * length (pure ASCII — the overwhelming share of any text corpus)
    * char index == byte index and the UTF-8 bytes of the char substring
    * ARE the byte slice, so hashing the slice is bit-identical; other
    * rows fall back to the char path, so semantics are unchanged for
    * EVERY input. [[asciiBin]] is computed once per document (before the
    * position explode); [[sliceBytes]] evaluates per window.
    */
  def asciiBin(text: Column): Column =
    when(length(text) === octet_length(text), text.cast("binary"))

  /** The per-window slice: byte slice when the doc proved ASCII, char
    * substring (then UTF-8 bytes) otherwise. `pos` is 1-based chars.
    */
  def sliceBytes(bin: Column, text: Column, pos: Column, len: Int): Column =
    coalesce(
      bin.substr(pos.cast("int"), lit(len)),
      text.substr(pos.cast("int"), lit(len)).cast("binary"))

  /** (doc_id, h) — one md5 per strided window of each document with at
    * least [[WindowChars]] chars. Positions explode from a cheap integer
    * `sequence`; substring+md5 evaluate per exploded row.
    */
  def spanHashes(
      docs: DataFrame,
      carryCols: Seq[String] = Nil,
      keepPos: Boolean = false,
  ): DataFrame = {
    val carried = carryCols.map(col)
    val pos = if (keepPos) Seq(col("p")) else Nil
    docs
      .where(col("n_chars") >= WindowChars)
      .select(col("doc_id") +: carried :+
        asciiBin(col("text")).as("__bin") :+
        explode(sequence(lit(1L), col("n_chars") - (WindowChars - 1), lit(Stride.toLong)))
          .as("p") :+
        col("text"): _*)
      .select(col("doc_id") +: carried ++: pos :+
        md5(sliceBytes(col("__bin"), col("text"), col("p"), WindowChars)).as("h"): _*)
  }

  /** WINNOWED fingerprints (Schleimer et al. 2003): per document, the
    * distinct minima of every `w`-window over the rolling `k`-gram
    * hashes (40-bit-folded; in-window ties break deterministically by
    * position via a lexicographic (hash, pos) struct-min). Guarantee:
    * any substring of length >= k + w - 1 shared by two documents
    * yields at least one SHARED selected fingerprint — the property
    * [[report]]'s fixed stride does not have (a stride-aligned leak can
    * slip between sample points; winnowing cannot miss one) at ~1/w the
    * fingerprint count of the full k-gram set. Returns (doc_id, fp)
    * with fp = the selected 40-bit gram hash. No doc-length CORRECTNESS
    * bound: the struct tie-break is exact at any position (an earlier
    * (hash << 20 | pos) packing silently corrupted minima past 2^20
    * chars — the SQL oracles replay that packing, which is equivalent
    * below the bound; `ContaminationSpec` pins the >2^20 selection).
    * COST note: extraction uses the [[asciiBin]]/[[sliceBytes]] byte
    * fast path — O(len) per ASCII document; a NON-ascii document's char
    * substrings re-scan from the string head (O(len²) bytes), so shard
    * multi-megabyte non-ASCII docs before fingerprinting for cost, not
    * correctness.
    */
  def winnowedFingerprints(docs: DataFrame, k: Int = 8, w: Int = 4): DataFrame = {
    val grams = docs
      .where(col("n_chars") >= k)
      .select(col("doc_id"),
        asciiBin(col("text")).as("__bin"),
        explode(sequence(lit(1L), col("n_chars") - (k - 1))).as("p"),
        col("text"))
      .select(col("doc_id"), col("p"),
        (Dedup.portableHash60(
          sliceBytes(col("__bin"), col("text"), col("p"), k)) % 1099511627776L)
          .as("h"))
    winnowSelect(grams, w)
  }

  /** The winnowing SELECTION over a (doc_id, p, h) rolling-hash
    * relation: per doc, the distinct minima of every `w`-window in
    * position order, ties by position. Factored out so the tie-break is
    * testable at positions past 2^20 without materializing a
    * multi-megabyte document through the gram extractor.
    */
  private[graft] def winnowSelect(grams: DataFrame, w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val win = Window.partitionBy("doc_id").orderBy("p")
      .rowsBetween(-(w - 1), 0)
    grams
      .withColumn("comp", min(struct(col("h"), col("p"))).over(win))
      .where(col("p") >= w.toLong) // full windows only
      .select(col("doc_id"), col("comp.h").as("fp")).distinct()
  }

  /** Per-train-document contamination report against the eval split
    * selected by `isEval` (a predicate over the docs columns):
    * (doc_id, n_windows, n_contaminated, contaminated). EVERY train
    * document gets a row — documents shorter than [[WindowChars]] carry
    * no spans and report (0, 0, false), so "is doc X contaminated?"
    * always has an answer.
    */
  def report(docs: DataFrame, isEval: Column): DataFrame = {
    // Both splits need the hashed windows; pin the shared intermediate so
    // the scan + substring + md5 pipeline executes once, not twice.
    val wins = spanHashes(docs.withColumn("__eval", isEval), Seq("__eval"))
      .localCheckpoint(eager = true)
    hitCounts(docs.where(!isEval), wins.where(!col("__eval")),
      wins.where(col("__eval")), "h", "n_windows", "n_contaminated")
  }

  /** The per-document half of every contamination report: for each
    * document of `train`, how many `key` rows it has in `trainKeys`
    * (doc_id, key) and how many of those the `evalKeys` set also holds,
    * as (doc_id, `nName`, `hitName`, contaminated) — zero-filled, so
    * documents without keys still get a row. The eval set broadcasts
    * (benchmarks are small; corpora are not).
    */
  private[graft] def hitCounts(train: DataFrame, trainKeys: DataFrame,
      evalKeys: DataFrame, key: String, nName: String, hitName: String): DataFrame = {
    val perDoc = Similarity
      .markFound(trainKeys, broadcast(evalKeys.select(key).distinct()), Seq(key))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("__nw"), sum(Similarity.found).as("__nc"))
    // Left-join back onto the full train split: keyless (short)
    // documents surface with zero counts instead of vanishing.
    train.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("__nw"), lit(0L)).as(nName),
        coalesce(col("__nc"), lit(0L)).as(hitName))
      .withColumn("contaminated", col(hitName) > 0)
  }

  /** Substring-dedup REMOVAL (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better" — the emit-the-cleaned-corpus
    * half that [[report]]/[[spanRuns]] only detect): every strided
    * 32-char window whose hash occurs in >= 2 DISTINCT documents is a
    * duplicated span; overlapping/adjacent duplicated windows merge into
    * maximal removal intervals (gaps-and-islands over character
    * positions, the [[spanRuns]] trick); each document is reconstructed
    * from the KEEP-segment complement, with per-doc removal stats.
    * Within-doc repeats don't count toward the threshold — self-similar
    * boilerplate is a different operator (sd1's concern).
    *
    * Scale shape: the only corpus-wide shuffle keys on the 16-byte
    * window hash (positions ride along; documents never shuffle for the
    * frequency count); interval merge and reconstruction run in per-doc
    * windows bounded by document length; keep-segment substrings stay in
    * the scan stage. Never all-pairs, no driver-side data.
    *
    * Output: (doc_id, n_spans_removed, removed_chars, clean_text,
    * n_chars_clean) — one row per input document, clean docs pass
    * through verbatim, fully-duplicated docs come back empty.
    */
  def removeDuplicateSpans(docs: DataFrame, keepFirst: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.LongType
    // (doc_id, p, h). Deliberately NOT pinned: hstats and the candidate
    // join consume it twice, but a localCheckpoint here measured tm2
    // 3.7→7.6 s (the d11 lesson again — materialization blocks the
    // pipelined scan and the double compute is cheaper than the pin).
    // (re-adjudicated r16 after the byte-path extraction change: the pin
    // still loses — tm2 1.85→2.07, sdr1 1.73→1.99, sdr2 1.58→1.95 —
    // double compute of the cheapened extraction remains the right trade)
    val wins = spanHashes(docs, keepPos = true)
    // keepFirst = the Lee et al. canonical-copy semantic: the LOWEST
    // doc_id containing a duplicated window keeps every occurrence of
    // it; only later docs lose theirs. keepFirst=false removes the span
    // everywhere (the decontamination posture: nothing verbatim-shared
    // survives anywhere). hstats is one row per duplicated hash, so the
    // join multiplies nothing.
    val hstats = wins.select("h", "doc_id").distinct()
      .groupBy("h").agg(count(lit(1)).as("nd"), min("doc_id").as("first_doc"))
      .where(col("nd") >= 2L)
    val joined = wins.join(hstats, Seq("h"))
    val selected =
      if (keepFirst) joined.where(col("doc_id") =!= col("first_doc"))
      else joined
    val dupWins = selected
      .select(col("doc_id"), col("p").as("s"),
        (col("p") + (WindowChars - 1).toLong).as("e"))
    // merge into maximal intervals: a window starts a new island iff its
    // start clears the running max end by more than 1 (adjacent merges)
    val byStart = Window.partitionBy("doc_id").orderBy("s")
    val prevMaxE = max(col("e"))
      .over(byStart.rowsBetween(Window.unboundedPreceding, -1))
    val merged = dupWins
      .withColumn("brk",
        when(prevMaxE.isNull || col("s") > prevMaxE + 1L, 1L).otherwise(0L))
      .withColumn("island",
        sum(col("brk")).over(byStart.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "island")
      .agg(min("s").as("s"), max("e").as("e"))
      .localCheckpoint(eager = true)
    val stats = merged.groupBy("doc_id").agg(
      count(lit(1)).as("n_spans_removed"),
      sum(col("e") - col("s") + 1L).as("removed_chars"),
      max("e").as("last_e"))
    // keep segments: the gap before each interval, plus the per-doc tail
    val before = merged
      .withColumn("ks", coalesce(lag(col("e"), 1).over(byStart) + 1L, lit(1L)))
      .select(col("doc_id"), col("ks"), (col("s") - col("ks")).as("kl"))
    val tail = stats.join(docs.select("doc_id", "n_chars"), Seq("doc_id"))
      .select(col("doc_id"), (col("last_e") + 1L).as("ks"),
        (col("n_chars") - col("last_e")).as("kl"))
    val rebuilt = before.unionByName(tail)
      .where(col("kl") > 0L)
      .join(docs.select("doc_id", "text"), Seq("doc_id"))
      .select(col("doc_id"), col("ks"),
        expr("substring(text, CAST(ks AS INT), CAST(kl AS INT))").as("seg"))
      .groupBy("doc_id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("ks"), col("seg")))),
          x => x.getField("seg")), "").as("clean_text"))
    docs.select(col("doc_id"), col("text"))
      .join(stats, Seq("doc_id"), "left")
      .join(rebuilt, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_spans_removed"), lit(0L)).as("n_spans_removed"),
        coalesce(col("removed_chars"), lit(0L)).as("removed_chars"),
        // stats row but no rebuilt row = every keep-segment was empty:
        // the document was removed WHOLE, not passed through
        when(col("n_spans_removed").isNull, col("text"))
          .otherwise(coalesce(col("clean_text"), lit(""))).as("clean_text"))
      .withColumn("n_chars_clean", length(col("clean_text")).cast(LongType))
  }

  /** Contamination RUN lengths (the Lee et al. memorization-span shape):
    * for each contaminated train document, the contiguous runs of
    * contaminated windows — a 50-window run is a verbatim benchmark
    * passage, one isolated window is a common idiom. Islands via the
    * gaps-and-islands trick (window index minus per-doc row_number is
    * constant within a run); the per-doc window is bounded by document
    * length, so partitions stay balanced at corpus scale. span_chars
    * converts the longest run back to text length:
    * (run−1)·stride + window.
    */
  def spanRuns(docs: DataFrame, isEval: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wins = spanHashes(docs.withColumn("__eval", isEval), Seq("__eval"),
      keepPos = true).localCheckpoint(eager = true)
    val evalHashes = wins.where(col("__eval")).select("h").distinct()
    val hit = wins.where(!col("__eval"))
      .join(broadcast(evalHashes), Seq("h"), "left_semi")
      .select(col("doc_id"), expr(s"(p - 1) div $Stride").as("i"))
    val byDoc = Window.partitionBy("doc_id").orderBy("i")
    hit
      .withColumn("island", col("i") - row_number().over(byDoc))
      .groupBy("doc_id", "island")
      .agg(count(lit(1)).as("run_windows"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_runs"),
        max(col("run_windows")).as("max_run_windows"))
      .select(col("doc_id"), col("n_runs"), col("max_run_windows"),
        ((col("max_run_windows") - 1L) * Stride + WindowChars).as("max_span_chars"))
  }
}
