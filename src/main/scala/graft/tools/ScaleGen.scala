package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.FloatType

/** Deterministic scale-up of the driver's sf0.1 fixture tree by an
  * integer factor (default 10 → "sf1.0"), for measuring the SCALING
  * CURVE of the bench top-20 (VERDICT r7 #1): every 100 TB argument in
  * SCALE.md is plan-shape-based until the same query is timed at two
  * scales and the ratio inspected.
  *
  * Usage: runMain graft.tools.ScaleGen [outDir] [srcDir] [factor]
  * Defaults: .scale/sf1.0  /root/testdata/sf0.1  10
  *
  * Method: each fact table is cross-joined with a `copy` range (0 until
  * factor, broadcast) and every surrogate key is offset by
  * `copy * stride(table)` where stride = that table's max key + 1 — so
  * copy 0 IS the original data and referential integrity holds within
  * every copy (lineitem.l_orderkey still hits orders, o_custkey still
  * hits customer, ...). region/nation stay fixed, like TPC-H dimensions
  * across SF.
  *
  * Workload-character preservation (the part naive duplication gets
  * wrong):
  *  - `documents.text` is rotated through a per-copy Caesar cipher
  *    (copy*7 mod 26, all offsets distinct for factor <= 26): lengths,
  *    word boundaries and INTRA-copy near-duplicate structure are
  *    preserved exactly, while no shingle survives across copies — a
  *    plain ×10 duplication would hand MinHash/SimHash 10-clone
  *    clusters everywhere and inflate candidate-pair counts ~10× above
  *    the organic rate, overstating dedup cost at scale.
  *  - `embeddings.embedding[0]` moves by copy·1e-4: exact ties across
  *    copies break (distinct neighbor sets, stable norms), so ANN
  *    recall/assignment work stays organic instead of degenerate.
  *  - `events` keep their timestamps: ×10 users over the SAME time
  *    range, which is how a bigger product actually looks — per-user
  *    series lengths (sessionization, interpolation state) stay
  *    constant while key cardinality grows 10×.
  *
  * Output layout matches the driver's fixture tree EXACTLY: one parquet
  * FILE named `<table>.parquet` per table (the streaming queries select
  * their input with `pathGlobFilter("<table>.parquet")`, which a
  * directory of part-files silently fails to match — measured as
  * st15/st22 "processing" 0 rows on a first directory-shaped attempt).
  * Scan parallelism comes from ROW GROUPS instead: the writer caps
  * `parquet.block.size` at 4 MB, so the single lineitem file carries
  * ~30 row groups and Spark still plans one split per group.
  */
object ScaleGen {

  def main(args: Array[String]): Unit = {
    val out = args.lift(0).getOrElse(".scale/sf1.0")
    val src = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val zipf = args.lift(3).contains("zipf")
    val clustered = args.lift(3).contains("clustered")
    val suffix = args.lift(3).contains("suffix")
    val spark = graft.GraftSession.builder(graft.GraftSession.cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    generate(spark, src, out, factor, zipf, clustered, suffix)
    spark.stop()
  }

  /** `zipfVocab = true` plants a Zipf-heavy SHARED vocabulary on top of
    * the Caesar-rotated tree (VERDICT r9 #4): 10% of all documents —
    * uniformly across copies — get one of 8 hot phrases appended AFTER
    * rotation, so phrase shingles are shared CROSS-copy and their
    * posting lists grow linearly with the corpus ("hotshared alpha
    * bravo" lands in ~10% of all docs; the zq<h> middle token splits
    * the tail into 8 families). The organic rotation keeps posting
    * lists at constant width, so the in-bucket pair blowup the
    * dedup/similarity degeneracy caps exist for was spec-only until
    * this mode; `n_chars` is re-derived so the length-dependent
    * operators stay consistent.
    */
  /** `clusteredEmb = true` plants CLUSTER skew in the EMBEDDING space
    * (VERDICT r10 #3 — the vector-side analogue of the zipf text mode):
    * 30% of vectors (vec_id % 10 < 3) are REPLACED by one of 3 synthetic
    * centroids (c = vec_id % 3) plus a collision-free per-vector dim-0
    * jitter of (vec_id div 3)·2e-7 (distinct within a blob since
    * same-blob ids share vec_id % 3; the step exceeds float32 ulp, see
    * the inline note), so each centroid owns ~10% of the corpus as a blob of
    * near-identical vectors. ScaleGen's default perturbation keeps IVF
    * lists, LSH buckets, and semantic clusters BALANCED by construction;
    * this mode makes probe lists imbalanced, collapses the blobs into
    * single LSH buckets (LSH doing its job — near-identical vectors MUST
    * collide), and hands SemDeDup a near-dup mass that is genuinely
    * quadratic in the blob — the stress the sd3 exemplar pre-filter and
    * the IVF probe accounting exist for. NN-descent's seed buckets hash
    * the ID space and are immune by construction (the census states it).
    */
  def generate(
      spark: SparkSession, src: String, out: String, factor: Int,
      zipfVocab: Boolean = false, clusteredEmb: Boolean = false,
      suffixMode: Boolean = false): Unit = {
    require(factor >= 1 && (if (suffixMode) factor <= 676 else factor <= 26),
      s"factor must be 1..26 for rotation / 1..676 for suffix " +
        s"(two-letter tag alphabet) — got $factor")
    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    // single FILE named <t>.parquet (driver-fixture layout, see scaladoc);
    // 4 MB row groups keep the scan splittable
    def write(df: DataFrame, t: String): Unit = {
      val tmp = s"$out/.stage_$t"
      df.coalesce(1).write.mode("overwrite")
        .option("parquet.block.size", 4 * 1024 * 1024)
        .parquet(tmp)
      val fs = new org.apache.hadoop.fs.Path(out)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
        .map(_.getPath).find(_.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file written for $t"))
      val dest = new org.apache.hadoop.fs.Path(s"$out/$t.parquet")
      fs.delete(dest, true)
      fs.rename(part, dest)
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      (): Unit
    }

    // stride = max(key)+1, computed from the source (deterministic)
    def stride(t: String, key: String): Long =
      read(t).agg(max(col(key))).head.getLong(0) + 1L
    val sOrd = stride("orders", "o_orderkey")
    val sCust = stride("customer", "c_custkey")
    val sSupp = stride("supplier", "s_suppkey")
    val sPart = stride("part", "p_partkey")
    val sEvt = stride("events", "event_id")
    // events.user_id points into customer.c_custkey, so it must stride
    // by the CUSTOMER stride — striding by max(user_id)+1 (1500 in the
    // fixture, vs sCust 15000) would make every copy's events reference
    // copy-0's customers, breaking per-copy referential integrity
    // (dq3_ri_audit) and funneling all event joins through copy-0 keys.
    val sUser = sCust
    val sDoc = stride("documents", "doc_id")
    val sVec = stride("embeddings", "vec_id")

    val copies = broadcast(
      spark.range(factor).select(col("id").cast("long").as("__copy")))
    def fan(t: String)(offsets: (String, Long)*): DataFrame = {
      val base = read(t).crossJoin(copies)
      val shifted = offsets.foldLeft(base) { case (df, (k, s)) =>
        df.withColumn(k, col(k) + col("__copy") * lit(s))
      }
      shifted
    }
    def done(df: DataFrame): DataFrame = df.drop("__copy")

    // dimensions stay fixed across SF, like TPC-H's region/nation
    write(read("region"), "region")
    write(read("nation"), "nation")

    write(done(fan("customer")("c_custkey" -> sCust)), "customer")
    write(done(fan("supplier")("s_suppkey" -> sSupp)), "supplier")
    write(done(fan("part")("p_partkey" -> sPart)), "part")
    write(done(fan("orders")("o_orderkey" -> sOrd, "o_custkey" -> sCust)), "orders")
    write(done(fan("lineitem")(
      "l_orderkey" -> sOrd, "l_partkey" -> sPart, "l_suppkey" -> sSupp)),
      "lineitem")
    write(done(fan("events")("event_id" -> sEvt, "user_id" -> sUser)), "events")

    // per-copy Caesar rotation of the alphabet (identity for copy 0).
    // COMPOSITION CAVEAT (r13): rotations compose additively mod 26, so
    // generating a tree FROM an already-rotated tree collides offsets
    // (copy (r, c) and (r', c') coincide when r+c = r'+c' — measured at
    // a composed sf10: clusters of up to 10 EXACT-duplicate docs that
    // quadratically inflate true near-dup mass and overstate the dedup
    // family's scaling). For composed generation pass `suffix` as the
    // 4th arg: EVERY copy (including 0 — a pristine copy 0 would make
    // composed copies (0,c) and (c,0) byte-identical, ADVICE r13) tags
    // every word with a fixed-width 3-char per-copy suffix. Fixed width
    // makes tag concatenation injective, so any composition depth stays
    // collision-free; same disjoint cross-copy shingle property, word
    // boundaries/counts preserved (lengths grow ~3 chars/word per
    // generation; n_chars is re-derived). Factor capped at 676 = 26^2
    // by the two-letter tag alphabet (require above).
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val upper = lower.toUpperCase
    def rotated(s: String, k: Int) = s.drop(k) + s.take(k)
    val docText =
      if (suffixMode) {
        // arithmetic per-copy tag (no per-copy plan branch, so any
        // factor compiles): copy c tags every word with x<letter><letter>
        val tag = concat(lit("$1x"),
          expr("char(97 + __copy % 26)"), expr("char(97 + (__copy div 26) % 26)"))
        regexp_replace(col("text"), lit("([A-Za-z]+)"), tag)
      }
      else
        (0 until factor).foldLeft(lit(null).cast("string")) {
          case (acc, c) =>
            val k = (c * 7) % 26
            when(col("__copy") === c,
              translate(col("text"), lower + upper,
                rotated(lower, k) + rotated(upper, k))).otherwise(acc)
        }
    val rotatedDocs = fan("documents")("doc_id" -> sDoc)
      .withColumn("text", docText)
      .withColumn("n_chars", length(col("text")).cast("long"))
    // Two skew families (ADVICE r10 — exact populations: the boilerplate
    // condition doc_id % 100 == 50 is a SUBSET of doc_id % 10 == 0, so
    // it diverts 1% out of the hot-phrase family):
    //  (a) HOT VOCABULARY — 9% of docs (doc_id % 10 == 0 minus the
    //      boilerplate 1%) get one of 8 hot phrases appended (cross-copy
    //      shared shingles, corpus-linear posting lists; stresses the
    //      prefix-join family's rarest-first ordering);
    //  (b) BOILERPLATE — 1% of docs (doc_id % 100 == 50) are REPLACED by
    //      a near-identical 97-word page (96 boilerplate words + the
    //      per-doc tail token; cookie-banner/error-page reality) whose
    //      MinHash signatures all collide, so band buckets of ~n/700
    //      docs form and the [2,64] degeneracy caps must engage or the
    //      pair join goes quadratic.
    val boiler = (0 until 6).flatMap(_ => Seq(
      "hotshared alpha bravo charlie delta echo foxtrot golf",
      "cookie consent banner please accept all tracking today")).mkString(" ")
    val finalDocs =
      if (!zipfVocab) rotatedDocs
      else rotatedDocs
        .withColumn("text",
          when(col("doc_id") % 100 === 50,
            concat(lit(boiler), lit(" tail"),
              (col("doc_id") % 7).cast("string")))
            .when(col("doc_id") % 10 === 0,
              concat(col("text"), lit(" hotshared alpha bravo zq"),
                expr("(doc_id div 10) % 8").cast("string"),
                lit(" charlie hotshared delta")))
            .otherwise(col("text")))
        .withColumn("n_chars", length(col("text")).cast("long"))
    write(done(finalDocs), "documents")

    val fannedEmb = fan("embeddings")("vec_id" -> sVec)
      .withColumn("embedding",
        transform(col("embedding"), (x, i) =>
          when(i === 0,
            (x + col("__copy").cast(FloatType) * lit(1e-4f)).cast(FloatType))
            .otherwise(x)))
    // Cluster skew (see scaladoc): centroid value for (c, dim) is the
    // deterministic lattice ((c+1)*7 + dim*13) % 19 - 9) / 9 ∈ [-1, 1];
    // the dim-0 jitter keeps every vector distinct (no exact ties) while
    // cosines inside a blob stay ≈ 0.9999. Collision-free by
    // construction (ADVICE r11 — the earlier `vec_id % 1000` wrapped,
    // creating bit-identical twins every 3000 ids inside a blob):
    // same-blob vectors share vec_id % 3, so `vec_id div 3` is distinct
    // within a blob, and the 2e-7 step exceeds float32 ulp at |x| < 2
    // (1.19e-7), so no two jittered dim-0 values round to the same
    // float. At sf1.0 (20k vectors) the max jitter is ~1.3e-3 — the
    // near-identical premise holds.
    val clusteredDocs =
      if (!clusteredEmb) fannedEmb
      else fannedEmb.withColumn("embedding",
        when(col("vec_id") % 10 < 3,
          transform(col("embedding"), (_, i) => {
            val c = col("vec_id") % 3
            val base = (((c + 1) * 7 + i * 13) % 19 - 9).cast(FloatType) / lit(9.0f)
            when(i === 0,
              (base + expr("vec_id div 3").cast(FloatType) * lit(2e-7f))
                .cast(FloatType))
              .otherwise(base.cast(FloatType))
          }))
          .otherwise(col("embedding")))
    write(done(clusteredDocs), "embeddings")

    println(s"""{"scale_gen":"$out","factor":$factor,"src":"$src"}""")
  }
}
