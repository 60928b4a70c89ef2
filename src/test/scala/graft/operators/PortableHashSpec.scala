package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The portable md5-based hash family and the operators built on it
  * (portable MinHash, weighted sampling, span-level dedup plumbing).
  */
class PortableHashSpec extends SparkSpec {
  import spark.implicits._

  test("portableHash60: known value, range, and determinism") {
    val out = Seq("abc", "abc", "")
      .toDF("s")
      .select(Dedup.portableHash60(col("s")).as("h"))
      .collect().map(_.getLong(0))
    // first 15 hex digits of md5('abc') = 900150983cd24fb…
    assert(out(0) === 0x900150983cd24fbL)
    assert(out(0) === out(1))
    assert(out.forall(h => h >= 0L && h < (1L << 60)))
  }

  test("minHashPortable: mins match a brute-force computation") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma"), // exactly one shingle
    ).toDF("doc_id", "text")
    val sig = Dedup.minHashPortable(docs, k = 3, numHashes = 4)
      .orderBy("doc_id", "h_idx")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // brute force: multiplicative family h_i = (a_i*hv + i) mod p from
    // one md5, recomputed with plain JVM MessageDigest (independent of
    // any Spark expression)
    def h(idx: Int, shingle: String): Long = {
      val p = 2147483647L
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(shingle.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val hv = java.lang.Long.parseLong(hex.substring(0, 15), 16) % p
      ((2L * idx + 1) * 1103515245L % p * hv + idx) % p
    }
    val d1Shingles = Seq("alpha beta gamma", "beta gamma delta")
    val expected =
      (0 until 4).map(i => (1L, i, d1Shingles.map(h(i, _)).min)) ++
        (0 until 4).map(i => (2L, i, h(i, "alpha beta gamma")))
    assert(sig.toSeq === expected)
    // identical single shingle ⇒ doc 2's mins appear among doc 1's hashes
    assert(sig.filter(_._1 == 2L).map(_._3).toSet
      .subsetOf((0 until 4).flatMap(i => d1Shingles.map(h(i, _))).toSet))
  }

  test("sd1 span dedup: a shared aligned 32-char span is flagged in both docs") {
    val shared = "0123456789abcdefghijklmnopqrstuv" + "WXYZ" // 36 chars
    val docs = Seq(
      (1L, shared + "-first-document-tail-padding-xyz"),
      (2L, shared + "=second-doc-completely-different"),
      (3L, "no overlap here at all, totally unique content!!"),
    ).toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
    val wins = docs
      .where(col("n_chars") >= 32)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(1L), col("n_chars") - 31, lit(8L))).as("p"))
      .select(col("doc_id"),
        md5(expr("substring(text, CAST(p AS INT), 32)")).as("h"))
    val byHash = wins.groupBy("h").agg(countDistinct(col("doc_id")).as("nd"))
    val out = wins.join(byHash, Seq("h"))
      .groupBy("doc_id")
      .agg(sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // docs 1/2 share the window at position 1 (both start with `shared`);
    // windows at later strides diverge; doc 3 shares nothing
    assert(out(0)._2 >= 1L && out(1)._2 >= 1L)
    assert(out(2)._2 === 0L)
  }

  test("count-min estimates never undercount (sketch invariant)") {
    // Driver-side replay of the sketch from the raw user ids, hashed with
    // plain JVM MessageDigest (independent of any Spark expression): cell
    // (r, md5("r:key") first 15 hex digits mod width); est = min over rows
    // of the key's cell count.
    val users = spark.read.parquet(s"$sf0001/events.parquet")
      .select("user_id").collect().map(_.getLong(0)).toSeq
    val truth = users.groupBy(identity).map { case (u, xs) => u -> xs.size.toLong }
    def cell(r: Int, u: Long, width: Int): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$r:$u".getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16) % width
    }
    for ((name, width) <- Seq("cm1_countmin" -> 64, "cms1_countmin" -> 256)) {
      val out = graft.SparkEntry.queries(name)(spark, sf0001).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap // (truth, est)
      assert(out.nonEmpty, name)
      assert(out.values.forall { case (t, e) => e >= t },
        s"$name undercounted: ${out.find { case (_, (t, e)) => e < t }}")
      val cells = (0 until 4).map(r =>
        users.groupBy(cell(r, _, width)).map { case (c, xs) => c -> xs.size.toLong })
      val replay = truth.map { case (u, n) =>
        u -> (n, (0 until 4).map(r => cells(r)(cell(r, u, width))).min)
      }
      assert(out === replay, s"$name differs from the driver-side replay")
    }
  }

  test("recursive-CTE closure agrees with pointer-jumping connected components") {
    // Two independent algorithms over the same chain graph must assign
    // identical cluster roots (r1: WITH RECURSIVE; d6: iterative
    // min-label propagation).
    val sf = sf0001
    val r1 = graft.queries.AnalyticsQueries.queries("r1_recursive_closure")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val d6 = graft.queries.ExtensionQueries.queries("d6_dedup_clusters")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1.size === d6.size)
    assert(r1 === d6, {
      val diff = r1.collect { case (k, v) if d6.get(k) != Some(v) => (k, v, d6.get(k)) }
      s"first diffs: ${diff.take(5).toSeq}"
    })
  }

  test("weighted sampling keeps short docs at lower rate than long docs") {
    val docs = (1L to 400L).map(i => (i, if (i % 2 == 0) 50L else 550L))
      .toDF("doc_id", "n_chars")
    val u = (Dedup.portableHash60(concat(lit("smp3:"), col("doc_id")))
      .cast("double") / lit(1152921504606846976.0)).as("sample_u")
    val w = least(col("n_chars").cast("double") / lit(600.0), lit(1.0)).as("keep_w")
    val kept = docs.select(col("doc_id"), col("n_chars"), u, w)
      .where(col("sample_u") < col("keep_w"))
    val shortKept = kept.where(col("n_chars") === 50L).count()
    val longKept = kept.where(col("n_chars") === 550L).count()
    // expected keep rates 50/600 ≈ 8% vs 550/600 ≈ 92%
    assert(shortKept < 40, s"short keep rate too high: $shortKept/200")
    assert(longKept > 160, s"long keep rate too low: $longKept/200")
    // determinism: same seed column ⇒ identical sample on recompute
    assert(kept.collect().map(_.getLong(0)).toSeq ===
      kept.collect().map(_.getLong(0)).toSeq)
  }
}
