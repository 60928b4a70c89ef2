package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  test("exact dedup groups identical content and keeps the min doc_id") {
    val d = docs(
      1L -> "the quick brown fox",
      2L -> "the quick brown fox",
      3L -> "something else entirely",
    )
    val res = Dedup.exact(d).collect()
    assert(res.length == 2)
    val dup = res.find(_.getAs[Long]("n_copies") == 2).get
    assert(dup.getAs[Long]("keep_doc_id") == 1L)
  }

  test("shingleSets: k-word shingles, distinct, short docs dropped") {
    val d = docs(1L -> "a b c d", 2L -> "x y")
    val sets = Dedup.shingleSets(d, 3).collect()
    assert(sets.length == 1) // doc 2 has < 3 words
    val sh = sets.head.getSeq[String](1).sorted
    assert(sh == Seq("a b c", "b c d"))
  }

  test("minhash: identical docs share a full signature; candidates found") {
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val d = docs(1L -> base, 2L -> base, 3L -> (1 to 30).map(i => s"other$i").mkString(" "))
    val sigs = Dedup.minHashPortable(d, k = 3, numHashes = 16).collect()
      .groupBy(_.getAs[Long]("doc_id")).view
      .mapValues(_.map(r => r.getAs[Int]("h_idx") -> r.getAs[Long]("min_hash")).toMap)
      .toMap
    assert(sigs(1L).size == 16)
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))
    val cands = Dedup.minHashCandidatesPortable(d).collect()
    val pair = cands.find(r => r.getAs[Long]("doc_a") == 1L && r.getAs[Long]("doc_b") == 2L)
    assert(pair.isDefined, s"expected (1,2) candidate, got ${cands.mkString(";")}")
    assert(math.abs(pair.get.getAs[Double]("jaccard") - 1.0) < 1e-12)
  }

  test("simhash: identical docs get identical signatures, hamming 0") {
    val base = (1 to 20).map(i => s"w$i").mkString(" ")
    val d = docs(10L -> base, 11L -> base)
    val sigs = Dedup.simHashPortableSignatures(d)
    val cands = Dedup.simHashCandidates(sigs, maxHamming = 0).collect()
    assert(cands.length == 1 && cands.head.getAs[Int]("hamming") == 0)
  }

  test("bandPairs: capped bucket pairs equal a driver-side replay; d2 counts are the pair degrees") {
    val docs = graft.Tables.documents(spark, sf0001)
    // d2's and dr1's band relation: 16 portable hashes in 4 bands of 4
    val bands = Dedup.portableBandKeys(Dedup.minHashPortable(docs, 3, 16), 4)
      .localCheckpoint(eager = true)
    val rows = bands.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("band_idx"), r.getAs[Long]("band_key")))
    // replay: bucket by (band_idx, band_key), keep buckets of 2..cap
    // members, count the buckets each doc_a < doc_b pair shares
    def replay(cap: Int): Map[(Long, Long), Long] =
      rows.groupBy(r => (r._2, r._3)).values.map(_.map(_._1).sorted.toSeq)
        .filter(m => m.length >= 2 && m.length <= cap)
        .flatMap(m => for (a <- m; b <- m if a < b) yield (a, b))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
    def got(cap: Int): Map[(Long, Long), Long] =
      Dedup.bandPairs(bands, cap).collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Long]("n_bands"))
        .toMap
    val want = replay(64)
    assert(want.nonEmpty, "the fixture must produce candidate pairs")
    assert(got(64) == want)
    // the upper gate is exercised too: a cap of 2 keeps only the pair buckets
    assert(replay(2) != want && got(2) == replay(2))

    val degree = want.keys.toSeq.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val d2 = graft.SparkEntry.queries("d2_dedup_minhash")(spark, sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_candidates")).toMap
    assert(d2.nonEmpty && d2.forall { case (id, n) => n == degree.getOrElse(id, 0L) },
      "d2's n_candidates must be each doc's degree in the capped pair set")
    Checkpoints.release(bands)
  }

  test("cosine near-dup: identical consecutive vectors score 1.0") {
    val emb = Seq(
      (1L, Array(0.5f, 0.5f, 0.1f)),
      (2L, Array(0.5f, 0.5f, 0.1f)),
      (3L, Array(-0.5f, 0.4f, 0.9f)),
    ).toDF("vec_id", "embedding")
    val res = Dedup.cosineNearDupPairs(emb).orderBy("vec_a").collect()
    assert(res.length == 2)
    assert(math.abs(res.head.getAs[Double]("cosine") - 1.0) < 1e-9)
    assert(res(1).getAs[Double]("cosine") < 0.9)
  }

  test("dedupPipeline: near-dup copies collapse, one kept per cluster") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today", "en"),
      (2L, "the quick brown fox jumps over the lazy dog today!", "en"), // near-dup of 1
      (3L, "the quick brown fox jumps over the lazy dog", "en"),        // near-dup chain
      (4L, "completely different content with no overlap at all", "en"),
    ).toDF("doc_id", "text", "lang")
    val r = Dedup.dedupPipeline(docs, minJaccard = 0.5)
      .orderBy("doc_id").collect()
    assert(r.length == 4, "one decision row per input doc")
    val byId = r.map(x => x.getLong(0) -> (x.getLong(1), x.getInt(2))).toMap
    assert(byId(1L) == (1L, 1) && byId(4L) == (4L, 1))
    assert(byId(2L)._1 == 1L && byId(2L)._2 == 0, "near-dup not kept")
    // every cluster keeps exactly one doc
    val perCluster = r.groupBy(_.getLong(1)).view.mapValues(_.map(_.getInt(2)).sum)
    assert(perCluster.values.forall(_ == 1))
  }

  test("nearDupClusters: cluster_id is min doc_id; is_kept marks the root") {
    import spark.implicits._
    val docs = Seq(
      (10L, "alpha beta gamma delta", "en"),
      (11L, "alpha beta gamma delta epsilon", "en"), // near-dup of 10
      (12L, "totally unrelated words entirely", "en"),
    ).toDF("doc_id", "text", "lang")
    val r = Dedup.nearDupClusters(docs, minJaccard = 0.5)
      .orderBy("doc_id").collect()
    assert(r.map(_.getLong(1)).toSeq == Seq(10L, 10L, 12L))
    assert(r.map(_.getInt(2)).toSeq == Seq(1, 0, 1))
  }

  test("incrementalDedup: exact twin, near twin, and novel docs classified") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val corpus = Seq(
      (1L, base, "en"),
      (2L, "one two three four five six seven eight nine ten", "en"),
    ).toDF("doc_id", "text", "lang")
    val novel = "completely different words appear here entirely now today"
    val incoming = Seq(
      (10L, base, "en"),                      // byte-identical → exact tier
      (11L, base + " nu", "en"),              // one appended word → near tier
      (12L, novel, "en"),
      (13L, novel, "en"),                     // intra-batch twin of 12 → exact tier
    ).toDF("doc_id", "text", "lang")
    val r = Dedup.incrementalDedup(corpus, incoming, minJaccard = 0.5)
      .orderBy("doc_id").collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[String]("status")).toMap
    assert(r == Map(10L -> "exact_dup", 11L -> "near_dup",
      12L -> "new", 13L -> "exact_dup"))
  }

  test("semanticDedup: exact twin drops; senior survives; one row per vec") {
    import spark.implicits._
    // two identical vectors (one cluster seed each way) + two far apart
    val emb = Seq(
      (1L, Array.tabulate(16)(i => (math.sin(i + 1) / 2).toFloat), 0),
      (2L, Array.tabulate(16)(i => (math.sin(i + 1) / 2).toFloat), 0), // twin of 1
      (3L, Array.tabulate(16)(i => (math.cos(i * 3 + 2) / 2).toFloat), 1),
      (4L, Array.tabulate(16)(i => (math.sin(i * 7 + 5) / 2).toFloat), 1),
    ).toDF("vec_id", "embedding", "label")
    val r = Dedup.semanticDedup(emb, minCosine = 0.95).orderBy("vec_id").collect()
    assert(r.length == 4, "one decision row per input vector")
    val keep = r.map(x => x.getAs[Long]("vec_id") -> x.getAs[Boolean]("is_kept")).toMap
    assert(keep(1L), "the senior twin survives")
    assert(!keep(2L), "the junior twin drops")
    assert(keep(3L) && keep(4L), "dissimilar vectors survive")
  }

  test("semanticDedup decisions match a collected brute-force replay") {
    import org.apache.spark.sql.functions.col
    val emb = graft.Tables.embeddings(spark, sf0001)
    val tau = 0.3
    val got = Dedup.semanticDedup(emb, minCosine = tau).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("cluster"), r.getAs[Boolean]("is_kept")))
    // replay: same cluster assignment, then an O(n²) driver-side check
    val clusters = EmbeddingOps
      .assignToCentroids(emb, EmbeddingOps.centroids(emb))
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cluster")).toMap
    val vecs = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Float](1).map(v => math.floor(v * 1048576.0).toLong))
      .toMap
    def cos(a: Seq[Long], b: Seq[Long]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum.toDouble
      dot / (math.sqrt(a.map(x => x * x).sum.toDouble) * math.sqrt(b.map(y => y * y).sum.toDouble))
    }
    got.foreach { case (id, cl, kept) =>
      assert(clusters(id) == cl)
      val hasSeniorTwin = vecs.keys.exists(o =>
        o < id && clusters(o) == cl && cos(vecs(o), vecs(id)) >= tau)
      assert(kept == !hasSeniorTwin, s"vec $id: kept=$kept but seniorTwin=$hasSeniorTwin")
    }
  }

  test("semanticDedupBucketed drops a strict subset of semanticDedup's drops") {
    import org.apache.spark.sql.functions.col
    // the LSH OR-construction only ever PRUNES candidate pairs from
    // sd2's within-cluster set, so every sd3 drop must be an sd2 drop
    // (and at production-bar thresholds most sd2 drops survive the
    // pruning — at this fixture's low 0.3 bar recall is ~0.54, see the
    // operator scaladoc); cluster assignment is shared verbatim
    val emb = graft.Tables.embeddings(spark, sf0001)
    def drops(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.where(!col("is_kept")).select("vec_id").collect().map(_.getLong(0)).toSet
    val exact = drops(Dedup.semanticDedup(emb, minCosine = 0.3))
    val bucketed = drops(Dedup.semanticDedupBucketed(emb, minCosine = 0.3))
    assert(bucketed.subsetOf(exact),
      s"bucketed dropped non-sd2 ids: ${(bucketed -- exact).toSeq.sorted.take(5)}")
    assert(bucketed.nonEmpty, "the OR-construction must retain some recall here")
  }
}
