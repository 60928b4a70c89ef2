package graft.operators

import graft.{SparkEntry, SparkSpec}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** [[SetSimilarityJoin]]: the containment join against planted ground
  * truth and against the brute-force definition on random corpora (the
  * fixed-seed sampling pattern of EnergyPropertiesSpec). Tiny
  * vocabularies force heavy shingle sharing, so the random corpora
  * exercise candidate generation, not just empty joins.
  */
class SetSimilarityJoinSpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(77L + i)))

  private val corpusGen: Gen[Seq[(Long, String)]] = for {
    nDocs <- Gen.choose(4, 12)
    docs <- Gen.listOfN(nDocs, for {
      len <- Gen.choose(0, 20)
      ws <- Gen.listOfN(len, Gen.oneOf("a", "b", "c", "d"))
    } yield ws.mkString(" "))
  } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  test("d11: containment output is in range; planted containments are all recalled") {
    val out = SparkEntry.queries("d11_containment_join")(spark, sf0001).collect()
    for (r <- out) {
      val c = r.getAs[Double]("containment")
      assert(c >= 0.8 && c <= 1.0, s"containment $c out of range: $r")
      assert(r.getAs[Long]("doc_a") != r.getAs[Long]("doc_b"))
    }

    // Planted ground truth: doc 1 is a strict prefix of doc 2 (full
    // shingle containment 1→2), doc 3 duplicates doc 1 exactly (1.0
    // both ways), doc 4 is unrelated. The lossless prefix filter must
    // recall ALL of these — no tuning, no probabilistic misses.
    val base = (1 to 12).map(i => s"w$i").mkString(" ")
    val planted = Seq(
      (1L, base),
      (2L, base + " x1 x2 x3"),
      (3L, base),
      (4L, (1 to 12).map(i => s"z$i").mkString(" "))).toDF("doc_id", "text")
    val got = SetSimilarityJoin.containmentJoin(planted, shingleK = 3, threshold = 0.8)
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Double]("containment")).toMap
    assert(got.get((1L, 2L)).contains(1.0), s"prefix-contained pair missing: $got")
    assert(got.get((1L, 3L)).contains(1.0) && got.get((3L, 1L)).contains(1.0),
      s"exact-dup pair must appear both ways: $got")
    assert(got.get((3L, 2L)).contains(1.0))
    // container → contained direction fails the threshold (|B|>|A|):
    // 10 shared of 13 shingles = 0.769 < 0.8
    assert(!got.contains((2L, 1L)), s"asymmetry violated: $got")
    assert(!got.keys.exists { case (a, b) => a == 4L || b == 4L },
      s"unrelated doc matched: $got")
  }

  test("containmentJoin equals the brute-force definition on random corpora") {
    val t = 0.8
    for (corpus <- samples(corpusGen, 10)) {
      val df = corpus.toDF("doc_id", "text")
      val got = SetSimilarityJoin.containmentJoin(df, shingleK = 3, threshold = t)
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet

      def shingles(s: String): Set[String] = {
        val w = s.toLowerCase.trim.split("\\s+").toSeq.filter(_.nonEmpty)
        if (w.length < 3) Set.empty
        else w.sliding(3).map(_.mkString(" ")).toSet
      }
      val sets = corpus.map { case (id, t0) => id -> shingles(t0) }.toMap
      val expected = (for {
        (a, sa) <- sets.toSeq if sa.nonEmpty
        (b, sb) <- sets.toSeq if a != b
        if sa.intersect(sb).size.toDouble / sa.size >= t
      } yield (a, b)).toSet
      assert(got == expected,
        s"containment mismatch: extra=${got -- expected} missing=${expected -- got}\n" +
          corpus.map { case (i, s) => s"$i: '$s'" }.mkString("\n"))
    }
  }
}
