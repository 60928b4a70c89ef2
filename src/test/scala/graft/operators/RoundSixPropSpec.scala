package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests for the round-6 as-of and span-removal kernels on
  * RANDOM inputs (the fixed-seed sampling pattern of
  * EnergyPropertiesSpec — the scalatest/scalacheck bridge artifact is
  * not in the offline cache).
  */
class RoundSixPropSpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(77L + i)))

  test("asofNearest equals brute-force nearest on random event sets") {
    val gen = for {
      nUsers <- Gen.choose(1, 4)
      lefts <- Gen.listOfN(12, for {
        u <- Gen.choose(0, nUsers - 1); ts <- Gen.choose(0L, 50L)
      } yield (u.toLong, ts))
      rights <- Gen.listOfN(8, for {
        u <- Gen.choose(0, nUsers - 1); ts <- Gen.choose(0L, 50L)
      } yield (u.toLong, ts))
    } yield (lefts, rights)
    for (((lefts0, rights0), seedIdx) <- samples(gen, 12).zipWithIndex) {
      // unique ids; duplicate (user, ts) right rows stay IN so the
      // documented same-ts tie rule (backward: max id, forward: min id)
      // is exercised, not dodged
      val lefts = lefts0.zipWithIndex.map { case ((u, t), i) => (u, t, i.toLong) }
      val rights = rights0.zipWithIndex
        .map { case ((u, t), i) => (u, t, 1000L + i) }
      val l = lefts.toDF("user_id", "ts", "event_id")
      val r = rights.toDF("user_id", "ts", "event_id")
      val got = AsOfJoin.asofNearest(l, r, Seq("user_id"), "ts", "ts",
        leftId = "event_id", rightId = "event_id")
        .collect().map(row => row.getAs[Long]("event_id") ->
          (row.getAs[Long]("nearest_id"), row.getAs[Long]("gap"))).toMap
      val expected = lefts.flatMap { case (u, t, id) =>
        val cands = rights.filter(_._1 == u)
        if (cands.isEmpty) None
        else {
          // min |Δ|, ties prefer the backward (rts <= ts) candidate;
          // same-(user, ts) ties follow the documented struct-carry rule:
          // backward → MAX right id, forward → MIN right id
          val best = cands.minBy { case (_, rts, rid) =>
            (math.abs(rts - t), if (rts <= t) 0 else 1,
              if (rts <= t) -rid else rid)
          }
          Some(id -> (best._3, math.abs(best._2 - t)))
        }
      }.toMap
      assert(got == expected,
        s"case $seedIdx: got=$got expected=$expected lefts=$lefts rights=$rights")
    }
  }

  private val spanCorpusGen: Gen[Seq[(Long, String)]] = for {
    nDocs <- Gen.choose(2, 8)
    // 32-char window, stride 8: docs of 0..12 chunks of 8 chars from a
    // 3-chunk alphabet — duplicated 32-char windows are guaranteed dense
    docs <- Gen.listOfN(nDocs, for {
      len <- Gen.choose(0, 12)
      cs <- Gen.listOfN(len, Gen.oneOf("AAAAAAAA", "BBBBBBBB", "CCCCCCCC"))
    } yield cs.mkString)
  } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  test("span removal: conservation and keepFirst-subset laws on random corpora") {
    for (corpus <- samples(spanCorpusGen, 10)) {
      val df = corpus.toDF("doc_id", "text")
        .withColumn("n_chars", length(col("text")).cast("long"))
      def collectMode(keepFirst: Boolean): Map[Long, (Long, Long)] =
        Contamination.removeDuplicateSpans(df, keepFirst = keepFirst)
          .collect()
          .map(r => r.getAs[Long]("doc_id") ->
            (r.getAs[Long]("removed_chars"), r.getAs[Long]("n_chars_clean")))
          .toMap
      val all = collectMode(keepFirst = false)
      val kf = collectMode(keepFirst = true)
      for ((id, text) <- corpus) {
        // conservation under both modes
        assert(all(id)._1 + all(id)._2 == text.length.toLong, s"all-mode doc $id")
        assert(kf(id)._1 + kf(id)._2 == text.length.toLong, s"kf-mode doc $id")
        // keepFirst can only remove a subset of what remove-everywhere does
        assert(kf(id)._1 <= all(id)._1,
          s"keepFirst removed more than all-mode for doc $id: ${kf(id)} vs ${all(id)}")
      }
      // the globally first doc long enough to carry windows is the
      // canonical copy of every window it contains: keepFirst never
      // removes anything from it
      corpus.filter(_._2.length >= 32).map(_._1).minOption.foreach { first =>
        assert(kf(first)._1 == 0L,
          s"canonical doc $first lost content under keepFirst: ${kf(first)}")
      }
    }
  }
}
