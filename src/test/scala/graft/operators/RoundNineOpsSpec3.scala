package graft.operators

import graft.{SparkEntry, SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Invariant laws for the late round-9 additions. The two strongest
  * are MUTATION tests: scd3's audit must CATCH a deliberately broken
  * history (an all-zero census that never fires is no audit), and
  * j14's counting form must equal the classic double-anti-join
  * division it claims to be.
  */
class RoundNineOpsSpec3 extends SparkSpec {

  private def q(name: String) = SparkEntry.queries(name)(spark, sf0001)

  test("j14: the counting form equals the double-anti-join division") {
    val target = Tables.part(spark, sf0001).where(col("p_size") === 50)
      .select(col("p_partkey"))
    val supplied = Tables.lineitem(spark, sf0001)
      .select(col("l_suppkey"), col("l_partkey")).distinct()
    // classic form: suppliers with NO unsupplied target part
    val missing = Tables.supplier(spark, sf0001).select(col("s_suppkey"))
      .crossJoin(target)
      .join(supplied,
        col("s_suppkey") === col("l_suppkey") &&
          col("p_partkey") === col("l_partkey"), "left_anti")
      .select(col("s_suppkey")).distinct()
    val classic = Tables.supplier(spark, sf0001).select(col("s_suppkey"))
      .join(missing, Seq("s_suppkey"), "left_anti")
      .collect().map(_.getLong(0)).toSet
    val counting = q("j14_relational_division").collect()
      .filter(_.getBoolean(3)).map(_.getLong(0)).toSet
    assert(counting == classic,
      s"counting-form division ($counting) != double-anti-join ($classic)")
  }

  test("scd3: a correct history is all-zero; a broken seam is CAUGHT") {
    val r = q("scd3_history_integrity").collect().head
    assert(r.getLong(2) == 0 && r.getLong(3) == 0 && r.getLong(4) == 0,
      "fixture history must audit clean")
    assert(r.getBoolean(5), "one open-ended row per key")

    // mutation: shift every second version's effective_from forward by
    // one second — every shifted seam must register as a break
    val signups = Tables.events(spark, sf0001)
      .where(col("event_type") === "signup")
      .select(col("user_id"), col("event_id"), col("ts_sec"))
    val hist = Scd2.buildHistory(
        signups, col("user_id"), col("ts_sec"), col("event_id"))
      .withColumn("effective_from",
        when(col("version") % 2 === 0,
          col("effective_from") + expr("INTERVAL 1 SECOND"))
          .otherwise(col("effective_from")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("version")
    val breaks = hist
      .withColumn("prev_to", lag(col("effective_to"), 1).over(w))
      .agg(expr("count_if(version > 1 AND effective_from <> prev_to)"))
      .head.getLong(0)
    val expected = hist.where(col("version") % 2 === 0).count()
    assert(breaks == expected,
      s"audit caught $breaks of $expected planted seam breaks")
  }

  test("m8: uniform image hashes to 0; fixture hashes stay in 16 bits") {
    import spark.implicits._
    // a planted uniform image: every cell mean equals the global mean,
    // the strict > test sets no bit
    val img = new java.awt.image.BufferedImage(
      16, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 16) img.setRGB(x, y, 0x7f7f7f)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val flat = Multimodal.decodePngAHash(spark,
      Seq(Multimodal.PngRecord(99L, bos.toByteArray)).toDS()).collect().head
    assert(flat.ahash == 0L, "uniform image must hash to 0")

    for (r <- q("m8_image_ahash").collect()) {
      val h = r.getLong(3)
      assert(h >= 0L && h < (1L << 16), "ahash stays in 16 bits")
    }
  }

  test("fd1 + heaps1 + zipf1 + e8 + ece1: structural laws") {
    for (r <- q("fd1_functional_dependencies").collect())
      assert(r.getBoolean(3) == (r.getLong(2) == 0L), "holds <=> 0 violations")

    val heaps = q("heaps1_vocab_growth").collect()
    val types = heaps.map(_.getLong(1))
    assert(types.zip(types.tail).forall { case (a, b) => a <= b },
      "vocabulary growth is monotone in the cap")

    val zipf = q("zipf1_rank_frequency").collect()
    assert(zipf.head.getInt(0) == 1 &&
      zipf.head.getLong(2) == zipf.map(_.getLong(2)).max,
      "rank 1 carries the max frequency")
    for (r <- zipf)
      assert(r.getLong(3) == r.getInt(0).toLong * r.getLong(2),
        "rank_x_freq product law")

    for (r <- q("e8_int8_recall").collect())
      assert(r.getLong(1) >= 0L && r.getLong(1) <= 5L, "overlap bounded by k")

    for (r <- q("ece1_reliability_bins").collect()) {
      assert(r.getLong(2) <= r.getLong(1), "positives bounded by n")
      val gap = r.getDouble(6)
      assert(gap == math.abs(r.getDouble(4) - r.getDouble(5)), "gap law")
      assert(gap >= 0.0 && gap <= 1.0)
    }
  }

  test("d12: the kept member has the cluster's max word count") {
    val docs = Tables.documents(spark, sf0001)
    val edges = Dedup.consecutiveBigramEdges(docs, minJaccard = 0.05)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val clusters = Dedup.connectedComponents(
        docs.select(col("doc_id").as("id")), edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nw = docs.select(col("doc_id"),
        size(expr("filter(split(lower(trim(text)), '\\\\s+'), t -> t <> '')"))
          .cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byCluster = clusters.toSeq.groupBy(_._2).view
      .mapValues(_.map(_._1)).toMap
    val got = q("d12_quality_canonical").collect()
    assert(got.map(_.getLong(1)).sum == clusters.size.toLong,
      "members partition the corpus")
    for (r <- got) {
      val members = byCluster(r.getLong(0))
      val best = members.map(d => (-nw(d), d)).min._2
      assert(r.getLong(2) == best, s"cluster ${r.getLong(0)} keep rule")
      assert(r.getLong(3) == nw(best), "kept word count")
      assert(r.getLong(5) == members.map(nw).sum - nw(best), "words_dropped")
    }
  }

  test("d12: a doc_id outside the packed argmax domain fails the query") {
    import spark.implicits._
    def run(ids: Long*) = {
      val dir = graft.tools.Scratch.dir("d12-domain").toString
      ids.map(id => (id, "alpha beta gamma delta", "en")).toDF("doc_id", "text", "lang")
        .write.parquet(s"$dir/documents.parquet")
      SparkEntry.queries("d12_quality_canonical")(spark, dir).collect()
    }
    // the domain's top edge still packs exactly
    val edge = run(4294967294L, 4294967295L)
    assert(edge.map(_.getLong(2)).toSeq == Seq(4294967294L))
    for (bad <- Seq(4294967296L, -1L)) {
      val e = intercept[Exception](run(1L, bad))
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage))
      assert(msgs.exists(_.contains("packed argmax")), s"doc_id $bad: $e")
    }
  }
}
