package graft.operators

import graft.{OwnerScan, SparkSpec, Tables}
import graft.functions.VectorMath
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("bruteForceTopK: self excluded, k respected, descending cosine") {
    val emb = Tables.embeddings(spark, sf0001)
    val res = Similarity.bruteForceTopK(emb.where(col("vec_id") < 3), emb, k = 4)
      .collect()
    assert(res.length == 3 * 4)
    val byQ = res.groupBy(_.getAs[Long]("q_vec"))
    byQ.foreach { case (q, rows) =>
      val sorted = rows.sortBy(_.getAs[Int]("rank"))
      assert(sorted.forall(_.getAs[Long]("c_vec") != q))
      val cos = sorted.map(_.getAs[Double]("cosine"))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    }
  }

  test("top-1 neighbor of a vector's own duplicate is that duplicate") {
    val emb = Seq(
      (1L, Array.fill(8)(0.25f)),
      (2L, Array.fill(8)(0.25f)),          // exact duplicate of 1
      (3L, Array.tabulate(8)(i => if (i % 2 == 0) 1f else -1f)),
    ).toDF("vec_id", "embedding")
    val res = Similarity.bruteForceTopK(emb.where(col("vec_id") === 1), emb, k = 1).collect()
    assert(res.head.getAs[Long]("c_vec") == 2L)
    assert(math.abs(res.head.getAs[Double]("cosine") - 1.0) < 1e-9)
  }

  test("lshTopK: duplicates land in the same bucket and rank first") {
    val emb = Seq(
      (1L, Array.tabulate(64)(i => (math.sin(i + 1) / 2).toFloat)),
      (2L, Array.tabulate(64)(i => (math.sin(i + 1) / 2).toFloat)),
      (3L, Array.tabulate(64)(i => (math.cos(i * 3 + 2) / 2).toFloat)),
    ).toDF("vec_id", "embedding")
    val res = Similarity.lshTopK(emb.where(col("vec_id") === 1), emb, k = 2)
    val rows = res.collect()
    assert(rows.nonEmpty)
    val top = rows.minBy(_.getAs[Int]("rank"))
    assert(top.getAs[Long]("c_vec") == 2L)
  }

  test("ivfTopK: returns ranked neighbors; recall vs brute force is nonzero") {
    val emb = Tables.embeddings(spark, sf0001)
    val qs = emb.where(col("vec_id") < 8)
    val exact = Similarity.bruteForceTopK(qs, emb, k = 3).collect()
      .map(r => (r.getAs[Long]("q_vec"), r.getAs[Long]("c_vec"))).toSet
    val ivf = Similarity.ivfTopK(qs, emb, k = 3).collect()
    assert(ivf.nonEmpty)
    val ivfPairs = ivf.map(r => (r.getAs[Long]("q_vec"), r.getAs[Long]("c_vec"))).toSet
    val recall = (exact & ivfPairs).size.toDouble / exact.size
    info(f"IVF recall@3 = $recall%.2f (nProbe=2/16 lists)")
    assert(recall >= 0.95, f"IVF recall regressed: $recall%.2f")
    // every query returns at most k ranked rows
    ivf.groupBy(_.getAs[Long]("q_vec")).foreach { case (_, rows) =>
      assert(rows.length <= 3 && rows.map(_.getAs[Int]("rank")).distinct.length == rows.length)
    }
  }

  test("ANN top-k plans route through TopKPerKeyExec, not a window sort") {
    val emb = Tables.embeddings(spark, sf0001)
    val qs = emb.where(col("vec_id") < 4)
    def planOf(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
    val plans = Map(
      "bruteForce" -> planOf(Similarity.bruteForceTopK(qs, emb, k = 3)),
      "lsh" -> planOf(Similarity.lshTopK(qs, emb, k = 3)),
      "ivf" -> planOf(Similarity.ivfTopK(qs, emb, k = 3)),
    )
    plans.foreach { case (name, p) =>
      // the projected `rank` column no longer blocks the rewrite: the
      // bounded heap emits the ordinal, so no WindowExec sort anywhere
      assert(p.contains("TopKPerKey"), s"$name plan lacks TopKPerKeyExec:\n$p")
      assert(!p.contains("Window"), s"$name plan still sorts via a window:\n$p")
    }
    // the IVF corpus-assignment branch is a broadcast fold — a nested-loop
    // join against the one-row centroid array, never an exchange
    assert(plans("ivf").contains("BroadcastNestedLoopJoin"), plans("ivf"))
  }

  /** Sign-pattern bucket id from `nPlanes` hyperplanes, composed from
    * Column arithmetic: bit i set iff
    * sum_d floor(emb[d] * 2^20) * planeWeightInt(offset + i, d) > 0.
    * `planeOffset` selects a disjoint plane family — table t of an
    * OR-construction uses offset t * nPlanes. The reference the native
    * LshBuckets kernel is checked against.
    */
  private def lshBucket(emb: Column, dim: Int, nPlanes: Int, planeOffset: Int): Column =
    (0 until nPlanes)
      .map { i =>
        val dot = (0 until dim)
          .map(d => VectorMath.quantize(emb.getItem(d)) *
            lit(Similarity.planeWeightInt(planeOffset + i, d)))
          .reduce(_ + _)
        when(dot > 0, lit(1L << i)).otherwise(0L)
      }
      .reduce(_ + _)

  test("LshBuckets native kernel equals the composed lshBucket per table") {
    val emb = Tables.embeddings(spark, sf0001).limit(50)
    val both = emb.select(
      graft.functions.LshBuckets.buckets(col("embedding"), 4, 4).as("nb"),
      array((0 until 4).map(t =>
        lshBucket(col("embedding"), 64, 4, planeOffset = t * 4)): _*).as("cb"),
    ).collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getSeq[Long](0) === r.getSeq[Long](1), r)
    }
  }

  test("x2r query reports LSH recall@3 above the floor") {
    val df = graft.SparkEntry.queries("x2r_ann_lsh_recall")(spark, sf0001)
    val row = df.collect().head
    val recall = row.getAs[Double]("recall")
    info(f"LSH recall@3 = $recall%.2f (${row.getAs[Long]("n_hit")}/${row.getAs[Long]("n_exact")})")
    // 4 hyperplanes over near-uniform synthetic vectors: recall well
    // under 1.0 by construction, but a broken bucketing (hash drift,
    // plane regression) collapses it to ~0 — that is what this guards.
    assert(recall >= 0.25, f"LSH recall collapsed: $recall%.2f")
  }

  test("pqTopK: an exact duplicate gets identical codes and ranks first") {
    val emb = Seq(
      (1L, Array.tabulate(64)(i => (math.sin(i + 1) / 2).toFloat)),
      (2L, Array.tabulate(64)(i => (math.sin(i + 1) / 2).toFloat)),
      (3L, Array.tabulate(64)(i => (math.cos(i * 3 + 2) / 2).toFloat)),
      (4L, Array.tabulate(64)(i => (math.sin(i * 7 + 5) / 2).toFloat)),
    ).toDF("vec_id", "embedding")
    val res = Similarity.pqTopK(emb.where(col("vec_id") === 1), emb, k = 2)
      .orderBy("rank").collect()
    assert(res.length == 2)
    // identical vectors quantize to identical codes → ADC distance equal
    // to the query's own reconstruction error, the minimum possible
    assert(res.head.getAs[Long]("c_vec") == 2L)
  }

  test("pqRefineTopK: recall@3 vs exact L2 clears the refine-tier floor") {
    val emb = Tables.embeddings(spark, sf0001)
    val qs = emb.where(col("vec_id") < 8)
    val exact = Similarity.bruteForceL2TopK(qs, emb, k = 3).collect()
      .map(r => (r.getAs[Long]("q_vec"), r.getAs[Long]("c_vec"))).toSet
    val pqPairs = Similarity.pqRefineTopK(qs, emb, k = 3, refine = 32).collect()
      .map(r => (r.getAs[Long]("q_vec"), r.getAs[Long]("c_vec"))).toSet
    val codesOnly = Similarity.pqTopK(qs, emb, k = 3).collect()
      .map(r => (r.getAs[Long]("q_vec"), r.getAs[Long]("c_vec"))).toSet
    val recall = (exact & pqPairs).size.toDouble / exact.size
    val recallCodes = (exact & codesOnly).size.toDouble / exact.size
    info(f"PQ recall@3 = $recallCodes%.2f codes-only, $recall%.2f with refine=32")
    // near-uniform synthetic vectors are PQ's worst case (quantization
    // noise ~ inter-point distances), so the codes-only floor is low;
    // the refine tier is what carries deployable recall
    assert(recall >= 0.5, f"refined PQ recall collapsed: $recall%.2f")
    assert(recall >= recallCodes, "refinement must not reduce recall")
  }

  test("PQ plans route through TopKPerKeyExec with no window sort") {
    val emb = Tables.embeddings(spark, sf0001)
    val qs = emb.where(col("vec_id") < 4)
    def planOf(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
    Seq(
      "pq" -> planOf(Similarity.pqTopK(qs, emb, k = 3)),
      "pqRefine" -> planOf(Similarity.pqRefineTopK(qs, emb, k = 3, refine = 16)),
      "bruteL2" -> planOf(Similarity.bruteForceL2TopK(qs, emb, k = 3)),
      "ivfPq" -> planOf(Similarity.ivfPqTopK(qs, emb, k = 3)),
    ).foreach { case (name, p) =>
      assert(p.contains("TopKPerKey"), s"$name plan lacks TopKPerKeyExec:\n$p")
      assert(!p.contains("Window"), s"$name plan still sorts via a window:\n$p")
    }
  }

  test("ivfPqTopK: compounded recall clears the refined floor; k respected") {
    val emb = Tables.embeddings(spark, sf0001)
    val qs = emb.where(col("vec_id") < 8)
    val exact = Similarity.bruteForceL2TopK(qs, emb, k = 3).collect()
      .map(r => (r.getAs[Long]("q_vec"), r.getAs[Long]("c_vec"))).toSet
    val got = Similarity.ivfPqTopK(qs, emb, k = 3).collect()
    val pairs = got.map(r => (r.getAs[Long]("q_vec"), r.getAs[Long]("c_vec"))).toSet
    val recall = (exact & pairs).size.toDouble / exact.size
    info(f"IVFADC recall@3 = $recall%.2f (nProbe 2/16, refine 32)")
    assert(recall >= 0.6, f"IVFADC recall collapsed: $recall%.2f")
    got.groupBy(_.getAs[Long]("q_vec")).foreach { case (_, rows) =>
      assert(rows.length <= 3 && rows.map(_.getAs[Int]("rank")).distinct.length == rows.length)
    }
  }

  test("cosineExact matches a double cosine to quantization tolerance") {
    val rows = Tables.embeddings(spark, sf0001).limit(50)
      .select(col("embedding").as("a"), reverse(col("embedding")).as("b"))
      .select(col("a"), col("b"),
        VectorMath.cosineExact(col("a"), col("a")).as("self"),
        VectorMath.cosineExact(col("a"), col("b")).as("e"))
      .collect()
    def cos(x: Seq[Float], y: Seq[Float]): Double = {
      def dot(u: Seq[Float], v: Seq[Float]) =
        u.zip(v).map { case (p, q) => p.toDouble * q.toDouble }.sum
      dot(x, y) / (math.sqrt(dot(x, x)) * math.sqrt(dot(y, y)))
    }
    assert(rows.length == 50)
    rows.foreach { r =>
      val (a, b) = (r.getSeq[Float](0), r.getSeq[Float](1))
      assert(math.abs(r.getDouble(2) - 1.0) < 1e-6) // self-cosine = 1
      assert(math.abs(r.getDouble(3) - cos(a, b)) < 1e-4)
    }
  }

  test("graphAnnBeam: exhaustive beam on a connected graph recovers brute-force top-k") {
    // unit vectors around the circle: the top-2 proximity graph is the
    // angular path, connected, so a beam as wide as the slice must walk
    // from the entry to every query's true neighbors
    val emb = (0 until 12).map { i =>
      val th = i * math.Pi / 12
      (i.toLong, Array(math.cos(th).toFloat, math.sin(th).toFloat))
    }.toDF("vec_id", "embedding")
    val qs = emb.where(col("vec_id").isin(5L, 11L))
    val beamed = Similarity.graphAnnBeam(emb, qs,
        k = 3, beam = 12, rounds = 12, graphK = 2)
      .select("q_vec", "rank", "c_vec").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    val brute = Similarity.bruteForceTopK(qs, emb, k = 3)
      .select("q_vec", "rank", "c_vec").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    assert(beamed == brute,
      "exhaustive beam search must equal exact search on a connected graph")
  }

  test("graphAnnBeam: narrow beam is deterministic and never reports the query itself") {
    val emb = Tables.embeddings(spark, sf0001).where(col("vec_id") < 60)
    val qs = emb.where(col("vec_id") < 4)
    def run() = Similarity.graphAnnBeam(emb, qs, k = 3, beam = 4, rounds = 2, graphK = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    val a = run()
    assert(a == run(), "beam traversal must be deterministic")
    assert(a.forall { case (q, _, c) => q != c })
    assert(a.groupBy(_._1).forall(_._2.length <= 3))
  }

  test("nnDescent: bounded degree, no self-edges, deterministic") {
    val emb = Tables.embeddings(spark, sf0001).where(col("vec_id") < 120)
    def run() = Similarity.nnDescent(emb, graphK = 5, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    val a = run()
    assert(a == run(), "the descent must be engine- and rerun-deterministic")
    assert(a.forall { case (v, _, u) => v != u }, "no self-edges")
    assert(a.groupBy(_._1).forall(_._2.length <= 5), "degree bounded by graphK")
    assert(a.groupBy(_._1).size >= 110,
      "nearly every node must carry edges after seeding + 2 rounds")
  }

  test("nnDescentUpsert: bounded degree, deterministic, and old edges only improve") {
    val emb = Tables.embeddings(spark, sf0001)
    val old = emb.where(col("vec_id") < 96)
    val nw = emb.where(col("vec_id") >= 96 && col("vec_id") < 120)
    def run() = {
      val g = Similarity.nnDescent(old, graphK = 8, rounds = 3, seedBucketSize = 32)
        .select(col("v"), col("nbr").as("u"), col("cosine"))
        .localCheckpoint(eager = true)
      Similarity.nnDescentUpsertWithGraph(g, old, nw, graphK = 8)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    }
    val a = run()
    assert(a == run(), "the upsert must be rerun-deterministic")
    assert(a.forall { case (v, _, u) => v != u }, "no self-edges")
    assert(a.groupBy(_._1).forall(_._2.length <= 8), "degree bounded by graphK")
    val nodes = a.map(_._1).toSet
    assert((96L until 120L).forall(nodes.contains),
      "every new vector must land in the upserted graph")
    // the merge can only ADD candidates for old nodes: per old node,
    // the upserted kth-best cosine is >= the build's kth-best
    val built = Similarity.nnDescent(old, graphK = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1))).groupBy(_._1)
      .view.mapValues(_.length).toMap
    val after = a.filter(_._1 < 96).groupBy(_._1).view.mapValues(_.length).toMap
    built.foreach { case (v, n) =>
      assert(after.getOrElse(v, 0) >= n,
        s"old node $v lost edges in the upsert ($n -> ${after.getOrElse(v, 0)})")
    }
  }

  test("nnDescent: x34's build parameters clear a 0.9 recall floor vs brute force") {
    // the quality number that justifies replacing the all-pairs build:
    // K=15 build, 3 rounds, seed-32 recovers >= 90% of the true top-5
    // edges on the fixture slice (0.963 measured at sf0.01; this uses
    // the smaller sf0.001 slice to stay cheap)
    val emb = Tables.embeddings(spark, sf0001).where(col("vec_id") < 120)
    val nnd = Similarity.nnDescent(emb, graphK = 15, rounds = 3, seedBucketSize = 32)
      .where(col("rank") <= 5)
      .select(col("v"), col("nbr").as("u"), lit(1L).as("hit"))
    val rec = Similarity.bruteForceTopK(emb, emb, k = 5)
      .select(col("q_vec").as("v"), col("c_vec").as("u"))
      .join(nnd, Seq("v", "u"), "left")
      .agg(count(lit(1)).as("n"), sum(coalesce(col("hit"), lit(0L))).as("h"))
      .collect()(0)
    val recall = rec.getLong(1).toDouble / rec.getLong(0)
    assert(recall >= 0.9, f"NN-descent recall@5 $recall%.3f below the 0.9 floor")
  }

  test("x32: filtered search never crosses the predicate and never under-fills k") {
    val emb = Tables.embeddings(spark, sf0001)
    val labels = emb.select(col("vec_id").as("id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val perLabel = labels.values.groupBy(identity).view.mapValues(_.size).toMap

    val res = Similarity.filteredTopK(emb.where(col("vec_id") < 8), emb, k = 5)
      .collect()
    // predicate safety: every neighbor shares the query's label
    assert(res.forall { r =>
      labels(r.getAs[Long]("q_vec")) == labels(r.getAs[Long]("c_vec"))
    }, "a neighbor crossed the label predicate")
    // k-honesty: each query returns min(k, |its label class| - 1) rows —
    // the property post-filtering an unfiltered top-k cannot guarantee
    val got = res.groupBy(_.getAs[Long]("q_vec")).view.mapValues(_.length)
    for ((qv, n) <- got) {
      val expected = math.min(5, perLabel(labels(qv)) - 1)
      assert(n == expected, s"query $qv returned $n of expected $expected")
    }
    // the pitfall, demonstrated: post-filtering a plain top-5 under-fills
    val post = Similarity.bruteForceTopK(emb.where(col("vec_id") < 8), emb, k = 5)
      .collect()
      .filter(r => labels(r.getAs[Long]("q_vec")) == labels(r.getAs[Long]("c_vec")))
      .groupBy(_.getAs[Long]("q_vec")).view.mapValues(_.length)
    assert(got.exists { case (qv, n) => post.getOrElse(qv, 0) < n },
      "expected at least one query where post-filtering under-fills k")
  }

  test("no source under src/main outside Similarity.scala spells the recall hit-join") {
    // the "__hit" marker column of the exact-vs-approximate left join:
    // Similarity.markFound is its one owner, so recall has one definition
    val copies = OwnerScan.sitesOutside(OwnerScan.literal("\"__hit\""),
      "operators/Similarity.scala", tree = "src/main/scala")
    assert(copies.isEmpty,
      s"recall hit-joins outside Similarity: $copies — use Similarity.markFound")
  }
}
