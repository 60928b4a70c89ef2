package graft.operators

import java.nio.file.{Files, Path, Paths}
import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import scala.jdk.CollectionConverters._

/** Specs for [[GraphOps]]: hand-checked graphs, and property tests
  * against driver-side references on seeded random graphs (the
  * fixed-seed sampling pattern of EnergyPropertiesSpec — the
  * scalatest/scalacheck bridge artifact is not in the offline cache).
  */
class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  private def edges(pairs: (String, String)*) =
    pairs.toDF("ta", "tb")

  private def samples[A](g: Gen[A], n: Int, seed: Long = 77L): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(seed + i)))

  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // path-compress to the min-id root, matching cluster_id semantics
    (0 until n).map(i => i.toLong -> find(i).toLong).toMap
  }

  test("triangleCensus on a known graph: K4 has 4 triangles, 12 wedges") {
    // Complete graph on {a,b,c,d}: 6 edges, C(4,3)=4 triangles,
    // each node has deg 3 -> 4 * C(3,2) = 12 wedges.
    val k4 = edges("a" -> "b", "a" -> "c", "a" -> "d",
      "b" -> "c", "b" -> "d", "c" -> "d")
    val r = GraphOps.triangleCensus(k4).collect().head
    assert(r.getLong(0) === 4L)  // n_nodes
    assert(r.getLong(1) === 6L)  // n_edges
    assert(r.getLong(2) === 12L) // n_wedges
    assert(r.getLong(3) === 4L)  // n_triangles
    // clustering = 3*4/12 = 1.0 -> quantized 2^20
    assert(r.getLong(4) === 1048576L)
  }

  test("triangleCensus on a triangle-free graph (star)") {
    val star = edges("hub" -> "x", "hub" -> "y", "hub" -> "z")
    val r = GraphOps.triangleCensus(star).collect().head
    assert(r.getLong(3) === 0L)
    assert(r.getLong(2) === 3L) // hub deg 3 -> 3 wedges
    assert(r.getLong(4) === 0L) // clustering 0
  }

  test("kcorePeeling: K4 core survives, pendants peel by depth") {
    // K4 on {a,b,c,d} is a 3-core; f (deg 1) peels round 1, which drops
    // e (deg 3 via a,b,f while f is alive) to deg 2 — e peels round 2:
    // synchronous peeling, cascade depth = round number
    val g = edges("a" -> "b", "a" -> "c", "a" -> "d",
      "b" -> "c", "b" -> "d", "c" -> "d",
      "e" -> "a", "e" -> "b", "f" -> "e")
    val r = GraphOps.kcorePeeling(g, k = 3, rounds = 4)
      .collect().map(x => x.getString(0) -> (x.getInt(1), x.getBoolean(2))).toMap
    assert(Seq("a", "b", "c", "d").forall(v => r(v) == (0, true)))
    assert(r("f") === ((1, false)))
    assert(r("e") === ((2, false)))
  }

  test("kcorePeeling: a path peels from the ends inward, one layer per round") {
    // path a-b-c-d-e with k=2: ends {a,e} peel round 1, exposing {b,d}
    // round 2, then c round 3 — the round IS the onion layer
    val path = edges("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "e")
    val r = GraphOps.kcorePeeling(path, k = 2, rounds = 4)
      .collect().map(x => x.getString(0) -> x.getInt(1)).toMap
    assert(r("a") === 1); assert(r("e") === 1)
    assert(r("b") === 2); assert(r("d") === 2)
    assert(r("c") === 3)
  }

  test("katzWalks: star hub and leaves, hand-computed walk counts") {
    // star hub h, leaves x,y,z: w1(h)=3, w1(leaf)=1; w2(h)=3 (sum of
    // leaf degrees), w2(leaf)=3 (hub degree); w3(h)=9, w3(leaf)=3
    val star = edges("h" -> "x", "h" -> "y", "h" -> "z")
    val r = GraphOps.katzWalks(star)
      .collect()
      .map(x => x.getString(0) -> (x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4)))
      .toMap
    assert(r("h") === ((3L, 3L, 9L, 16L * 3 + 4L * 3 + 9L)))
    for (l <- Seq("x", "y", "z"))
      assert(r(l) === ((1L, 3L, 3L, 16L + 12L + 3L)))
  }

  test("wlFingerprint: isomorphism-invariant, structure-sensitive") {
    // two isomorphic paths with disjoint node names -> identical label
    // MULTISETS (names never enter the fingerprint)
    val p1 = edges("a" -> "b", "b" -> "c")
    val p2 = edges("x" -> "y", "y" -> "z")
    val f1 = GraphOps.wlFingerprint(p1, rounds = 2)
      .collect().map(_.getString(1)).sorted.toSeq
    val f2 = GraphOps.wlFingerprint(p2, rounds = 2)
      .collect().map(_.getString(1)).sorted.toSeq
    assert(f1 == f2, "isomorphic graphs must fingerprint identically")
    // a 4-star vs a 4-path: same edge count, different degree structure
    val star = edges("a" -> "b", "a" -> "c", "a" -> "d")
    val p4 = edges("a" -> "b", "b" -> "c", "c" -> "d")
    val fs = GraphOps.wlFingerprint(star, rounds = 2)
      .collect().map(_.getString(1)).sorted.toSeq
    val fp4 = GraphOps.wlFingerprint(p4, rounds = 2)
      .collect().map(_.getString(1)).sorted.toSeq
    assert(fs != fp4, "path vs star must differ")
    // within the path: the two ends are WL-equivalent, the middle is not
    val byNode = GraphOps.wlFingerprint(p1, rounds = 2)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(byNode("a") == byNode("c"))
    assert(byNode("a") != byNode("b"))
  }

  test("pageRank: a d|scale regular graph is an exact fixed point of the iteration") {
    // On a d-regular graph with d dividing scale every node keeps rank
    // == scale exactly: in-mass = d * (scale div d) = scale, and
    // 0.15*scale + 0.85*scale reassembles scale with no floor loss.
    // (K4 would NOT qualify: 3 does not divide 10^12, so each hop loses
    // one unit to the floor — the 4-cycle's degree 2 does divide.)
    val cycle = edges("a" -> "b", "b" -> "c", "c" -> "d", "a" -> "d")
    val r = GraphOps.pageRank(cycle, iterations = 3).collect()
    assert(r.length === 4)
    assert(r.forall(_.getLong(1) === 1000000000000L))
  }

  test("pageRank: star concentrates rank on the hub, exact integer values") {
    val star = edges("hub" -> "x", "hub" -> "y", "hub" -> "z")
    val r = GraphOps.pageRank(star, iterations = 1).collect()
      .map(row => row.getString(0) -> row.getLong(1)).toMap
    // leaves each send scale to the hub; hub splits scale three ways.
    assert(r("hub") === 150000000000L + 85L * 3000000000000L / 100L)
    val leafExpected = 150000000000L + 85L * (1000000000000L / 3L) / 100L
    assert(r("x") === leafExpected)
    assert(r("y") === leafExpected)
    assert(r("z") === leafExpected)
    assert(r("hub") > r("x"))
  }

  test("pageRank: bit-identical across input partitioning") {
    val chain = edges("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "e")
    val base = GraphOps.pageRank(chain, iterations = 3).collect()
      .map(row => row.getString(0) -> row.getLong(1)).toMap
    val repart = GraphOps.pageRank(chain.repartition(7), iterations = 3)
      .collect().map(row => row.getString(0) -> row.getLong(1)).toMap
    assert(base === repart)
  }

  test("termCooccurrenceEdges: capped vocab, ordered pairs, min support") {
    val docs = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha beta"),
      (3L, "alpha beta"),
      (4L, "gamma delta"),
    ).toDF("doc_id", "text")
    val e = GraphOps.termCooccurrenceEdges(docs, topK = 10, minCo = 3L)
      .collect().map(r => (r.getString(0), r.getString(1)))
    // only (alpha, beta) co-occurs in >= 3 docs; pair is ordered ta < tb
    assert(e.toSeq === Seq(("alpha", "beta")))
  }

  test("minLabelRounds equals a reference K-round replay on random graphs") {
    val gen = for {
      n <- Gen.choose(2, 40)
      m <- Gen.choose(0, 60)
      k <- Gen.choose(1, 5)
      edges <- Gen.listOfN(m, for {
        a <- Gen.choose(0, n - 1); b <- Gen.choose(0, n - 1) if a != b
      } yield (a.toLong, b.toLong))
    } yield (n, k, edges)
    for ((n, k, edges) <- samples(gen, 10)) {
      val nodes = (0L until n.toLong).toDF("v")
      val edgeDf = edges.toDF("doc_a", "doc_b")
      val got = GraphOps.minLabelRounds(nodes, edgeDf, k)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // reference replay: synchronous min over self + neighbors, k rounds
      val adj = (edges ++ edges.map(_.swap))
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      var lab = (0L until n.toLong).map(v => v -> v).toMap
      for (_ <- 1 to k)
        lab = lab.map { case (v, l) =>
          v -> (adj.getOrElse(v, Nil).map(lab) :+ l).min
        }
      assert(got == lab, s"n=$n k=$k edges=$edges")
    }
  }

  test("boundedSssp equals a reference k-round Bellman-Ford on random weighted graphs") {
    val gen = for {
      n <- Gen.choose(2, 30)
      m <- Gen.choose(0, 50)
      k <- Gen.choose(1, 5)
      edges <- Gen.listOfN(m, for {
        a <- Gen.choose(0, n - 1); b <- Gen.choose(0, n - 1) if a != b
        w <- Gen.choose(1L, 9L)
      } yield (a.toLong, b.toLong, w))
    } yield (n, k, edges)
    for ((n, k, edges) <- samples(gen, 10)) {
      val nodes = (0L until n.toLong).toDF("v")
      val edgeDf = edges.toDF("doc_a", "doc_b", "w")
      val got = GraphOps.boundedSssp(nodes, edgeDf, k,
          isSource = col("v") === 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val inf = GraphOps.SsspInf
      val adj = (edges.map { case (a, b, w) => (a, (b, w)) } ++
        edges.map { case (a, b, w) => (b, (a, w)) })
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      var d = (0L until n.toLong).map(v => v -> (if (v == 0L) 0L else inf)).toMap
      for (_ <- 1 to k)
        d = d.map { case (v, dv) =>
          v -> (adj.getOrElse(v, Nil).map { case (u, w) =>
            math.min(inf, d(u) + w) } :+ dv).min
        }
      assert(got == d, s"n=$n k=$k edges=$edges")
    }
  }

  test("bfsHops computes shortest hop counts on a hand-checked graph") {
    // Path a-b-c-d plus a triangle a-e-f(-a): hops a=0 b=1 c=2 d=3 e=1 f=1.
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("a", "e"), ("e", "f"), ("f", "a"))
      .toDF("ta", "tb")
    val got = GraphOps.bfsHops(edges, maxHops = 10)
      .as[(String, Int)].collect().toMap
    assert(got === Map("a" -> 0, "b" -> 1, "c" -> 2, "d" -> 3, "e" -> 1, "f" -> 1))
  }

  test("bfsHops maxHops bound truncates the frontier, not the visited prefix") {
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("ta", "tb")
    val got = GraphOps.bfsHops(edges, maxHops = 2).as[(String, Int)].collect().toMap
    assert(got === Map("a" -> 0, "b" -> 1, "c" -> 2)) // d is beyond the bound
  }

  test("personalizedPageRank: all teleport mass returns to the source") {
    // Star: center "a" — with teleport pinned to "a", leaves rank only
    // via mass flowing from a; every leaf gets the same rank.
    val edges = Seq(("a", "b"), ("a", "c"), ("a", "d")).toDF("ta", "tb")
    val pr = GraphOps.personalizedPageRank(edges, iterations = 3)
      .as[(String, Long)].collect().toMap
    assert(pr("b") === pr("c") && pr("c") === pr("d"))
    assert(pr("a") > pr("b")) // source keeps the teleport share
    // Uniform pageRank on the same graph must differ from the
    // personalized one on the leaves (teleport there is 0).
    val uni = GraphOps.pageRank(edges, iterations = 3)
      .as[(String, Long)].collect().toMap
    assert(uni("b") !== pr("b"))
  }

  test("hits: exact integer scores match the hand-computed unrolled recursion") {
    // Path a-b-c (symmetrized). h0=1 for all.
    // a1: auth(v) = sum of h0 over in-neighbors = deg: a=1, b=2, c=1
    // h1: hub(v) = sum of a1 over out-neighbors: a=2, b=2, c=2
    // a2: auth = sum of h1 in-neighbors: a=2, b=4, c=2
    // h2: hub = sum of a2 out-neighbors: a=4, b=4, c=4
    val edges = Seq(("a", "b"), ("b", "c")).toDF("ta", "tb")
    val got = GraphOps.hits(edges, iterations = 2)
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got === Map("a" -> (4L, 2L), "b" -> (4L, 4L), "c" -> (4L, 2L)))
  }

  test("connected components: chains collapse transitively, singletons stay") {
    import spark.implicits._
    // graph: 1-2, 2-3 (chain -> one cluster rooted at 1); 5-6; 9 alone
    val nodes = Seq(1L, 2L, 3L, 5L, 6L, 9L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val got = GraphOps.connectedComponents(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L, 9L -> 9L))
  }

  test("connected components: pointer jumping beats the chain diameter") {
    import spark.implicits._
    // a 40-node path with only 8 rounds allowed: plain propagation moves
    // the min one hop per round (needs 39); the label-of-label jump makes
    // distance-to-root halve, so convergence is O(log diameter)
    val n = 40L
    val nodes = (1L to n).toDF("id")
    val edges = (1L until n).map(i => (i, i + 1)).toDF("a", "b")
    val got = GraphOps.connectedComponents(nodes, edges, maxIter = 8)
      .collect().map(r => r.getLong(1)).distinct
    assert(got.toSeq == Seq(1L), "every node must reach the chain head")
  }

  test("connected components: throws instead of returning splintered clusters") {
    import spark.implicits._
    val nodes = (1L to 9L).toDF("id")
    val edges = (1L until 9L).map(i => (i, i + 1)).toDF("a", "b")
    intercept[IllegalArgumentException] {
      GraphOps.connectedComponents(nodes, edges, maxIter = 1).collect()
    }
  }

  test("random graphs: components match a reference union-find") {
    val gen = for {
      n <- Gen.choose(2, 60)
      m <- Gen.choose(0, 90)
      edges <- Gen.listOfN(m, for {
        a <- Gen.choose(0, n - 1); b <- Gen.choose(0, n - 1) if a != b
      } yield (a.toLong, b.toLong))
    } yield (n, edges)

    for ((n, edges) <- samples(gen, 12, seed = 1234L)) {
      val nodes = (0L until n.toLong).toDF("id")
      val edgeDf =
        if (edges.isEmpty) Seq.empty[(Long, Long)].toDF("a", "b")
        else edges.toDF("a", "b")
      val got = GraphOps.connectedComponents(nodes, edgeDf)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expected = unionFind(n, edges)
      assert(got == expected, s"n=$n edges=$edges")
    }
  }

  test("bfsHops equals a driver-side BFS on random graphs, including unreached components") {
    // sparse graphs over up to 30 names split into several components;
    // small maxHops truncates long paths
    val gen = for {
      n <- Gen.choose(2, 30)
      m <- Gen.choose(0, 35)
      maxHops <- Gen.choose(1, 6)
      edges <- Gen.listOfN(m, for {
        a <- Gen.choose(0, n - 1); b <- Gen.choose(0, n - 1) if a != b
      } yield (f"n$a%02d", f"n$b%02d"))
    } yield (maxHops, edges)
    var truncated, unreached = 0
    // plus the empty graph: no source, no rows
    for ((maxHops, es) <- samples(gen, 12, seed = 4242L) :+ ((3, Nil))) {
      val got = GraphOps.bfsHops(es.toDF("ta", "tb"), maxHops)
        .as[(String, Int)].collect().toMap
      // unbounded driver-side BFS from the smallest name, then the bound
      val adj = (es ++ es.map(_.swap)).groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val hops = scala.collection.mutable.Map[String, Int]()
      adj.keys.minOption.foreach { source =>
        hops(source) = 0
        var frontier = Seq(source)
        var hop = 0
        while (frontier.nonEmpty) {
          hop += 1
          frontier = frontier.flatMap(adj).distinct.filterNot(hops.contains)
          frontier.foreach(v => hops(v) = hop)
        }
      }
      if (hops.values.exists(_ > maxHops)) truncated += 1
      if (adj.keys.exists(v => !hops.contains(v))) unreached += 1
      assert(got == hops.toMap.filter(_._2 <= maxHops), s"maxHops=$maxHops edges=$es")
    }
    // the samples must exercise both ways a node is left out
    assert(truncated > 0 && unreached > 0, s"truncated=$truncated unreached=$unreached")
  }

  test("hits: a BIGINT overflow fails the query and names hits") {
    // K30: every degree is 29, so hub_k = 29^(2k) and auth_k = 29^(2k-1);
    // 29^12 fits in a BIGINT, round 7's auth sum 29^13 does not
    val k30 = (for (a <- 0 until 30; b <- a + 1 until 30)
      yield (f"v$a%02d", f"v$b%02d")).toDF("ta", "tb")
    val hubs = GraphOps.hits(k30, iterations = 6)
      .select("hub").as[Long].collect()
    assert(hubs.length === 30)
    assert(hubs.forall(_ == BigInt(29).pow(12).toLong))
    val e = intercept[Exception](GraphOps.hits(k30, iterations = 7).collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(x => String.valueOf(x.getMessage))
    assert(msgs.exists(_.contains("hits: auth score overflowed BIGINT")), e.toString)
  }

  test("no source under src/main outside GraphOps.scala builds a symmetrized src/dst edge list") {
    // select(col(a).as("src"), col(b).as("dst")).unionAll(...
    // select(col(b).as("src"), col(a).as("dst"))) for any columns a, b:
    // GraphOps.undirected is the one builder
    val sym = ("""select\(\s*col\("(\w+)"\)\.as\("src"\),\s*col\("(\w+)"\)""" +
      """\.as\("dst"\)[\s\S]{0,40}?\)\s*\.unionAll\([\s\S]{0,60}?select\(\s*""" +
      """col\("\2"\)\.as\("src"\),\s*col\("\1"\)\.as\("dst"\)""").r
    // the pattern must catch the shape it forbids, or the scan proves nothing
    assert(sym.findFirstIn("""e.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(e.select(col("b").as("src"), col("a").as("dst")))""").isDefined)
    val repoRoot = Paths.get(sys.props("user.dir"))
    assert(Files.exists(repoRoot.resolve("build.sbt")), s"cwd $repoRoot is not the repo root")
    val sources = Files.walk(repoRoot.resolve("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    assert(sources.exists(_.getFileName.toString == "GraphOps.scala"))
    val builders = sources
      .filter((p: Path) => sym.findFirstIn(Files.readString(p)).isDefined)
      .map(p => repoRoot.relativize(p).toString)
      .filterNot(_.endsWith("/GraphOps.scala"))
    assert(builders.isEmpty,
      s"symmetrized edge lists outside GraphOps: $builders — use GraphOps.undirected")
  }
}
