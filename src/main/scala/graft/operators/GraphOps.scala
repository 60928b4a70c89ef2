package graft.operators

import graft.functions.VectorMath
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Graph analytics over relational edge lists: co-occurrence graphs,
  * triangle census, link prediction, PageRank / HITS / Katz walks, k-core
  * peeling, Weisfeiler–Lehman fingerprints, bounded frontier
  * min-relaxation (SSSP, min-label propagation), BFS and connected
  * components. Near-dup corpora, entity linkage and co-citation
  * structure all reduce to this shape.
  *
  * Pin/release rule. Every iterative operator reads one symmetrized edge
  * list, built by [[undirected]] alone and pinned EAGERLY once, since
  * every round reads it. Loop-carried round relations pin LAZILY: they
  * materialize inside the one action that consumes them, with no
  * blocking job per round (bfsHops and connectedComponents pin rounds
  * eagerly: each of their rounds ends in an action anyway). An operator
  * that returns an eagerly pinned result then releases the edge list and
  * round pins ([[Checkpoints.release]]), so a long-lived session does
  * not accumulate blocks; one that returns a lazy relation keeps them.
  *
  * Scale posture:
  *  - the vocabulary is CAPPED (topK) before any pairing, so the per-doc
  *    pair fanout is bounded by topK·(topK−1)/2 regardless of corpus
  *    size, and the top-terms table broadcasts;
  *  - every round joins on a node id against the pinned edge list, so
  *    rounds are co-partitioned and only (id, value) pairs shuffle;
  *  - triangle counting is the standard two-join ordered-edge plan
  *    (a<b<c): each join keys on a node id, so it sort-merge-joins and
  *    never materializes open wedges for non-edges;
  *  - output metrics are exact BIGINTs.
  */
object GraphOps {

  /** The symmetrized edge list (src, dst, carry...) of undirected edges
    * (a, b, carry...): each edge in both directions, pinned eagerly. The
    * one place an operator here builds it. Both orientations come out of
    * one pass over `edges` (an inlined two-struct array per row), so an
    * unpinned input pipeline runs once, not once per orientation.
    */
  def undirected(edges: DataFrame, a: String, b: String,
      carry: String*): DataFrame = {
    def orient(s: String, d: String) =
      struct(col(s).as("src") +: col(d).as("dst") +: carry.map(col): _*)
    edges.select(inline(array(orient(a, b), orient(b, a))))
      .localCheckpoint(eager = true)
  }

  /** Undirected co-occurrence edges (ta < tb) between the corpus's `topK`
    * most frequent tokens, kept when the pair co-occurs in at least
    * `minCo` distinct documents.
    */
  def termCooccurrenceEdges(docs: DataFrame, topK: Int, minCo: Long): DataFrame = {
    val top = docs
      .select(explode(TextAnalysis.words(col("text"))).as("term"))
      .where(col("term") =!= "")
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term")).limit(topK)
      .select("term")
    val docTerm = docs
      .select(col("doc_id"), explode(array_distinct(TextAnalysis.words(col("text")))).as("term"))
      .join(broadcast(top), Seq("term"))
    docTerm.select(col("doc_id"), col("term").as("ta"))
      .join(docTerm.select(col("doc_id"), col("term").as("tb")), Seq("doc_id"))
      .where(col("ta") < col("tb"))
      .groupBy("ta", "tb").agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") >= minCo)
      .select("ta", "tb")
  }

  /** Global graph census over an ordered edge list (a < b): node count,
    * edge count, wedge count (Σ deg·(deg−1)/2 — open two-paths), triangle
    * count (ordered two-join), and the 2^20-quantized global clustering
    * coefficient 3·triangles/wedges.
    */
  def triangleCensus(edges: DataFrame): DataFrame = {
    val e = edges.select(col("ta").as("a"), col("tb").as("b")).localCheckpoint(eager = true)
    val deg = e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val nodes = deg.agg(
      count(lit(1)).as("n_nodes"),
      sum(expr("deg * (deg - 1L) div 2L")).cast("long").as("n_wedges"))
    val nEdges = e.agg(count(lit(1)).as("n_edges"))
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.b") === col("e2.a"))
      .join(e.as("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .agg(count(lit(1)).as("n_triangles"))
    nodes.crossJoin(nEdges).crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        when(col("n_wedges") > 0,
          VectorMath.quantize(lit(3.0) * col("n_triangles") / col("n_wedges")))
          .as("clustering_q"))
  }

  /** Common-neighbor link prediction over an ordered edge list (ta <
    * tb): for every NON-adjacent node pair sharing ≥1 neighbor, the
    * classic integer predictors — common-neighbor count `cn`, the
    * neighborhood-union size |Γa ∪ Γb| = deg_a + deg_b − cn (so the
    * Jaccard score is the exact ratio of two reported integers), and
    * preferential attachment deg_a·deg_b. Top-`k` by (cn desc, pair) —
    * a total order, so the cut is deterministic.
    *
    * Scale posture: candidate pairs come from the wedge join (Σ_v
    * deg(v)² rows) — on open-ended graphs compose with a hub cap (drop
    * v above a degree ceiling) exactly like the shared-frame digest
    * index; nothing here is ever all-pairs. The degree joins shuffle on
    * the node id only; the final cut is TakeOrderedAndProject. The
    * ordered input is recovered from the pinned symmetric list as its
    * src < dst half, so the edges are evaluated once.
    */
  def linkPrediction(edges: DataFrame, k: Int): DataFrame = {
    val und = undirected(edges, "ta", "tb")
    val e = und.where(col("src") < col("dst"))
      .select(col("src").as("ta"), col("dst").as("tb"))
    val deg = und.groupBy(col("src").as("v")).agg(count(lit(1)).as("deg"))
    val cand = und.as("w1")
      .join(und.as("w2"),
        col("w1.src") === col("w2.src") && col("w1.dst") < col("w2.dst"))
      .groupBy(col("w1.dst").as("a"), col("w2.dst").as("b"))
      .agg(count(lit(1)).as("cn"))
      .join(e, col("a") === col("ta") && col("b") === col("tb"), "left_anti")
    cand
      .join(deg.select(col("v").as("a"), col("deg").as("deg_a")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("deg").as("deg_b")), Seq("b"))
      .select(col("a"), col("b"), col("cn"), col("deg_a"), col("deg_b"),
        (col("deg_a") + col("deg_b") - col("cn")).as("union_sz"),
        (col("deg_a") * col("deg_b")).as("pa"))
      .orderBy(col("cn").desc, col("a"), col("b"))
      .limit(k)
  }

  /** Integer-exact PageRank over an undirected edge list (ta, tb),
    * unrolled for a fixed iteration count with damping 0.85.
    *
    * All arithmetic is BIGINT: ranks are scaled by `scale`, each node
    * splits its rank by floor division across its degree, and the
    * damping is the floor of 85/100 of the received mass. Sums of longs
    * are order-independent, so the result is bit-identical on any
    * engine and any partitioning — no float power iteration to diverge.
    *
    * Scale posture: per iteration one join (edges ⋈ ranks, shuffled on
    * the node id — co-partitioned across iterations since both sides
    * hash on the same key) and one partial+final aggregate. Per-node
    * degrees are loop-invariant and pinned once next to the edge list,
    * so iteration i does not replay the edge construction i times.
    */
  def pageRank(edges: DataFrame, iterations: Int,
               scale: Long = 1000000000000L): DataFrame =
    pageRankLoop(edges, iterations, scale, personalized = false)
      .select(col("v"), col("pr").as("pr_q"))

  /** The shared BIGINT power-iteration core behind [[pageRank]] and
    * [[personalizedPageRank]]. `personalized = false`: uniform init
    * (every node starts with `scale`) and uniform teleport (15% of scale
    * to every node). `personalized = true`: all initial mass and all
    * teleport mass on the lexicographically-smallest node (carried as a
    * broadcast 1-row seed — no global window).
    */
  private def pageRankLoop(edges: DataFrame, iterations: Int, scale: Long,
                           personalized: Boolean): DataFrame = {
    require(scale % 100 == 0, "scale must be divisible by 100")
    val directed = undirected(edges, "ta", "tb")
    val withDeg = directed.join(
      directed.groupBy("src").agg(count(lit(1)).as("outdeg")), Seq("src"))
      .localCheckpoint(eager = true)
    val nodes0 = directed.select(col("src").as("v")).distinct()
      .localCheckpoint(eager = true)
    // For the uniform variant source_v is unused; carrying the 1-row
    // broadcast unconditionally keeps the loop identical for both.
    val nodes = nodes0.crossJoin(broadcast(nodes0.agg(min(col("v")).as("source_v"))))
    val teleport =
      if (personalized)
        when(col("v") === col("source_v"), lit(15L * (scale / 100L))).otherwise(lit(0L))
      else lit(15L * (scale / 100L))
    val init =
      if (personalized)
        when(col("v") === col("source_v"), lit(scale)).otherwise(lit(0L))
      else lit(scale)
    var pr = nodes.select(col("v"), col("source_v"), init.as("pr"))
    for (_ <- 1 to iterations) {
      val contrib = withDeg
        .join(pr.select("v", "pr"), col("src") === col("v"))
        .select(col("dst"), expr("pr div outdeg").as("share"))
        .groupBy("dst").agg(sum(col("share")).as("in_share"))
      pr = nodes.join(contrib, col("v") === col("dst"), "left")
        .select(col("v"), col("source_v"),
          (teleport + expr("(85L * coalesce(in_share, 0L)) div 100L")).as("pr"))
    }
    pr
  }

  /** Personalized (topic-sensitive) PageRank: the teleport mass returns to
    * ONE source node — the lexicographically-smallest — instead of
    * spreading uniformly, so ranks measure proximity to the source. Same
    * integer-exact arithmetic and per-iteration plan as [[pageRank]]
    * (scaled BIGINT ranks, floor splits, order-independent long sums —
    * bit-identical on any engine/partitioning); only the teleport term
    * differs: source gets 15% of the TOTAL mass, everyone else 0.
    */
  def personalizedPageRank(edges: DataFrame, iterations: Int,
                           scale: Long = 1000000000000L): DataFrame =
    pageRankLoop(edges, iterations, scale, personalized = true)
      .select(col("v"), col("pr").as("ppr_q"))

  /** HITS hubs & authorities over the symmetrized edge list, unrolled for
    * a fixed iteration count with EXACT integer scores (the classic
    * per-round L2 normalization is replaced by bounded iterations — all
    * arithmetic stays in BIGINT sums, so the result is engine- and
    * partitioning-independent; callers rank by the scores, and ranking is
    * normalization-invariant). hub₀ = 1; authₖ(v) = Σ_{u→v} hubₖ₋₁(u);
    * hubₖ(v) = Σ_{v→u} authₖ(u).
    *
    * Scale posture: two joins per iteration, both keyed on a node id
    * against the checkpoint-pinned edge list (co-partitioned round to
    * round), each followed by a partial+final long-sum aggregate.
    * Score growth is deg^(2k), so k must satisfy deg^(2k) < 2^63 —
    * enforced per round: each sum is a `try_sum`, and a round whose sum
    * overflows fails the query instead of wrapping (callers pick small
    * k; the census graphs here have deg ≤ 40, k ≤ 2).
    */
  def hits(edges: DataFrame, iterations: Int): DataFrame = {
    val directed = undirected(edges, "ta", "tb")
    val nodes = directed.select(col("src").as("v")).distinct()
      .localCheckpoint(eager = true)
    // a matched node (key non-null) with a null try_sum overflowed
    def score(key: String, name: String): Column =
      coalesce(
        when(col(key).isNotNull && col("s").isNull,
          raise_error(lit(s"hits: $name score overflowed BIGINT; " +
            "lower the iteration count (deg^(2k) must stay below 2^63)")))
          .otherwise(col("s")),
        lit(0L)).as(name)
    var hub = nodes.select(col("v"), lit(1L).as("hub"))
    var auth = nodes.select(col("v"), lit(0L).as("auth"))
    for (_ <- 1 to iterations) {
      auth = nodes.join(
        directed.join(hub, col("src") === col("v"))
          .groupBy(col("dst")).agg(try_sum(col("hub")).as("s")),
        col("v") === col("dst"), "left")
        .select(col("v"), score("dst", "auth"))
      hub = nodes.join(
        directed.join(auth, col("dst") === col("v"))
          .groupBy(col("src")).agg(try_sum(col("auth")).as("s")),
        col("v") === col("src"), "left")
        .select(col("v"), score("src", "hub"))
    }
    nodes
      .join(hub, Seq("v")).join(auth, Seq("v"))
      .select(col("v"), col("hub"), col("auth"))
  }

  /** Breadth-first shortest hop counts from the lexicographically-smallest
    * node of an undirected edge list (ta, tb), bounded at `maxHops`.
    * Output: (v, hops) for every node reachable within the bound —
    * unreachable nodes are absent, same as a frontier BFS that never
    * visits them.
    *
    * Scale posture: the classic distributed frontier expansion — each
    * round is ONE join of the current frontier against the symmetrized
    * edge list (shuffled on the node id, co-partitioned round to round)
    * plus an anti-join against the visited set, so round i touches only
    * frontier-adjacent edges, never the whole graph per round. Visited
    * and frontier are localCheckpoint-pinned so round i does not replay
    * rounds 0..i-1 (the same lineage-bounding discipline as
    * [[pageRank]] and [[connectedComponents]]). Frontier emptiness is
    * the only driver-side signal (one count per round, O(log-ish
    * diameter) rounds total). It stops when the frontier empties, which
    * on the registry's graphs comes well before `maxHops`, so it is not
    * a [[relaxMin]] caller: fixed `maxHops` relaxation rounds measured
    * slower on bfs1.
    */
  def bfsHops(edges: DataFrame, maxHops: Int): DataFrame = {
    val und = undirected(edges, "ta", "tb")
    val source = und.agg(min(col("src")).as("v")).where(col("v").isNotNull)
      .withColumn("hops", lit(0))
    var visited = source.localCheckpoint(eager = true)
    var frontier = visited
    var hop = 0
    while (hop < maxHops && !frontier.isEmpty) {
      hop += 1
      val next = frontier
        .join(und, col("v") === col("src"))
        .select(col("dst").as("v")).distinct()
        .join(visited.select("v"), Seq("v"), "left_anti")
        .withColumn("hops", lit(hop))
        .localCheckpoint(eager = true)
      visited = visited.unionAll(next).localCheckpoint(eager = true)
      frontier = next
    }
    visited.select(col("v"), col("hops").cast("int").as("hops"))
  }

  /** Distance [[boundedSssp]] reports for an unreached node. */
  val SsspInf = 1000000000L

  /** Bounded frontier min-relaxation, the one loop behind [[boundedSssp]]
    * and [[minLabelRounds]]. `init` = (v, x) for every
    * node; `frontier` = the (v, x) rows that may lower a neighbor in
    * round 1; each of `k` synchronous rounds offers `offer` (an
    * expression over the frontier's x and the edge list's columns)
    * across every frontier edge of `sym` (an [[undirected]] list) and
    * keeps the min. Only a node whose x DROPPED last round can lower a
    * neighbor this round — an unchanged node already offered its value
    * the round it last changed, and values only decrease — so each
    * round joins the edge list against the shrinking delta set and
    * folds improvements in by a keyed left join; no per-round
    * full-width union + groupBy. Returns (v, x) pinned eagerly; `sym`
    * and the round pins are released.
    */
  private def relaxMin(sym: DataFrame, init: DataFrame, frontier: DataFrame,
      x: String, offer: Column, k: Int): DataFrame = {
    var cur = init
    var front = frontier
    val roundPins = scala.collection.mutable.ListBuffer[DataFrame]()
    for (_ <- 1 to k) {
      val via = sym.join(front, col("v") === col("src"))
        .groupBy(col("dst")).agg(min(offer).as("__nx"))
      // least() ignores the null __nx of rows the frontier did not
      // reach; a null improvement flag filters out
      val upd = cur.join(via, col("v") === col("dst"), "left")
        .select(col("v"), least(col(x), col("__nx")).as(x),
          (col("__nx") < col(x)).as("__imp"))
        .localCheckpoint(eager = false)
      roundPins += upd
      cur = upd.select(col("v"), col(x))
      front = upd.where(col("__imp")).select(col("v"), col(x))
    }
    val out = cur.localCheckpoint(eager = true)
    Checkpoints.release(sym)
    roundPins.foreach(Checkpoints.release)
    out
  }

  /** Bounded-round Bellman-Ford over undirected weighted edges: `k`
    * synchronous [[relaxMin]] rounds from `source` — after round k every
    * ≤k-hop shortest path is exact (the distributed SSSP schedule).
    * Round 1's frontier is the source set: every other node sits at the
    * INF sentinel and, with strictly positive weights, can never
    * improve anyone. Unreached nodes stay at the INF sentinel.
    * `nodes` = (v), `edges` = (doc_a, doc_b, w); returns (v, d).
    * Every edge endpoint must appear in `nodes`: distances are anchored
    * on `nodes` by a left join, so an endpoint missing there is dropped
    * silently, along with every path through it.
    */
  def boundedSssp(nodes: DataFrame, edges: DataFrame, k: Int,
      isSource: Column): DataFrame = {
    val init = nodes.select(col("v"),
      when(isSource, 0L).otherwise(SsspInf).as("d"))
    relaxMin(undirected(edges, "doc_a", "doc_b", "w"), init,
      init.where(col("d") < SsspInf), "d", col("d") + col("w"), k)
  }

  /** Bounded-round k-core PEELING: `rounds` synchronous rounds of
    * "remove every node whose degree among still-alive nodes is < k",
    * the standard distributed k-core schedule (Montresor et al.'s
    * one-round-per-superstep shape). Exactly `rounds` rounds, no
    * convergence test — on a 100 TB graph the round count is the knob
    * you budget, and after r rounds the result is exact for every node
    * whose peel depth is ≤ r (survivors are a SUPERSET of the true
    * k-core that shrinks toward it; most real graphs settle in a few
    * rounds). Returns (v, peel_round, in_core): peel_round = the
    * 1-based round that removed the node, 0 for survivors;
    * in_core = survived all rounds.
    *
    * Scale posture: per round two joins of the (long, long) edge list
    * against the shrinking alive set and one count aggregate — edges
    * never rewrite, only membership shuffles; alive sets are
    * localCheckpoint-pinned so round i doesn't replay rounds 1..i-1.
    */
  def kcorePeeling(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    val und = undirected(edges, "ta", "tb")
    var alive = und.select(col("src").as("v")).distinct()
      .localCheckpoint(eager = true)
    var peeled: DataFrame = alive.select(col("v"), lit(0).as("peel_round"))
      .where(lit(false))
    for (r <- 1 to rounds) {
      // degree among alive: both endpoints must still be alive
      val deg = und
        .join(alive.select(col("v").as("src")), Seq("src"))
        .join(alive.select(col("v").as("dst")), Seq("dst"))
        .groupBy("src").agg(count(lit(1)).as("deg"))
        .select(col("src").as("v"), col("deg"))
      val survivors = alive.join(deg.where(col("deg") >= k), Seq("v"), "left_semi")
        .localCheckpoint(eager = true)
      val removed = alive.join(survivors, Seq("v"), "left_anti")
        .select(col("v"), lit(r).as("peel_round"))
      // loop-carried lineage pin (consumed by the next round only)
      peeled = peeled.unionByName(removed).localCheckpoint(eager = false)
      alive = survivors
    }
    alive.select(col("v"), lit(0).as("peel_round"))
      .unionByName(peeled)
      .select(col("v"), col("peel_round").cast("int").as("peel_round"),
        (col("peel_round") === 0).as("in_core"))
  }

  /** Katz-style walk centrality with DYADIC attenuation, exact in
    * BIGINT: w_k(v) = number of length-k walks ending at v (w1 = deg,
    * w_{k+1}(v) = Σ_{u~v} w_k(u)), combined as
    * katz_num = 16·w1 + 4·w2 + w3 — i.e. 64·Σ_k (1/4)^k w_k with
    * β = 1/4 kept as a power of two so the weighted sum stays an exact
    * integer (no float power iteration to diverge across engines).
    * Returns (v, w1, w2, w3, katz_num).
    *
    * Scale posture: two rounds of (edge ⋈ counts) + sum-groupBy —
    * the same co-partitioned join schedule as [[pageRank]]; only
    * (long, long) pairs shuffle; the symmetrized edge list is pinned
    * once and reused by both rounds.
    */
  def katzWalks(edges: DataFrame): DataFrame = {
    val und = undirected(edges, "ta", "tb")
    val w1 = und.groupBy("dst").agg(count(lit(1)).as("w"))
      .select(col("dst").as("v"), col("w"))
      .localCheckpoint(eager = true) // feeds step(w1) + the final join
    def step(w: DataFrame): DataFrame = und
      .join(w.select(col("v").as("src"), col("w")), Seq("src"))
      .groupBy("dst").agg(sum(col("w")).as("w"))
      .select(col("dst").as("v"), col("w"))
      .localCheckpoint(eager = true) // each step feeds the next + the final join
    val w2 = step(w1)
    val w3 = step(w2)
    w1.select(col("v"), col("w").as("w1"))
      .join(w2.select(col("v"), col("w").as("w2")), Seq("v"))
      .join(w3.select(col("v"), col("w").as("w3")), Seq("v"))
      .select(col("v"), col("w1"), col("w2"), col("w3"),
        (col("w1") * 16L + col("w2") * 4L + col("w3")).as("katz_num"))
  }

  /** Weisfeiler–Lehman relabeling (`rounds` iterations): the graph-
    * fingerprinting primitive behind WL graph kernels and GNN
    * expressiveness bounds. Initial label = md5 of the node DEGREE (so
    * the fingerprint is isomorphism-invariant — node names never enter
    * it); each round every node rehashes (own label ‖ ':' ‖ sorted
    * neighbor labels). Two nodes share a round-r label iff WL cannot
    * distinguish their r-hop neighborhoods. Returns (v, wl) with the
    * 16-hex-char label prefix.
    *
    * Scale posture: per round one (long, 32-byte) join keyed on the
    * node id + one sorted-list aggregate whose per-group size is the
    * node's degree — the same co-partitioned schedule as [[pageRank]];
    * the md5 relabeling keeps every shuffle row at fixed width no
    * matter how many rounds run.
    */
  def wlFingerprint(edges: DataFrame, rounds: Int): DataFrame = {
    val und = undirected(edges, "ta", "tb")
    var labels = und.groupBy("src").agg(count(lit(1)).as("deg"))
      .select(col("src").as("v"), md5(col("deg").cast("string")).as("l"))
      .localCheckpoint(eager = false)
    for (_ <- 1 to rounds) {
      val sig = und
        .join(labels.select(col("v").as("dst"), col("l").as("nl")), Seq("dst"))
        .groupBy("src")
        .agg(concat_ws(",", array_sort(collect_list(col("nl")))).as("sig"))
        .select(col("src").as("v"), col("sig"))
      labels = labels.join(sig, Seq("v"))
        .select(col("v"),
          md5(concat(col("l"), lit(":"), col("sig"))).as("l"))
        .localCheckpoint(eager = false)
    }
    labels.select(col("v"), substring(col("l"), 1, 16).as("wl"))
  }

  /** Bounded-round synchronous min-label propagation: every round each
    * node takes the MIN label over itself and its neighbors (undirected
    * edges), for exactly `k` rounds — [[relaxMin]] with every node
    * starting as its own label and in round 1's frontier, no
    * convergence test, which is how LPA is actually scheduled on a
    * 100 TB graph. Labels are node ids, so each round shuffles only
    * (long, long) pairs; on near-dup graphs (lp1/mod1: most nodes
    * isolated or in tiny components) the frontier collapses after
    * round 1 and later rounds are near-free. `nodes` = (v), `edges` =
    * (doc_a, doc_b); returns (v, lab). Every edge endpoint must appear
    * in `nodes`: labels are anchored on `nodes` by a left join, so an
    * endpoint missing there is dropped silently and no label
    * propagates through it.
    */
  def minLabelRounds(nodes: DataFrame, edges: DataFrame, k: Int): DataFrame = {
    val init = nodes.select(col("v"), col("v").as("lab"))
    relaxMin(undirected(edges, "doc_a", "doc_b"), init, init, "lab",
      col("lab"), k)
  }

  /** Connected components over a near-dup pair graph: every document gets
    * `cluster_id` = the minimum doc_id reachable through candidate pairs
    * (singletons cluster with themselves). This is the step that turns
    * pairwise near-dup hits into dedup decisions — transitive chains
    * (A≈B, B≈C) must collapse into ONE cluster or the pipeline keeps
    * near-copies.
    *
    * Algorithm: min-label propagation accelerated with pointer jumping
    * (the Pregel shape on DataFrames). Per round: one shuffle to send
    * each node's label across its edges + a min-aggregate, then a
    * label-of-label hop — every label is itself a node id, so following
    * it halves the distance to the component root. Propagation alone
    * converges in O(diameter) rounds; with the jump it is O(log
    * diameter), so even a pathological million-node chain finishes in
    * ~20 rounds. The loop runs TO CONVERGENCE — `maxIter` is a safety
    * rail that throws instead of silently returning splintered clusters
    * (the failure mode a capped loop would hide). Each round's result is
    * `localCheckpoint`ed (flat lineage, cheap task retries) and the
    * superseded checkpoint is unpersisted, bounding storage at two label
    * tables regardless of round count. The convergence check is one tiny
    * per-round action — labels never leave the cluster.
    */
  def connectedComponents(
      nodes: DataFrame, // one column: id
      edges: DataFrame, // two columns: a, b (undirected pairs)
      maxIter: Int = 50,
  ): DataFrame = {
    // The raw pairs pin BEFORE the symmetric union: union reads its input
    // twice, so pinning only the union would evaluate the upstream pipeline
    // (d7: LSH candidates + Jaccard verification) twice. Once `sym` is
    // pinned the pre-union blocks can go.
    val pinned = edges.select(col("a"), col("b")).localCheckpoint()
    val sym = undirected(pinned, "a", "b")
    Checkpoints.release(pinned)
    var labels = nodes.select(col("id"), col("id").as("label")).localCheckpoint()
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val incoming = labels
        .join(sym, col("id") === col("src"))
        .groupBy(col("dst"))
        .agg(min(col("label")).as("nbr_label"))
      // `old` (the round's starting label) rides along to the checkpoint:
      // the convergence test is then a filter over the already-pinned
      // blocks instead of a per-round shuffle join of `next` back against
      // `labels` (one whole Exchange+join per round removed; labels only
      // ever DECREASE, so `label < old` is exactly the old join's test).
      val propagated = labels
        .join(incoming, col("id") === col("dst"), "left")
        .select(col("id"), least(col("label"), col("nbr_label")).as("label"),
          col("label").as("old"))
      // Pointer jump: label := label(label). Labels are node ids, so the
      // self-join resolves each label one more hop toward the root.
      val roots = propagated
        .select(col("id").as("r_id"), col("label").as("r_label"))
      val next = propagated
        .join(roots, col("label") === col("r_id"), "left")
        .select(col("id"), least(col("label"), col("r_label")).as("label"),
          col("old"))
        .localCheckpoint()
      converged = next.where(col("label") < col("old")).isEmpty
      Checkpoints.release(labels)
      labels = next.select(col("id"), col("label"))
      iter += 1
    }
    require(converged,
      s"connectedComponents did not converge within $maxIter rounds — " +
        "component diameter exceeds 2^rounds; raise maxIter")
    Checkpoints.release(sym)
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }
}
