package graft.queries

import graft.Tables
import graft.functions.VectorMath
import graft.operators.{Packing, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** Experimentation & distribution-drift analytics — the statistical
  * monitoring layer a 100 TB training-data pipeline runs on every
  * ingest batch: "does this source still look like the corpus?" (KS),
  * "how concentrated is the data?" (Gini), "did the experiment move the
  * metric?" (two-proportion z), "are these factors independent?"
  * (chi-square), and behavioral segmentation (RFM).
  *
  * Numeric discipline (SCALE.md): every statistic is exact-integer until
  * ONE trailing double formula whose expression tree is written
  * identically in the DuckDB oracle. Global ranks/CDFs never use a
  * partition-less window — they run through the distributed two-pass
  * prefix sum (Packing.prefixSum) over the grouped-by-value relation,
  * which is also the 100 TB shape (the grouped relation is |distinct
  * values|, not |rows|).
  */
object ExperimentQueries {

  private val dec = DecimalType(38, 0)

  /** The tokenize pass itself — (source, words-array) rows — factored
    * out so card2 can run it ONCE and feed BOTH the unigram count spine
    * below and nov1's trigram-type spine (VERDICT r12 #6: nov1 used to
    * re-tokenize the whole corpus inside card2). Standalone queries
    * compose the same functions, so the definitions cannot drift.
    */
  private[queries] def wordRows(docs: DataFrame): DataFrame =
    docs.select(col("source"), TextAnalysis.words(col("text")).as("w"))

  /** The (source, term, cs) count spine shared by the drift-lens family
    * (tv1/hell1/csim1/chao1) — factored so card2 can compute every lens
    * from ONE tokenize pass while each standalone query keeps the same
    * definition (the tails below are the single source of truth).
    */
  private[queries] def sourceTermCounts(docs: DataFrame): DataFrame =
    termCountsFromWords(wordRows(docs))

  /** Count-spine tail over prebuilt (source, w) word rows. */
  private[queries] def termCountsFromWords(rows: DataFrame): DataFrame =
    rows.select(col("source"), explode(col("w")).as("term"))
      .where(col("term") =!= "")
      .groupBy("source", "term").agg(count(lit(1)).as("cs"))

  /** nov1's tail over prebuilt (source, w) word rows: per-source
    * distinct trigram TYPES, spread across sources, novelty = share of
    * types seen in exactly one source. The internal eager checkpoint is
    * load-bearing — the spine feeds both the spread rollup and the
    * per-source join.
    */
  private[queries] def noveltyFromWords(rows: DataFrame): DataFrame = {
    val tri = rows
      .where(size(col("w")) >= 3)
      .select(col("source"),
        explode(expr("transform(sequence(0, size(w) - 3), " +
          "i -> concat_ws(' ', slice(w, i + 1, 3)))")).as("tri"))
      .distinct() // trigram TYPES per source
      .localCheckpoint(eager = true) // feeds spread + per-source join
    val spread = tri.groupBy("tri")
      .agg(count(lit(1)).as("n_sources"))
    tri.join(spread, Seq("tri"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_types"),
        expr("count_if(n_sources = 1)").as("n_novel"))
      .select(col("source"), col("n_types"), col("n_novel"),
        (col("n_novel").cast(DoubleType) / col("n_types").cast(DoubleType))
          .as("novelty"))
      .orderBy("source")
  }

  /** hell1's tail over a prebuilt count spine (scaladoc at the query). */
  private[queries] def hellingerFromCounts(counts: DataFrame): DataFrame = {
    val g = counts.groupBy("term").agg(sum(col("cs")).as("c"))
    val ns = counts.groupBy("source").agg(sum(col("cs")).as("n_s"))
    val tot = counts.agg(sum(col("cs")).as("n"))
    counts.join(g, Seq("term"))
      .select(col("source"),
        VectorMath.quantize(sqrt((col("cs") * col("c")).cast(DoubleType))).as("bq"))
      .groupBy("source").agg(sum(col("bq")).as("bc_q"))
      .join(broadcast(ns), Seq("source"))
      .crossJoin(broadcast(tot))
      .select(col("source"), col("n_s").as("n_tokens"), col("bc_q"),
        (lit(1.0) - col("bc_q").cast(DoubleType) /
          (lit(VectorMath.Scale) *
            sqrt(col("n_s").cast(DoubleType) * col("n").cast(DoubleType))))
          .as("hell2"))
  }

  /** csim1's tail over a prebuilt count spine. */
  private[queries] def cosineFromCounts(counts: DataFrame): DataFrame = {
    val g = counts.groupBy("term").agg(sum(col("cs")).as("c"))
      .localCheckpoint(eager = true) // joined + norm-summed
    val gn = g.agg(sum(col("c") * col("c")).as("nn"))
    counts.join(g, Seq("term"))
      .groupBy("source")
      .agg(sum(col("cs") * col("c")).as("dot"),
        sum(col("cs") * col("cs")).as("ns2"),
        count(lit(1)).as("vocab_s"))
      .crossJoin(broadcast(gn))
      .select(col("source"), col("vocab_s"), col("dot"),
        (col("dot").cast(DoubleType) /
          (sqrt(col("ns2").cast(DoubleType)) *
            sqrt(col("nn").cast(DoubleType)))).as("cosine"))
  }

  /** chao1's tail over a prebuilt count spine. */
  private[queries] def chao1FromCounts(counts: DataFrame): DataFrame =
    counts.groupBy("source")
      .agg(count(lit(1)).as("d"),
        expr("count_if(cs = 1)").as("f1"),
        expr("count_if(cs = 2)").as("f2"))
      .select(col("source"), col("d"), col("f1"), col("f2"),
        (col("d").cast(DoubleType) +
          (col("f1") * (col("f1") - 1)).cast(DoubleType) /
            (lit(2.0) * (col("f2") + 1).cast(DoubleType))).as("chao1"))

  /** Exact discrete median of `valueCol` (the a12 rank-selection rule,
    * position ceil(n/2)) computed on the grouped-by-value relation via
    * the distributed prefix sum. Returns a 1-row frame `(outCol)`.
    */
  private def medianDisc(df: DataFrame, valueCol: String, outCol: String): DataFrame = {
    val g = df.groupBy(col(valueCol).as("__v")).agg(count(lit(1)).as("__m"))
    val ranked = Packing.prefixSum(g, Seq(col("__v")), col("__m"), "__crank")
    val tot = ranked.agg(sum(col("__m")).as("__n"))
    ranked.crossJoin(broadcast(tot))
      .where(col("__crank") >= expr("(__n + 1L) div 2L"))
      .agg(min(col("__v")).as(outCol))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Kolmogorov–Smirnov drift test: does src0's length distribution
    // match the rest of the corpus? The two CDFs are exact-integer
    // prefix sums over the grouped value axis; the KS distance
    // |F_a − F_b| is compared as the cross-multiplied integer
    // |cum_a·n_b − cum_b·n_a| (no float until the final division), so
    // the argmax value is deterministic.
    "ks1_source_drift" -> { (spark, dir) =>
      val docs = Tables.documents(spark, dir)
      val g = docs
        .groupBy(col("n_chars").as("v"))
        .agg(
          expr("count_if(source = 'src0')").as("ca"),
          expr("count_if(source <> 'src0')").as("cb"))
      val cums = Packing.prefixSum(
        Packing.prefixSum(g, Seq(col("v")), col("ca"), "cuma"),
        Seq(col("v")), col("cb"), "cumb")
        .localCheckpoint(eager = true) // consumed by totals + argmax below
      val tot = broadcast(cums.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb")))
      val diffs = cums.crossJoin(tot)
        .select(col("v"), col("na"), col("nb"),
          abs(col("cuma") * col("nb") - col("cumb") * col("na")).as("d"))
      val mx = broadcast(diffs.agg(max(col("d")).as("mx")))
      diffs.crossJoin(mx)
        .where(col("d") === col("mx"))
        .groupBy("na", "nb", "mx")
        .agg(min(col("v")).as("ks_at"))
        .select(col("na").as("n_a"), col("nb").as("n_b"), col("ks_at"),
          (col("mx").cast(DoubleType) /
            (col("na").cast(DoubleType) * col("nb").cast(DoubleType))).as("ks_stat"))
    },

    // Gini concentration of document length — "how unequal is the
    // corpus's mass across documents?" (source-skew monitoring). Uses
    // the sorted-rank identity G = 2·Σ(rank·x) / (n·Σx) − (n+1)/n with
    // rank sums per value group derived EXACTLY from the inclusive
    // prefix count: Σranks(group) = m·crank − m(m−1)/2.
    "gini1_length_concentration" -> { (spark, dir) =>
      val g = Tables.documents(spark, dir)
        .groupBy(col("n_chars").as("v")).agg(count(lit(1)).as("m"))
      val ranked = Packing.prefixSum(g, Seq(col("v")), col("m"), "crank")
      ranked
        .select(col("v"), col("m"),
          (col("m") * col("crank") - expr("(m * (m - 1L)) div 2L")).as("rsum"))
        .agg(
          sum(col("m")).as("n"),
          sum(col("v").cast(dec) * col("m").cast(dec)).as("t"),
          sum(col("v").cast(dec) * col("rsum").cast(dec)).as("s"))
        .select(
          col("n").as("n_docs"),
          col("t").cast(LongType).as("total_chars"),
          ((lit(2.0) * col("s").cast(DoubleType)) /
            (col("n").cast(DoubleType) * col("t").cast(DoubleType)) -
            (col("n").cast(DoubleType) + 1.0) / col("n").cast(DoubleType)).as("gini"))
    },

    // Permutation test — the nonparametric significance workhorse when
    // no distributional assumption holds (ab1's z-test assumes one):
    // the observed statistic is |Σ spendA − Σ spendB| over the even/odd
    // user split; 64 label permutations reassign each user by the
    // portable md5 coin (so the oracle replays the exact permutations,
    // rr1's trick), and the report counts permutations at least as
    // extreme. EVERYTHING is exact BIGINT cents — the p-value is the
    // ratio of two reported integers, never a float on either engine.
    // Scale shape: one per-user aggregate, then a 64-way explode of
    // (user, cents) pairs → one 64-group sum; the explode carries 16
    // bytes per row and the permutation axis parallelizes freely.
    "perm1_permutation_test" -> { (spark, dir) =>
      val pu = Tables.events(spark, dir)
        .where(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(sum(floor(col("value") * 100).cast(LongType)).as("cents"))
        .localCheckpoint(eager = true) // feeds observed + 64 permutations
      val obs = pu
        .agg(abs(sum(when(col("user_id") % 2 === 0, col("cents"))
          .otherwise(-col("cents")))).as("obs_cents"))
      val perms = pu
        .select(col("user_id"), col("cents"),
          explode(sequence(lit(1), lit(64))).as("r"))
        .select(col("r"), col("cents"),
          (graft.operators.Dedup.portableHash60(
            concat(lit("perm1:"), col("user_id"), lit(":"), col("r"))) % 2)
            .as("p"))
        .groupBy("r")
        .agg(abs(sum(when(col("p") === 0, col("cents"))
          .otherwise(-col("cents")))).as("stat"))
      obs.crossJoin(broadcast(perms.agg(count(lit(1)).as("n_perms"))))
        .crossJoin(broadcast(
          perms.crossJoin(broadcast(obs))
            .agg(expr("count_if(stat >= obs_cents)").as("n_extreme"))))
    },

    // Mann–Whitney U (Wilcoxon rank-sum) with exact tie handling — the
    // distribution-free location-shift companion to ks1's sup-distance
    // drift test: U counts ALL cross-sample pairs, so a small uniform
    // shift that KS under-weights still moves it. Tied blocks carry
    // their average rank kept EXACT by doubling: for a block of c
    // values after cumBefore smaller ones, 2·avgrank = 2·cumBefore +
    // c + 1, so 2U_A = Σ ca·rank2 − na(na+1) is pure BIGINT and the
    // identity u2_a + u2_b = 2·na·nb holds bit-exactly on both engines.
    // Scale shape: grouped value axis + the distributed two-pass prefix
    // sum (Packing.prefixSum) — never a global per-row rank; the
    // shuffled relation is |distinct lengths|, not |docs|. (Products
    // are n² — the dec casts keep the sum exact past 3e9 rows.)
    "mwu1_mann_whitney" -> { (spark, dir) =>
      val g = Tables.documents(spark, dir)
        .groupBy(col("n_chars").as("v"))
        .agg(
          expr("count_if(source = 'src0')").as("ca"),
          expr("count_if(source <> 'src0')").as("cb"))
        .withColumn("c", col("ca") + col("cb"))
      val cum = Packing.prefixSum(g, Seq(col("v")), col("c"), "cumc")
      cum
        .select(col("ca"), col("cb"),
          (lit(2L) * (col("cumc") - col("c")) + col("c") + 1L).as("rank2"))
        .agg(
          sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
          sum(col("ca").cast(dec) * col("rank2").cast(dec)).as("r2a"))
        .select(col("na"), col("nb"),
          (col("r2a") - col("na").cast(dec) * (col("na").cast(dec) + 1))
            .cast(LongType).as("u2_a"),
          (lit(2).cast(dec) * col("na").cast(dec) * col("nb").cast(dec) -
            (col("r2a") - col("na").cast(dec) * (col("na").cast(dec) + 1)))
            .cast(LongType).as("u2_b"))
    },

    // Pettitt change-point test — "WHEN did this series shift?" where
    // ts8's CUSUM asks "did the mean drift?": K_t = Σ_{i≤t,j>t}
    // sign(x_j − x_i) is rank-based, so one outlier day cannot fake a
    // change-point the way it drags a mean-based statistic. Computed
    // via the exact recurrence K_t = K_{t−1} + Σ_{j≠t} sign(x_j − x_t),
    // whose sign-sum is (#days above x_t) − (#days below) from two
    // RANGE-frame counts over the per-type value axis — no day-pair
    // join, O(n log n) per series instead of O(n²). Everything BIGINT;
    // the argmax day breaks ties on the earliest day. Scale shape:
    // every window partitions by event_type over the DAILY rollup —
    // bounded by the calendar, never by raw event rows.
    "cp1_pettitt" -> { (spark, dir) =>
      val daily = Tables.events(spark, dir)
        .groupBy(col("event_type"), to_date(col("ts_sec")).as("day"))
        .agg(sum(floor(col("value") * 100).cast(LongType)).as("x"))
      val byVal = Window.partitionBy("event_type").orderBy(col("x"))
      val nAbove = count(lit(1))
        .over(byVal.rangeBetween(1L, Window.unboundedFollowing))
      val nBelow = count(lit(1))
        .over(byVal.rangeBetween(Window.unboundedPreceding, -1L))
      val byDay = Window.partitionBy("event_type").orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val k = daily
        .withColumn("s", nAbove - nBelow)
        .withColumn("abs_k", abs(sum(col("s")).over(byDay)))
      val mx = k.groupBy(col("event_type"))
        .agg(max(col("abs_k")).as("k_abs"), count(lit(1)).as("n_days"))
      k.join(mx, Seq("event_type"))
        .where(col("abs_k") === col("k_abs"))
        .groupBy(col("event_type"), col("k_abs"), col("n_days"))
        .agg(min(col("day")).as("cp_day"))
        .select(col("event_type"), col("n_days"), col("cp_day"),
          col("k_abs"))
        .orderBy("event_type")
    },

    // Isotonic (PAV) calibration — the monotone fit every score
    // calibrator ships: best least-squares NON-DECREASING fulfillment
    // rate as a function of the order-value bucket, via the exact
    // minimax identity fit_i = max_{j≤i} min_{k≥i} avg(pos_{j..k} /
    // n_{j..k}) — equivalent to pool-adjacent-violators but closed-form
    // over a BOUNDED bucket axis (16 buckets → 136 (j,k) pools), so it
    // is joins over broadcast-tiny relations instead of a sequential
    // pooling loop. Pool averages divide exact integer sums once, with
    // the identical expression tree in the oracle; min/max over those
    // doubles is order-only, so the quantized fit is deterministic.
    // Scale shape: ONE map-side-partial aggregate over orders collapses
    // the corpus to 16 rows; everything after is O(buckets³) driver-free
    // broadcast work.
    "iso1_isotonic_calibration" -> { (spark, dir) =>
      val b = Tables.orders(spark, dir)
        .select(
          least(floor(col("o_totalprice") / 20000.0), lit(15.0))
            .cast(LongType).as("b"),
          when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("pos"))
        .groupBy("b")
        .agg(count(lit(1)).as("n"), sum(col("pos")).as("npos"))
        .localCheckpoint(eager = true) // tiny; feeds pools + output join
      // each bucket row b joins every (j,k) pool slice containing it, so
      // groupBy(j,k) sums n/npos over exactly the buckets j..k
      val pools = b.select(col("b"), col("n"), col("npos"))
        .join(broadcast(b.select(col("b").as("j"))
          .crossJoin(broadcast(b.select(col("b").as("k"))))
          .where(col("j") <= col("k"))),
          col("b") >= col("j") && col("b") <= col("k"))
        .groupBy("j", "k")
        .agg((sum(col("npos")).cast(DoubleType) /
          sum(col("n")).cast(DoubleType)).as("pavg"))
      val minOverK = pools.join(broadcast(b.select(col("b").as("i"))),
          col("j") <= col("i") && col("i") <= col("k"))
        .groupBy("i", "j").agg(min(col("pavg")).as("mn"))
      val fit = minOverK.groupBy("i").agg(max(col("mn")).as("fit"))
      b.join(fit, col("b") === col("i"))
        .select(col("b").as("bucket"), col("n"), col("npos"),
          VectorMath.quantize(col("fit")).as("fit_q"))
        .orderBy("bucket")
    },

    // Two-proportion z-test: did variant A (even user ids) convert
    // better than variant B? Per-user conversion first (event counts
    // would double-count loyal users). The conversion predicate is
    // more-purchases-than-errors — a per-user comparison that actually
    // varies (every fixture user has ≥1 raw purchase, which would
    // degenerate p̂ to 1 and the z denominator to 0/0 → NULL).
    "ab1_conversion_ztest" -> { (spark, dir) =>
      val perUser = Tables.events(spark, dir)
        .groupBy(col("user_id"))
        .agg(when(
          expr("count_if(event_type = 'purchase')") >
            expr("count_if(event_type = 'error')"), 1L).otherwise(0L).as("conv"))
        .select((col("user_id") % 2 === 0).as("variant_a"), col("conv"))
      perUser
        .agg(
          expr("count_if(variant_a)").as("na"),
          sum(when(col("variant_a"), col("conv")).otherwise(0L)).as("xa"),
          expr("count_if(NOT variant_a)").as("nb"),
          sum(when(!col("variant_a"), col("conv")).otherwise(0L)).as("xb"))
        .select(col("na"), col("xa"), col("nb"), col("xb"),
          ((col("xa").cast(DoubleType) / col("na").cast(DoubleType) -
            col("xb").cast(DoubleType) / col("nb").cast(DoubleType)) /
            sqrt(
              ((col("xa") + col("xb")).cast(DoubleType) /
                (col("na") + col("nb")).cast(DoubleType)) *
                (lit(1.0) - (col("xa") + col("xb")).cast(DoubleType) /
                  (col("na") + col("nb")).cast(DoubleType)) *
                (lit(1.0) / col("na").cast(DoubleType) +
                  lit(1.0) / col("nb").cast(DoubleType)))).as("z"))
    },

    // Chi-square contingency cells: event type × ISO weekday. Expected
    // counts and per-cell contributions stay as exact integer products
    // inside one double division per cell — emitted PER CELL (35 rows),
    // never summed across cells in floating point (summation order is
    // engine-dependent; a per-cell table is both deterministic and more
    // useful for diagnosis). weekday()+1 == DuckDB's isodow.
    // k-anonymity GENERALIZATION (the transform dq2 only audits): each
    // row's quasi-identifiers coarsen up a fixed 3-level ladder —
    // (nation, balance band) → (nation) → suppressed — to the FIRST
    // level whose equivalence class reaches k=5. Two small group-count
    // relations broadcast back onto the scan; the census reports rows
    // and distinct classes per chosen level, plus the residual minimum
    // class size. Levels 0/1 are k-guaranteed by their gate; the
    // suppressed '*' level is a CATCH-ALL, not k-guaranteed — fewer
    // than 5 rows can fall through to it, and the reported
    // min_class_size is the honest recomputed figure either way.
    "pp1_kanon_generalize" -> { (spark, dir) =>
      val c = Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_nationkey"),
          floor(col("c_acctbal") / 2000).cast(LongType).as("band"))
      val g0 = c.groupBy("c_nationkey", "band").agg(count(lit(1)).as("n0"))
      // the level-1 k-check counts ONLY rows not already anonymous at
      // level 0 — rows that stayed behind don't anonymize the promoted
      // ones (the classic generalization-ladder subtlety: k must be
      // re-checked on the post-reassignment classes)
      val flagged = c.join(broadcast(g0), Seq("c_nationkey", "band"))
        .withColumn("l0ok", col("n0") >= 5)
      val m1 = flagged.where(!col("l0ok"))
        .groupBy("c_nationkey").agg(count(lit(1)).as("m1"))
      val lv = flagged.join(broadcast(m1), Seq("c_nationkey"), "left")
        .withColumn("level",
          when(col("l0ok"), 0L).when(col("m1") >= 5, 1L).otherwise(2L))
        .withColumn("cls",
          when(col("level") === 0,
            concat_ws(":", col("c_nationkey"), col("band")))
            .when(col("level") === 1, col("c_nationkey").cast("string"))
            .otherwise(lit("*")))
      val sizes = lv.groupBy("cls").agg(count(lit(1)).as("cn"))
      lv.join(sizes, Seq("cls"))
        .groupBy("level")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("cls")).as("n_classes"),
          min(col("cn")).as("min_class_size"))
        .orderBy("level")
    },

    // CUPED variance reduction (Deng et al. 2013): the experiment
    // metric adjusted by the pre-period covariate — theta from POOLED
    // exact integer moments (corr1's cross-multiplied pattern), then
    // per-variant adjusted means from exact sums with the identical
    // expression tree on both engines. The per-user aggregate is the
    // only corpus-wide stage; everything after runs on 2 + 1 rows.
    "exp2_cuped" -> { (spark, dir) =>
      val d38 = DecimalType(38, 0)
      val split = lit("2024-01-16").cast("date")
      val cents = floor(col("value") * 100).cast(LongType)
      val pu = Tables.events(spark, dir)
        .groupBy("user_id")
        .agg(
          sum(when(to_date(col("ts_sec")) < split, cents).otherwise(0L))
            .as("x"),
          sum(when(to_date(col("ts_sec")) >= split, cents).otherwise(0L))
            .as("y"))
        .withColumn("va", col("user_id") % 2 === 0)
        .localCheckpoint(eager = true) // feeds pooled + per-variant
      // x/y are per-USER cent sums, unbounded with activity — the
      // products must be computed IN decimal, not in Long then cast
      // (Long x*x silently overflows past ~3e9 cents per user).
      val pooled = broadcast(pu.agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x").cast(d38) * col("x").cast(d38)).as("sxx"),
        sum(col("x").cast(d38) * col("y").cast(d38)).as("sxy")))
      val perV = pu.groupBy("va")
        .agg(count(lit(1)).as("n_users"),
          sum(col("x")).as("sum_pre"), sum(col("y")).as("sum_post"))
      def dbl(c: String) = col(c).cast(DoubleType)
      perV.crossJoin(pooled)
        .withColumn("theta",
          (dbl("n") * dbl("sxy") - dbl("sx") * dbl("sy")) /
            (dbl("n") * dbl("sxx") - dbl("sx") * dbl("sx")))
        .select(col("va").as("variant_a"), col("n_users"),
          col("sum_pre"), col("sum_post"), col("theta"),
          (dbl("sum_post") / col("n_users") -
            col("theta") * (dbl("sum_pre") / col("n_users") -
              dbl("sx") / col("n"))).as("mean_adj"))
        .orderBy("variant_a")
    },

    "chi1_contingency" -> { (spark, dir) =>
      val obs = Tables.events(spark, dir)
        .groupBy(col("event_type"), expr("weekday(to_date(ts_sec)) + 1").as("dow"))
        .agg(count(lit(1)).as("o"))
      val rowT = obs.groupBy("event_type").agg(sum(col("o")).as("r"))
      val colT = obs.groupBy("dow").agg(sum(col("o")).as("c"))
      val tot = obs.agg(sum(col("o")).as("n"))
      obs
        .join(broadcast(rowT), Seq("event_type"))
        .join(broadcast(colT), Seq("dow"))
        .crossJoin(broadcast(tot))
        .select(col("event_type"), col("dow"), col("o"),
          ((col("r") * col("c")).cast(DoubleType) / col("n").cast(DoubleType))
            .as("expected"),
          (((col("o") * col("n") - col("r") * col("c")).cast(dec) *
            (col("o") * col("n") - col("r") * col("c")).cast(dec)).cast(DoubleType) /
            (col("n").cast(dec) * col("r").cast(dec) * col("c").cast(dec))
              .cast(DoubleType)).as("contrib"))
        .orderBy("event_type", "dow")
    },

    // RFM segmentation: users split at the exact discrete median of
    // recency / frequency / monetary (three medians over the per-user
    // aggregate — |users| rows, not |events| — each via the distributed
    // prefix sum; thresholds broadcast back as one 1×3 row). Segment
    // codes order R→F→M, '1' = at-or-better-than median.
    "rfm1_segments" -> { (spark, dir) =>
      val maxDay = Tables.events(spark, dir)
        .agg(max(to_date(col("ts_sec"))).as("d0"))
      val perUser = Tables.events(spark, dir)
        .groupBy("user_id")
        .agg(
          max(to_date(col("ts_sec"))).as("last_day"),
          count(lit(1)).as("freq"),
          sum(round(col("value") * 100).cast(LongType)).as("mon"))
        .crossJoin(broadcast(maxDay))
        .select(col("user_id"),
          datediff(col("d0"), col("last_day")).cast(LongType).as("rec"),
          col("freq"), col("mon"))
        // eager: FOUR independent consumers (three medians + the final
        // join) each re-derive a lazy checkpoint when their stages run
        // in parallel (the dr1/mod1 lesson); eager materializes the
        // small per-user relation exactly once
        .localCheckpoint(eager = true)
      val th = broadcast(
        medianDisc(perUser, "rec", "rmed")
          .crossJoin(medianDisc(perUser, "freq", "fmed"))
          .crossJoin(medianDisc(perUser, "mon", "mmed")))
      perUser.crossJoin(th)
        .select(
          concat(
            when(col("rec") <= col("rmed"), "R1").otherwise("R0"),
            when(col("freq") >= col("fmed"), "F1").otherwise("F0"),
            when(col("mon") >= col("mmed"), "M1").otherwise("M0")).as("segment"),
          col("mon"))
        .groupBy("segment")
        .agg(count(lit(1)).as("n_users"),
          (sum(col("mon")).cast(DoubleType) / 100.0).as("total_monetary"))
        .orderBy("segment")
    },

    // l-diversity audit — the disclosure check k-anonymity (pp1/dq2)
    // misses: a class can hold k rows yet ONE sensitive value (everyone
    // in it provably shares the attribute). Over pp1's level-0
    // quasi-identifier classes (nation, balance band), l = distinct
    // market segments per class; the census reports, per l, how many
    // classes and rows sit at that diversity — the l=1 row is the
    // homogeneity-attack surface. Two small aggregates, nothing wide.
    "pp2_l_diversity" -> { (spark, dir) =>
      Tables.customer(spark, dir)
        .select(col("c_nationkey"),
          floor(col("c_acctbal") / 2000).cast(LongType).as("band"),
          col("c_mktsegment"))
        .groupBy("c_nationkey", "band")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("c_mktsegment")).as("l"))
        .groupBy("l")
        .agg(count(lit(1)).as("n_classes"), sum(col("n_rows")).as("n_rows"))
        .orderBy("l")
    },

    // t-closeness audit (Li et al. 2007) — the distribution-skew check
    // l-diversity misses: a class can hold l distinct sensitive values
    // whose DISTRIBUTION still leaks (e.g. 90% of one value vs 10%
    // globally). Sensitive ordinal = length octile (8 fixed buckets);
    // classes = (lang, source). For ordered attributes EMD reduces to
    // the mean |cumulative-distribution gap|; kept INTEGER-EXACT by
    // cross-multiplying the two cumulative fractions to the common
    // denominator N_g·N: emd_num = Σ_j |cum_g(j)·N − cum_all(j)·N_g|,
    // emd_den = N_g·N·(m−1), violation at t = 0.2 via 5·num > den — no
    // float division anywhere. (At extreme corpus sizes cum·N can
    // approach 2^63; quantize counts first if N > ~3e9.)
    // Scale shape: two narrow aggregates over the corpus; the bucket
    // spine (8 rows), per-class counts (|classes|·8), and global
    // cumulative table all broadcast — the ≤-joins are against
    // broadcast sides only, never a corpus-wide non-equi join.
    "pp3_t_closeness" -> { (spark, dir) =>
      val d = Tables.documents(spark, dir)
        .select(col("lang"), col("source"),
          least(expr("n_chars div 32"), lit(7L)).as("b"))
        .localCheckpoint(eager = true) // feeds 3 aggregates
      val nDf = d.agg(count(lit(1)).as("n"))
      val ng = d.groupBy("lang", "source").agg(count(lit(1)).as("n_rows"))
      val gb = d.groupBy("b").agg(count(lit(1)).as("gcnt"))
      val spine = spark.range(0, 8).select(col("id").as("j"))
      val gcum = spine.join(broadcast(gb), col("b") <= col("j"), "left")
        .groupBy("j").agg(coalesce(sum(col("gcnt")), lit(0L)).as("gcum"))
      val cb = d.groupBy("lang", "source", "b").agg(count(lit(1)).as("cnt"))
        .select(col("lang").as("cl"), col("source").as("cs"),
          col("b"), col("cnt"))
      ng.select("lang", "source").crossJoin(broadcast(spine))
        .join(broadcast(cb),
          col("lang") === col("cl") && col("source") === col("cs")
            && col("b") <= col("j"), "left")
        .groupBy("lang", "source", "j")
        .agg(coalesce(sum(col("cnt")), lit(0L)).as("cum"))
        .join(broadcast(gcum), Seq("j"))
        .join(ng, Seq("lang", "source"))
        .crossJoin(broadcast(nDf))
        .groupBy("lang", "source", "n_rows", "n")
        .agg(sum(abs(col("cum") * col("n") - col("gcum") * col("n_rows")))
          .as("emd_num"))
        .select(col("lang"), col("source"), col("n_rows"), col("emd_num"),
          (col("n_rows") * col("n") * 7L).as("emd_den"),
          (col("emd_num") * 5L > col("n_rows") * col("n") * 7L)
            .as("t_violation"))
        .orderBy("lang", "source")
    },

    // Randomized response (Warner 1965) — the plausible-deniability
    // survey mechanism, the ancestor of local differential privacy:
    // each user's sensitive flag (is-purchaser) flips with probability
    // p = 1/4 before aggregation, and the aggregate debiases with
    // t̂ = (observed − p·n)/(1 − 2p). Every quantity is deterministic
    // here: the "coin" is the portable md5 hash of the user id (so the
    // oracle replays the exact flips), and the debias arithmetic is all
    // dyadic (p = 1/4, 1−2p = 1/2) — float-EXACT on any engine, no
    // libm. The true count rides along to exhibit calibration (|est −
    // truth| small per cohort). One narrow per-user aggregate + one
    // 8-row rollup; nothing wide at any scale.
    "rr1_randomized_response" -> { (spark, dir) =>
      val users = Tables.events(spark, dir)
        .groupBy("user_id")
        .agg(max((col("event_type") === "purchase").cast("int")).as("truth"))
      val flip = graft.operators.Dedup
        .portableHash60(concat(lit("rr1|"), col("user_id"))) % 4 === 0
      users
        .select(col("user_id"), col("truth"),
          when(flip, lit(1) - col("truth")).otherwise(col("truth")).as("reported"))
        .groupBy((col("user_id") % 8).as("cohort"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("reported")).cast(LongType).as("n_reported"),
          sum(col("truth")).cast(LongType).as("true_purchasers"))
        .withColumn("est_purchasers",
          (col("n_reported").cast(DoubleType) -
            lit(0.25) * col("n_users").cast(DoubleType)) / lit(0.5))
        .select(col("cohort"), col("n_users"), col("n_reported"),
          col("est_purchasers"), col("true_purchasers"))
        .orderBy("cohort")
    },

    // Poisson-bootstrap CI for the MEDIAN purchase spend — the robust
    // twin of bs1, and unlike the mean it stays ALL-INTEGER end to end:
    // each replicate's statistic is the weighted discrete lower median
    // (least cents value whose running weight reaches half the
    // replicate's total, found by cross-multiplied prefix sums — never
    // a float), so the point estimate and both CI bounds are exact
    // BIGINTs on any engine. Same no-resampling-shuffle shape as bs1:
    // weights are pure hash functions, the per-replicate relation is
    // (replicate × distinct cents), windows partition by replicate.
    "bs2_bootstrap_median" -> { (spark, dir) =>
      val b = 64
      val pu = Tables.events(spark, dir)
        .where(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(sum(floor(col("value") * 100).cast(LongType)).as("cents"))
        .localCheckpoint(eager = true) // feeds replicates + point median
      val h = graft.operators.Dedup.portableHash60(
        concat_ws(":", lit("bs2"), col("user_id"), col("r")))
      val w = graft.operators.Sampling.poissonWeight(h)
      val grouped = pu
        .select(col("user_id"), col("cents"),
          explode(sequence(lit(1), lit(b))).as("r"))
        .withColumn("w", w)
        .where(col("w") > 0)
        .groupBy("r", "cents")
        .agg(sum(col("w")).as("ws"))
      val wr = Window.partitionBy("r")
      val wOrd = wr.orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // weighted discrete lower median per replicate: least cents with
      // 2·cumweight >= total (exact integers)
      val medians = grouped
        .withColumn("cw", sum(col("ws")).over(wOrd))
        .withColumn("tot", sum(col("ws")).over(wr))
        .where(col("cw") * 2 >= col("tot"))
        .groupBy("r").agg(min(col("cents")).as("med"))
      // full-sample discrete lower median via the shared distributed
      // prefix-sum selector (same convention: least v with
      // crank >= (n+1) div 2 ⟺ 2·cw >= n)
      graft.operators.Sampling.withBootstrapCi(
        pu.agg(count(lit(1)).as("n_users"))
          .crossJoin(broadcast(medianDisc(pu, "cents", "med_cents"))),
        medians, "med")
    },

    // Grouped 5-fold cross-validation assignment — folds split by USER
    // (the grouping unit), never by row, so no user's events straddle a
    // train/validation boundary (the leakage smp6 guards for the 2-way
    // split, extended to K folds). Assignment is the portable 60-bit
    // hash mod K: deterministic, engine-independent, stable under
    // reruns and repartitioning. The census reports per-fold balance —
    // users, events, purchasers, exact purchase cents — the check run
    // before trusting fold-wise metrics.
    "cv1_fold_assignment" -> { (spark, dir) =>
      val folds = Tables.events(spark, dir)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          expr("count_if(event_type = 'purchase')").as("n_purch"),
          sum(when(col("event_type") === "purchase",
            floor(col("value") * 100).cast(LongType)).otherwise(0L))
            .as("cents"))
        .withColumn("fold",
          graft.operators.Dedup.portableHash60(
            concat_ws(":", lit("cv1"), col("user_id"))) % 5)
      folds.groupBy("fold")
        .agg(count(lit(1)).as("n_users"),
          sum(col("n_events")).as("n_events"),
          expr("count_if(n_purch > 0)").as("n_purchasers"),
          sum(col("cents")).as("purchase_cents"))
        .orderBy("fold")
    },

    // Poisson bootstrap CI for mean purchase spend per purchasing user —
    // THE bootstrap that works at 100 TB: instead of resampling (a
    // shuffle per replicate), every user gets an independent
    // Poisson(1)-distributed weight per replicate, derived
    // deterministically from the portable 60-bit hash via exact integer
    // inverse-CDF thresholds (floor(P(X<=k)·2^60), tail capped at 5 —
    // P(X>5) ≈ 0.06%, an operational definition both engines share).
    // One pass over the per-user aggregate × 64 replicates; every
    // replicate mean is an exact-integer num/den pair divided once, so
    // the CI bounds are bit-identical cross-engine. The rank selection
    // runs on the 64-row replicate relation (bounded — a global window
    // there is free at any corpus size).
    "bs1_bootstrap_ci" -> { (spark, dir) =>
      val b = 64
      val pu = Tables.events(spark, dir)
        .where(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(sum(floor(col("value") * 100).cast(LongType)).as("cents"))
      val h = graft.operators.Dedup.portableHash60(
        concat_ws(":", lit("bs1"), col("user_id"), col("r")))
      val w = graft.operators.Sampling.poissonWeight(h)
      val reps = pu
        .select(col("user_id"), col("cents"),
          explode(sequence(lit(1), lit(b))).as("r"))
        .withColumn("w", w)
        .groupBy("r")
        .agg(sum(col("w") * col("cents")).as("num"), sum(col("w")).as("den"))
        .where(col("den") > 0)
        .select(col("r"),
          (col("num").cast(DoubleType) / col("den").cast(DoubleType))
            .as("mean_c"))
      graft.operators.Sampling.withBootstrapCi(
        pu.agg(count(lit(1)).as("n_users"),
          (sum(col("cents")).cast(DoubleType) /
            count(lit(1)).cast(DoubleType)).as("mean_cents")),
        reps, "mean_c")
    },

    // Hellinger drift census — tv1's companion divergence with the
    // OPPOSITE sensitivity profile (geometric-mean coupling punishes
    // disjoint support; TV's L1 treats all mass moves alike). The
    // Bhattacharyya coefficient Σ√(p_s·p) quantizes per-term with the
    // bm1/ppl1 trick: √(cs·c) is ONE IEEE op on exact integers,
    // floor(·2^20) makes each term a BIGINT, the cross-term sum is
    // order-independent, and the single trailing division by
    // 2^20·√(N_s·N) is the only unquantized float. Terms absent from
    // the source contribute exactly 0 (√0), so — like tv1 — each
    // source only joins ITS OWN vocabulary. hell2 = 1 − BC ∈ [0,1].
    "hell1_hellinger_drift" -> { (spark, dir) =>
      hellingerFromCounts(
          sourceTermCounts(Tables.documentsParallel(spark, dir))
            .localCheckpoint(eager = true)) // feeds totals + the join
        .orderBy("source")
    },

    // Source-profile cosine — the third drift lens (angle between the
    // raw term-FREQUENCY vectors; length-invariant where tv1/hell1
    // compare normalized distributions): Σcs·c / (√Σcs²·√Σc²). Every
    // moment is an exact BIGINT; the two sqrts and one division are
    // the single trailing double formula — no quantization needed at
    // all. Same own-vocabulary join shape as tv1.
    "csim1_source_profile_cosine" -> { (spark, dir) =>
      cosineFromCounts(
          sourceTermCounts(Tables.documentsParallel(spark, dir))
            .localCheckpoint(eager = true)) // feeds norms + the dot join
        .orderBy("source")
    },

    // N-gram novelty — what fraction of a source's trigram TYPES appear
    // in no other source: the uniqueness/redundancy call a mixture
    // designer makes before paying for more of a source. Exact set
    // algebra: per-trigram distinct-source counts, a type is novel iff
    // its source count is 1. One (trigram → n_sources) aggregate; the
    // per-source rollup joins each source's own types only.
    "nov1_ngram_novelty" -> { (spark, dir) =>
      noveltyFromWords(wordRows(Tables.documentsParallel(spark, dir)))
    },

    // Matthews correlation coefficient for a binary screen — THE
    // single-number classifier summary that stays honest under class
    // imbalance (unlike accuracy or F1): here the "does a >$150k order
    // finish as F?" rule. The confusion matrix is four exact integer
    // counts from one map-side aggregate; MCC is one trailing double
    // formula over them (products stay inside the double mantissa up
    // to ~10^13 rows per cell pair — exact at any realistic audit).
    "ml4_mcc" -> { (spark, dir) =>
      val o = Tables.orders(spark, dir).select(
        (round(col("o_totalprice") * 100).cast(LongType) > 15000000L)
          .as("pred"),
        (col("o_orderstatus") === "F").as("pos"))
      o.agg(
          expr("count_if(pred AND pos)").as("tp"),
          expr("count_if(pred AND NOT pos)").as("fp"),
          expr("count_if(NOT pred AND pos)").as("fn"),
          expr("count_if(NOT pred AND NOT pos)").as("tn"))
        .select(col("tp"), col("fp"), col("fn"), col("tn"),
          ((col("tp") * col("tn") - col("fp") * col("fn")).cast(DoubleType) /
            sqrt((col("tp") + col("fp")).cast(DoubleType) *
              (col("tp") + col("fn")).cast(DoubleType) *
              (col("tn") + col("fp")).cast(DoubleType) *
              (col("tn") + col("fn")).cast(DoubleType))).as("mcc"))
    },

    // Reliability diagram (calibration bins) — the eval artifact
    // behind every ECE claim, and iso1's diagnostic twin: per
    // predicted-probability decile, observed positive rate vs mean
    // predicted probability. Per-row probabilities quantize to 2^20
    // BIGINTs (the bm1/ppl1 trick) so the per-bin confidence sum is
    // order-independent; acc/conf/gap are per-ROW trailing doubles —
    // the cross-bin ECE float sum is deliberately NOT emitted
    // (summation order is engine-dependent; any consumer can fold the
    // 10 exact rows itself). One map-side aggregate over the corpus.
    "ece1_reliability_bins" -> { (spark, dir) =>
      val p = least(col("o_totalprice") / lit(600000.0), lit(1.0))
      val o = Tables.orders(spark, dir).select(
        least(floor(p * lit(10.0)), lit(9.0)).cast(LongType).as("bin"),
        VectorMath.quantize(p).as("p_q"),
        when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("pos"))
      o.groupBy("bin")
        .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"),
          sum(col("p_q")).as("conf_q"))
        .withColumn("acc",
          col("n_pos").cast(DoubleType) / col("n").cast(DoubleType))
        .withColumn("conf", col("conf_q").cast(DoubleType) /
          (col("n").cast(DoubleType) * lit(VectorMath.Scale)))
        .withColumn("gap", abs(col("acc") - col("conf")))
        .orderBy("bin")
    },

    // Jackknife source influence — "which source drags the corpus
    // metric": the leave-one-source-out mean in closed form from four
    // exact totals, mean_wo = (S − s_g)/(N − n_g), so the whole
    // influence table costs ONE per-source aggregate + a broadcast
    // 1-row total (never |sources| recomputation passes). The signed
    // influence is what a curation loop ranks by before dropping or
    // down-weighting a source.
    "jk1_source_influence" -> { (spark, dir) =>
      val d = Tables.documents(spark, dir).select(col("source"), col("n_chars"))
      val per = d.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("s_chars"))
      val tot = d.agg(count(lit(1)).as("n"), sum(col("n_chars")).as("s"))
      val meanWo = (col("s") - col("s_chars")).cast(DoubleType) /
        (col("n") - col("n_docs")).cast(DoubleType)
      per.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("s_chars"),
          meanWo.as("mean_without"),
          (meanWo - col("s").cast(DoubleType) / col("n").cast(DoubleType))
            .as("influence"))
        .orderBy("source")
    },

    // Kendall tau-b rank correlation between daily revenue and daily
    // quantity per return flag — the monotone-association check that is
    // robust where Pearson (a19) is dragged by heavy days. Every pair is
    // classified with exact integer comparisons (revenue in cents,
    // quantity in units), so nc/nd/tie counts are BIGINT; tau-b is ONE
    // trailing double formula over those five integers. Scale shape:
    // the pair self-join runs on the DAILY rollup, so its size is
    // calendar-bounded (~2.5k days/flag → ~3M pairs) no matter how many
    // raw lineitem rows feed the rollup — the O(n²) is over n = days,
    // never n = rows.
    "kt1_kendall_tau" -> { (spark, dir) =>
      val daily = Tables.lineitem(spark, dir)
        .groupBy(col("l_returnflag").as("flag"),
          to_date(col("l_shipdate")).as("day"))
        .agg(sum(round(col("l_extendedprice") * 100).cast(LongType)).as("x"),
          sum(col("l_quantity").cast(LongType)).as("y"))
        .localCheckpoint(eager = true) // feeds pair join twice + n_days
      val a = daily.select(col("flag"), col("day").as("da"),
        col("x").as("xa"), col("y").as("ya"))
      val b = daily.select(col("flag"), col("day").as("db"),
        col("x").as("xb"), col("y").as("yb"))
      val pairs = a.join(b, Seq("flag")).where(col("da") < col("db"))
        .groupBy("flag")
        .agg(
          expr("count_if((xa < xb AND ya < yb) OR (xa > xb AND ya > yb))")
            .as("nc"),
          expr("count_if((xa < xb AND ya > yb) OR (xa > xb AND ya < yb))")
            .as("nd"),
          expr("count_if(xa = xb)").as("n1"),
          expr("count_if(ya = yb)").as("n2"))
      val n = daily.groupBy("flag").agg(count(lit(1)).as("n_days"))
      pairs.join(broadcast(n), Seq("flag"))
        .select(col("flag"), col("n_days"), col("nc"), col("nd"),
          col("n1"), col("n2"),
          ((col("nc") - col("nd")).cast(DoubleType) /
            sqrt((expr("n_days * (n_days - 1) div 2") - col("n1"))
                .cast(DoubleType) *
              (expr("n_days * (n_days - 1) div 2") - col("n2"))
                .cast(DoubleType))).as("tau_b"))
        .orderBy("flag")
    },

    // Chao1 vocabulary-richness estimator per source — "how many unique
    // tokens would this source show with unbounded sampling?", the
    // coverage question a corpus curator asks before deciding a source
    // is exhausted. Uses the bias-corrected form D + f1(f1−1)/(2(f2+1))
    // (defined even when no doubletons exist). D / f1 / f2 are exact
    // integers off one (source, term) count; the estimator is ONE
    // trailing double formula. Scale shape: two map-side-combinable
    // aggregates — tokens → (source, term) counts → per-source counts of
    // counts; nothing wider than the vocabulary ever shuffles.
    "chao1_vocab_richness" -> { (spark, dir) =>
      chao1FromCounts(sourceTermCounts(Tables.documentsParallel(spark, dir)))
        .orderBy("source")
    },

    // Heaps'-law vocabulary-growth curve — distinct types seen within
    // the first N tokens of the corpus, for a cap ladder: the measured
    // "will more data keep buying new vocabulary?" curve next to
    // chao1's point estimate. Global token positions come from the
    // DISTRIBUTED two-pass prefix sum over per-doc lengths
    // (Packing.prefixSum — never a partition-less window over docs);
    // each term reduces to its min position (one aggregate), and the
    // cap ladder explodes over the |vocab|-sized relation only.
    "heaps1_vocab_growth" -> { (spark, dir) =>
      val ws = TextAnalysis.words(col("text"))
      val docToks = Tables.documentsParallel(spark, dir)
        .select(col("doc_id"), ws.as("w0"))
        .select(col("doc_id"), expr("filter(w0, t -> t <> '')").as("w"))
        .localCheckpoint(eager = true) // feeds lengths + positions
      val lens = docToks.select(col("doc_id"),
        size(col("w")).cast(LongType).as("len"))
      val offs = Packing.prefixSum(lens, Seq(col("doc_id")), col("len"), "cum")
        .select(col("doc_id"), (col("cum") - col("len")).as("off"))
      val firstPos = docToks.join(offs, Seq("doc_id"))
        .select(col("off"), posexplode(col("w")).as(Seq("i", "term")))
        .select(col("term"), (col("off") + col("i") + 1).as("gpos"))
        .groupBy("term").agg(min(col("gpos")).as("first_pos"))
      firstPos.select(col("first_pos"),
          explode(array(Seq(1000L, 2000L, 4000L, 8000L, 16000L, 32000L)
            .map(lit): _*)).as("cap"))
        .groupBy("cap")
        .agg(expr("count_if(first_pos <= cap)").as("n_types"))
        .orderBy("cap")
    },

    // Zipf rank-frequency diagnostic — the top-40 terms with their
    // rank·frequency product (constant under a perfect Zipf fit, the
    // log-free way to eyeball the exponent). TakeOrdered top-40, rank
    // window over the 40-row relation only; all integers.
    "zipf1_rank_frequency" -> { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val top = Tables.documentsParallel(spark, dir)
        .select(explode(TextAnalysis.words(col("text"))).as("term"))
        .where(col("term") =!= "")
        .groupBy("term").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("term")).limit(40)
      top.withColumn("rank",
          row_number().over(Window.orderBy(col("c").desc, col("term"))))
        .select(col("rank"), col("term"), col("c"),
          (col("rank") * col("c")).as("rank_x_freq"))
        .orderBy("rank")
    },

    // Total-variation distance between each source's token distribution
    // and the whole corpus — the drift census run on every ingest batch
    // ("which source stopped looking like the mix?"). Exact-integer
    // core: TV = Σ_t |p_s − p| / 2 cross-multiplies to
    // (Σ_{t∈s} |c_s·N − c·N_s| + N_s·(N − Σ_{t∈s} c)) / (2·N_s·N), so
    // the numerator is a BIGINT and only ONE trailing division is
    // double. The missing-term mass is folded in closed form (N − cov),
    // so each source only ever joins ITS OWN terms to the global counts
    // — the shuffled relation is Σ|vocab_s|, never |sources|×|vocab|.
    // (Products are c·N ≤ N_s·N ≈ 1e13 at sf1 — upgrade the numerator
    // to DECIMAL(38,0) past ~3e9 tokens.)
    "tv1_distribution_shift" -> { (spark, dir) =>
      TextAnalysis.totalVariationBySource(
          sourceTermCounts(Tables.documentsParallel(spark, dir)))
        .orderBy("source")
    },
  )

  val oracles: Map[String, String] = Map(
    "bs2_bootstrap_median" ->
      """WITH pu AS (
        |  SELECT user_id,
        |    CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1
        |), reps AS (
        |  SELECT pu.cents, g.r,
        |    ('0x' || substr(md5('bs2:' || pu.user_id || ':' || g.r), 1, 15))::BIGINT AS h
        |  FROM pu, UNNEST(generate_series(1, 64)) AS g(r)
        |), wts AS (
        |  SELECT r, cents,
        |    CASE WHEN h < 424136118829305344 THEN 0
        |         WHEN h < 848272237658610688 THEN 1
        |         WHEN h < 1060340297073263360 THEN 2
        |         WHEN h < 1131029650211480960 THEN 3
        |         WHEN h < 1148701988496035200 THEN 4
        |         ELSE 5 END AS w
        |  FROM reps
        |), grouped AS (
        |  SELECT r, cents, CAST(SUM(w) AS BIGINT) AS ws
        |  FROM wts WHERE w > 0 GROUP BY 1, 2
        |), cum AS (
        |  SELECT r, cents,
        |    CAST(SUM(ws) OVER (PARTITION BY r ORDER BY cents
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw,
        |    CAST(SUM(ws) OVER (PARTITION BY r) AS BIGINT) AS tot
        |  FROM grouped
        |), meds AS (
        |  SELECT r, MIN(cents) AS med FROM cum
        |  WHERE cw * 2 >= tot GROUP BY 1
        |), ranked AS (
        |  SELECT med,
        |    row_number() OVER (ORDER BY med, r) AS rk,
        |    COUNT(*) OVER () AS nb
        |  FROM meds
        |), point AS (
        |  SELECT MIN(cents) AS med_cents FROM (
        |    SELECT cents,
        |      SUM(COUNT(*)) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING)
        |        AS crank,
        |      SUM(COUNT(*)) OVER () AS n
        |    FROM pu GROUP BY cents) t
        |  WHERE crank >= (n + 1) // 2
        |)
        |SELECT (SELECT COUNT(*) FROM pu) AS n_users,
        |  (SELECT med_cents FROM point) AS med_cents,
        |  (SELECT med FROM ranked
        |     WHERE rk = CAST(ceil(nb * 0.025) AS BIGINT)) AS ci_lo_cents,
        |  (SELECT med FROM ranked
        |     WHERE rk = CAST(ceil(nb * 0.975) AS BIGINT)) AS ci_hi_cents""".stripMargin,
    "rr1_randomized_response" ->
      """WITH u AS (
        |  SELECT user_id,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS truth
        |  FROM events GROUP BY 1
        |), r AS (
        |  SELECT user_id, truth,
        |    CASE WHEN ('0x' || substr(md5('rr1|' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 4 = 0
        |         THEN 1 - truth ELSE truth END AS reported
        |  FROM u
        |)
        |SELECT user_id % 8 AS cohort,
        |  COUNT(*) AS n_users,
        |  CAST(SUM(reported) AS BIGINT) AS n_reported,
        |  (CAST(CAST(SUM(reported) AS BIGINT) AS DOUBLE)
        |    - 0.25 * CAST(COUNT(*) AS DOUBLE)) / 0.5 AS est_purchasers,
        |  CAST(SUM(truth) AS BIGINT) AS true_purchasers
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    "pp2_l_diversity" ->
      """WITH cls AS (
        |  SELECT c_nationkey,
        |    CAST(floor(c_acctbal / 2000) AS BIGINT) AS band,
        |    COUNT(*) AS n_rows,
        |    CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS l
        |  FROM customer GROUP BY 1, 2
        |)
        |SELECT l, COUNT(*) AS n_classes,
        |  CAST(SUM(n_rows) AS BIGINT) AS n_rows
        |FROM cls GROUP BY 1 ORDER BY 1""".stripMargin,
    // EMD over the ordered length octiles, cross-multiplied to the
    // common denominator N_g*N so every term stays integer
    "pp3_t_closeness" ->
      """WITH d AS (
        |  SELECT lang, source, LEAST(n_chars // 32, 7) AS b FROM documents
        |), n AS (SELECT COUNT(*) AS n FROM d),
        |ng AS (
        |  SELECT lang, source, COUNT(*) AS n_rows FROM d GROUP BY 1, 2
        |), gb AS (SELECT b, COUNT(*) AS gcnt FROM d GROUP BY 1),
        |spine AS (SELECT g.j FROM generate_series(0, 7) AS g(j)),
        |gcum AS (
        |  SELECT s.j, COALESCE(SUM(gb.gcnt), 0) AS gcum
        |  FROM spine s LEFT JOIN gb ON gb.b <= s.j GROUP BY 1
        |), cb AS (
        |  SELECT lang, source, b, COUNT(*) AS cnt FROM d GROUP BY 1, 2, 3
        |), grid AS (
        |  SELECT c.lang, c.source, s.j, COALESCE(SUM(cb.cnt), 0) AS cum
        |  FROM (SELECT DISTINCT lang, source FROM d) c
        |  CROSS JOIN spine s
        |  LEFT JOIN cb ON cb.lang = c.lang AND cb.source = c.source
        |    AND cb.b <= s.j
        |  GROUP BY 1, 2, 3
        |)
        |SELECT g.lang, g.source, ng.n_rows,
        |  CAST(SUM(ABS(g.cum * n.n - gc.gcum * ng.n_rows)) AS BIGINT)
        |    AS emd_num,
        |  CAST(ng.n_rows * n.n * 7 AS BIGINT) AS emd_den,
        |  SUM(ABS(g.cum * n.n - gc.gcum * ng.n_rows)) * 5
        |    > ng.n_rows * n.n * 7 AS t_violation
        |FROM grid g
        |JOIN gcum gc USING (j)
        |JOIN ng ON ng.lang = g.lang AND ng.source = g.source
        |CROSS JOIN n
        |GROUP BY g.lang, g.source, ng.n_rows, n.n
        |ORDER BY g.lang, g.source""".stripMargin,
    "cv1_fold_assignment" ->
      """WITH pu AS (
        |  SELECT user_id, COUNT(*) AS n_events,
        |    count_if(event_type = 'purchase') AS n_purch,
        |    SUM(CASE WHEN event_type = 'purchase'
        |      THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END) AS cents,
        |    ('0x' || substr(md5('cv1:' || user_id), 1, 15))::BIGINT % 5 AS fold
        |  FROM events GROUP BY user_id
        |)
        |SELECT fold, COUNT(*) AS n_users,
        |  CAST(SUM(n_events) AS BIGINT) AS n_events,
        |  CAST(count_if(n_purch > 0) AS BIGINT) AS n_purchasers,
        |  CAST(SUM(cents) AS BIGINT) AS purchase_cents
        |FROM pu GROUP BY 1 ORDER BY 1""".stripMargin,
    "bs1_bootstrap_ci" ->
      """WITH pu AS (
        |  SELECT user_id,
        |    CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1
        |), reps AS (
        |  SELECT pu.user_id, pu.cents, g.r,
        |    ('0x' || substr(md5('bs1:' || pu.user_id || ':' || g.r), 1, 15))::BIGINT AS h
        |  FROM pu, UNNEST(generate_series(1, 64)) AS g(r)
        |), wts AS (
        |  SELECT r, cents,
        |    CASE WHEN h < 424136118829305344 THEN 0
        |         WHEN h < 848272237658610688 THEN 1
        |         WHEN h < 1060340297073263360 THEN 2
        |         WHEN h < 1131029650211480960 THEN 3
        |         WHEN h < 1148701988496035200 THEN 4
        |         ELSE 5 END AS w
        |  FROM reps
        |), rr AS (
        |  SELECT r, CAST(SUM(w * cents) AS BIGINT) AS num,
        |    CAST(SUM(w) AS BIGINT) AS den
        |  FROM wts GROUP BY 1 HAVING SUM(w) > 0
        |), means AS (
        |  SELECT r, CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS mean_c,
        |    row_number() OVER (ORDER BY CAST(num AS DOUBLE) / CAST(den AS DOUBLE), r) AS rk,
        |    COUNT(*) OVER () AS nb
        |  FROM rr
        |)
        |SELECT (SELECT COUNT(*) FROM pu) AS n_users,
        |  (SELECT CAST(SUM(cents) AS DOUBLE) / COUNT(*) FROM pu) AS mean_cents,
        |  (SELECT mean_c FROM means
        |     WHERE rk = CAST(ceil(nb * 0.025) AS BIGINT)) AS ci_lo_cents,
        |  (SELECT mean_c FROM means
        |     WHERE rk = CAST(ceil(nb * 0.975) AS BIGINT)) AS ci_hi_cents""".stripMargin,
    "ks1_source_drift" ->
      """WITH g AS (
        |  SELECT n_chars AS v,
        |    count(*) FILTER (WHERE source = 'src0') AS ca,
        |    count(*) FILTER (WHERE source <> 'src0') AS cb
        |  FROM documents GROUP BY 1),
        |c AS (
        |  SELECT v,
        |    sum(ca) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
        |    sum(cb) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb,
        |    sum(ca) OVER () AS na, sum(cb) OVER () AS nb
        |  FROM g),
        |d AS (
        |  SELECT v, na, nb, abs(cuma * nb - cumb * na) AS d FROM c)
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  min(v) AS ks_at,
        |  CAST(d AS DOUBLE) / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
        |    AS ks_stat
        |FROM d
        |WHERE d = (SELECT max(d) FROM d)
        |GROUP BY na, nb, d""".stripMargin,
    "gini1_length_concentration" ->
      """WITH g AS (
        |  SELECT n_chars AS v, count(*) AS m FROM documents GROUP BY 1),
        |r AS (
        |  SELECT v, m,
        |    sum(m) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS crank
        |  FROM g),
        |s AS (
        |  SELECT sum(m) AS n, sum(v * m) AS t,
        |    sum(v * (m * crank - (m * (m - 1)) // 2)) AS s
        |  FROM r)
        |SELECT CAST(n AS BIGINT) AS n_docs, CAST(t AS BIGINT) AS total_chars,
        |  (2.0 * CAST(s AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * CAST(t AS DOUBLE))
        |    - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE) AS gini
        |FROM s""".stripMargin,
    // the md5-coin permutations replayed verbatim; p-value = the exact
    // integer ratio n_extreme / n_perms
    "perm1_permutation_test" ->
      """WITH pu AS (
        |  SELECT user_id,
        |    CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1
        |), obs AS (
        |  SELECT CAST(ABS(SUM(CASE WHEN user_id % 2 = 0
        |    THEN cents ELSE -cents END)) AS BIGINT) AS obs_cents
        |  FROM pu
        |), perms AS (
        |  SELECT g.r,
        |    CAST(ABS(SUM(CASE WHEN
        |      ('0x' || substr(md5('perm1:' || user_id || ':' || g.r), 1, 15))::BIGINT % 2 = 0
        |      THEN cents ELSE -cents END)) AS BIGINT) AS stat
        |  FROM pu, UNNEST(generate_series(1, 64)) AS g(r)
        |  GROUP BY 1
        |)
        |SELECT obs.obs_cents,
        |  CAST((SELECT COUNT(*) FROM perms) AS BIGINT) AS n_perms,
        |  CAST((SELECT count_if(stat >= obs.obs_cents) FROM perms) AS BIGINT)
        |    AS n_extreme
        |FROM obs""".stripMargin,
    // same doubled-average-rank construction over the grouped value axis
    "mwu1_mann_whitney" ->
      """WITH g AS (
        |  SELECT n_chars AS v,
        |    count(*) FILTER (WHERE source = 'src0') AS ca,
        |    count(*) FILTER (WHERE source <> 'src0') AS cb
        |  FROM documents GROUP BY 1),
        |c AS (
        |  SELECT ca, cb,
        |    2 * (sum(ca + cb) OVER (ORDER BY v
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |        - (ca + cb)) + (ca + cb) + 1 AS rank2
        |  FROM g),
        |s AS (
        |  SELECT CAST(sum(ca) AS BIGINT) AS na,
        |    CAST(sum(cb) AS BIGINT) AS nb,
        |    CAST(sum(ca * rank2) AS BIGINT) AS r2a
        |  FROM c)
        |SELECT na, nb,
        |  CAST(r2a - na * (na + 1) AS BIGINT) AS u2_a,
        |  CAST(2 * na * nb - (r2a - na * (na + 1)) AS BIGINT) AS u2_b
        |FROM s""".stripMargin,
    // same recurrence K_t = K_{t-1} + (#above - #below) via RANGE frames
    "cp1_pettitt" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(date_trunc('second', ts) AS DATE) AS day,
        |    CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2
        |), s AS (
        |  SELECT event_type, day,
        |    COUNT(*) OVER (PARTITION BY event_type ORDER BY x
        |      RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) -
        |    COUNT(*) OVER (PARTITION BY event_type ORDER BY x
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS s
        |  FROM daily
        |), k AS (
        |  SELECT event_type, day,
        |    abs(SUM(s) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS UNBOUNDED PRECEDING)) AS abs_k
        |  FROM s
        |), m AS (
        |  SELECT event_type, day, abs_k,
        |    MAX(abs_k) OVER (PARTITION BY event_type) AS k_abs,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n_days
        |  FROM k
        |)
        |SELECT event_type, CAST(MAX(n_days) AS BIGINT) AS n_days,
        |  MIN(day) AS cp_day, CAST(MAX(k_abs) AS BIGINT) AS k_abs
        |FROM m WHERE abs_k = k_abs
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // same closed-form minimax PAV over the bounded bucket axis
    "iso1_isotonic_calibration" ->
      """WITH b AS (
        |  SELECT CAST(least(floor(o_totalprice / 20000.0), 15.0) AS BIGINT)
        |      AS b,
        |    COUNT(*) AS n,
        |    CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS npos
        |  FROM orders GROUP BY 1
        |), pools AS (
        |  SELECT j.b AS j, k.b AS k,
        |    CAST(SUM(x.npos) AS DOUBLE) / CAST(SUM(x.n) AS DOUBLE) AS pavg
        |  FROM b j, b k, b x
        |  WHERE j.b <= k.b AND x.b BETWEEN j.b AND k.b
        |  GROUP BY 1, 2
        |), mn AS (
        |  SELECT i.b AS i, p.j, MIN(p.pavg) AS mn
        |  FROM pools p, b i WHERE p.j <= i.b AND i.b <= p.k
        |  GROUP BY 1, 2
        |), fit AS (
        |  SELECT i, MAX(mn) AS fit FROM mn GROUP BY 1
        |)
        |SELECT b.b AS bucket, CAST(b.n AS BIGINT) AS n, b.npos,
        |  CAST(floor(fit.fit * 1048576.0) AS BIGINT) AS fit_q
        |FROM b JOIN fit ON fit.i = b.b
        |ORDER BY 1""".stripMargin,
    "ab1_conversion_ztest" ->
      """WITH u AS (
        |  SELECT user_id % 2 = 0 AS variant_a,
        |    CASE WHEN count(*) FILTER (WHERE event_type = 'purchase')
        |      > count(*) FILTER (WHERE event_type = 'error')
        |      THEN 1 ELSE 0 END AS conv
        |  FROM events GROUP BY user_id),
        |s AS (
        |  SELECT
        |    count(*) FILTER (WHERE variant_a) AS na,
        |    CAST(sum(CASE WHEN variant_a THEN conv ELSE 0 END) AS BIGINT) AS xa,
        |    count(*) FILTER (WHERE NOT variant_a) AS nb,
        |    CAST(sum(CASE WHEN NOT variant_a THEN conv ELSE 0 END) AS BIGINT) AS xb
        |  FROM u)
        |SELECT na, xa, nb, xb,
        |  (CAST(xa AS DOUBLE) / CAST(na AS DOUBLE)
        |    - CAST(xb AS DOUBLE) / CAST(nb AS DOUBLE))
        |  / sqrt(
        |      (CAST(xa + xb AS DOUBLE) / CAST(na + nb AS DOUBLE))
        |      * (1.0 - CAST(xa + xb AS DOUBLE) / CAST(na + nb AS DOUBLE))
        |      * (1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE))) AS z
        |FROM s""".stripMargin,
    "pp1_kanon_generalize" ->
      """WITH c AS (
        |  SELECT c_custkey, c_nationkey,
        |    CAST(floor(c_acctbal / 2000) AS BIGINT) AS band
        |  FROM customer
        |), g0 AS (
        |  SELECT c_nationkey, band, COUNT(*) AS n0 FROM c GROUP BY 1, 2
        |), flagged AS (
        |  SELECT c.*, g0.n0 >= 5 AS l0ok
        |  FROM c JOIN g0 USING (c_nationkey, band)
        |), m1 AS (
        |  SELECT c_nationkey, COUNT(*) AS m1 FROM flagged
        |  WHERE NOT l0ok GROUP BY 1
        |), lv AS (
        |  SELECT f.*,
        |    CASE WHEN f.l0ok THEN 0
        |         WHEN m1.m1 >= 5 THEN 1 ELSE 2 END AS level,
        |    CASE WHEN f.l0ok THEN f.c_nationkey || ':' || f.band
        |         WHEN m1.m1 >= 5 THEN CAST(f.c_nationkey AS VARCHAR)
        |         ELSE '*' END AS cls
        |  FROM flagged f LEFT JOIN m1 USING (c_nationkey)
        |), sizes AS (
        |  SELECT cls, COUNT(*) AS cn FROM lv GROUP BY 1
        |)
        |SELECT CAST(level AS BIGINT) AS level, COUNT(*) AS n_rows,
        |  CAST(COUNT(DISTINCT lv.cls) AS BIGINT) AS n_classes,
        |  CAST(MIN(cn) AS BIGINT) AS min_class_size
        |FROM lv JOIN sizes USING (cls)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "exp2_cuped" ->
      """WITH pu AS (
        |  SELECT user_id,
        |    CAST(SUM(CASE WHEN CAST(date_trunc('second', ts) AS DATE)
        |      < DATE '2024-01-16' THEN CAST(floor(value * 100) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS x,
        |    CAST(SUM(CASE WHEN CAST(date_trunc('second', ts) AS DATE)
        |      >= DATE '2024-01-16' THEN CAST(floor(value * 100) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS y
        |  FROM events GROUP BY 1
        |), pooled AS (
        |  SELECT COUNT(*) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x * x) AS DOUBLE) AS dsxx,
        |    CAST(SUM(x * y) AS DOUBLE) AS dsxy
        |  FROM pu
        |), pv AS (
        |  SELECT user_id % 2 = 0 AS variant_a, COUNT(*) AS n_users,
        |    CAST(SUM(x) AS BIGINT) AS sum_pre,
        |    CAST(SUM(y) AS BIGINT) AS sum_post
        |  FROM pu GROUP BY 1
        |), t AS (
        |  SELECT pv.*, pooled.n, pooled.sx,
        |    (CAST(pooled.n AS DOUBLE) * pooled.dsxy
        |      - CAST(pooled.sx AS DOUBLE) * CAST(pooled.sy AS DOUBLE)) /
        |    (CAST(pooled.n AS DOUBLE) * pooled.dsxx
        |      - CAST(pooled.sx AS DOUBLE) * CAST(pooled.sx AS DOUBLE))
        |      AS theta
        |  FROM pv CROSS JOIN pooled
        |)
        |SELECT variant_a, n_users, sum_pre, sum_post, theta,
        |  CAST(sum_post AS DOUBLE) / n_users -
        |    theta * (CAST(sum_pre AS DOUBLE) / n_users
        |             - CAST(sx AS DOUBLE) / n) AS mean_adj
        |FROM t ORDER BY variant_a""".stripMargin,
    "chi1_contingency" ->
      """WITH obs AS (
        |  SELECT event_type,
        |    isodow(CAST(date_trunc('second', ts) AS DATE)) AS dow,
        |    count(*) AS o
        |  FROM events GROUP BY 1, 2),
        |rt AS (SELECT event_type, sum(o) AS r FROM obs GROUP BY 1),
        |ct AS (SELECT dow, sum(o) AS c FROM obs GROUP BY 1),
        |t AS (SELECT sum(o) AS n FROM obs)
        |SELECT obs.event_type, obs.dow, CAST(o AS BIGINT) AS o,
        |  CAST(r * c AS DOUBLE) / CAST(n AS DOUBLE) AS expected,
        |  CAST((o * n - r * c) * (o * n - r * c) AS DOUBLE)
        |    / CAST(n * r * c AS DOUBLE) AS contrib
        |FROM obs JOIN rt ON rt.event_type = obs.event_type
        |  JOIN ct ON ct.dow = obs.dow, t
        |ORDER BY obs.event_type, obs.dow""".stripMargin,
    "rfm1_segments" ->
      """WITH u AS (
        |  SELECT user_id,
        |    date_diff('day',
        |      max(CAST(date_trunc('second', ts) AS DATE)),
        |      (SELECT max(CAST(date_trunc('second', ts) AS DATE)) FROM events))
        |      AS rec,
        |    count(*) AS freq,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS mon
        |  FROM events GROUP BY user_id),
        |med AS (
        |  SELECT
        |    (SELECT v FROM (
        |      SELECT rec AS v, count(*) AS m FROM u GROUP BY 1) g
        |      QUALIFY sum(m) OVER (ORDER BY v
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |        >= (sum(m) OVER () + 1) // 2
        |      ORDER BY v LIMIT 1) AS rmed,
        |    (SELECT v FROM (
        |      SELECT freq AS v, count(*) AS m FROM u GROUP BY 1) g
        |      QUALIFY sum(m) OVER (ORDER BY v
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |        >= (sum(m) OVER () + 1) // 2
        |      ORDER BY v LIMIT 1) AS fmed,
        |    (SELECT v FROM (
        |      SELECT mon AS v, count(*) AS m FROM u GROUP BY 1) g
        |      QUALIFY sum(m) OVER (ORDER BY v
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |        >= (sum(m) OVER () + 1) // 2
        |      ORDER BY v LIMIT 1) AS mmed)
        |SELECT
        |  concat(
        |    CASE WHEN rec <= rmed THEN 'R1' ELSE 'R0' END,
        |    CASE WHEN freq >= fmed THEN 'F1' ELSE 'F0' END,
        |    CASE WHEN mon >= mmed THEN 'M1' ELSE 'M0' END) AS segment,
        |  count(*) AS n_users,
        |  CAST(sum(mon) AS DOUBLE) / 100.0 AS total_monetary
        |FROM u, med
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // per-term floor(sqrt(cs·c)·2^20) BIGINTs; one trailing division
    "hell1_hellinger_drift" ->
      """WITH toks AS (
        |  SELECT source, u.term FROM documents,
        |    UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS u(term)
        |  WHERE u.term <> ''
        |), sc AS (SELECT source, term, COUNT(*) AS cs FROM toks GROUP BY 1, 2),
        |g AS (SELECT term, COUNT(*) AS c FROM toks GROUP BY 1),
        |ns AS (SELECT source, COUNT(*) AS n_s FROM toks GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS n FROM toks),
        |bc AS (
        |  SELECT sc.source,
        |    CAST(SUM(CAST(floor(sqrt(CAST(sc.cs * g.c AS DOUBLE))
        |      * 1048576.0) AS BIGINT)) AS BIGINT) AS bc_q
        |  FROM sc JOIN g ON sc.term = g.term GROUP BY 1
        |)
        |SELECT bc.source, ns.n_s AS n_tokens, bc.bc_q,
        |  1.0 - CAST(bc.bc_q AS DOUBLE) /
        |    (1048576.0 * sqrt(CAST(ns.n_s AS DOUBLE) * CAST(tot.n AS DOUBLE)))
        |    AS hell2
        |FROM bc JOIN ns ON bc.source = ns.source CROSS JOIN tot
        |ORDER BY bc.source""".stripMargin,

    "csim1_source_profile_cosine" ->
      """WITH toks AS (
        |  SELECT source, u.term FROM documents,
        |    UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS u(term)
        |  WHERE u.term <> ''
        |), sc AS (SELECT source, term, COUNT(*) AS cs FROM toks GROUP BY 1, 2),
        |g AS (SELECT term, COUNT(*) AS c FROM toks GROUP BY 1),
        |gn AS (SELECT CAST(SUM(c * c) AS BIGINT) AS nn FROM g),
        |per AS (
        |  SELECT sc.source,
        |    CAST(SUM(sc.cs * g.c) AS BIGINT) AS dot,
        |    CAST(SUM(sc.cs * sc.cs) AS BIGINT) AS ns2,
        |    COUNT(*) AS vocab_s
        |  FROM sc JOIN g ON sc.term = g.term GROUP BY 1
        |)
        |SELECT source, vocab_s, dot,
        |  CAST(dot AS DOUBLE) /
        |    (sqrt(CAST(ns2 AS DOUBLE)) * sqrt(CAST(nn AS DOUBLE))) AS cosine
        |FROM per, gn ORDER BY source""".stripMargin,

    "nov1_ngram_novelty" ->
      """WITH w0 AS (
        |  SELECT source, string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM documents
        |), tri AS (
        |  SELECT DISTINCT source, unnest(list_transform(
        |    generate_series(1, len(w) - 2),
        |    i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS tri
        |  FROM w0 WHERE len(w) >= 3
        |), spread AS (
        |  SELECT tri, COUNT(*) AS n_sources FROM tri GROUP BY 1
        |)
        |SELECT t.source, COUNT(*) AS n_types,
        |  CAST(count_if(s.n_sources = 1) AS BIGINT) AS n_novel,
        |  CAST(count_if(s.n_sources = 1) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |    AS novelty
        |FROM tri t JOIN spread s ON t.tri = s.tri
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "ml4_mcc" ->
      """WITH o AS (
        |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) > 15000000
        |      AS pred,
        |    o_orderstatus = 'F' AS pos
        |  FROM orders
        |), cm AS (
        |  SELECT
        |    CAST(count_if(pred AND pos) AS BIGINT) AS tp,
        |    CAST(count_if(pred AND NOT pos) AS BIGINT) AS fp,
        |    CAST(count_if(NOT pred AND pos) AS BIGINT) AS fn,
        |    CAST(count_if(NOT pred AND NOT pos) AS BIGINT) AS tn
        |  FROM o
        |)
        |SELECT tp, fp, fn, tn,
        |  CAST(tp * tn - fp * fn AS DOUBLE) /
        |    sqrt(CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE)
        |      * CAST(tn + fp AS DOUBLE) * CAST(tn + fn AS DOUBLE)) AS mcc
        |FROM cm""".stripMargin,

    "ece1_reliability_bins" ->
      """WITH o AS (
        |  SELECT LEAST(o_totalprice / 600000.0, 1.0) AS p,
        |    o_orderstatus = 'F' AS pos
        |  FROM orders
        |), b AS (
        |  SELECT CAST(LEAST(floor(p * 10.0), 9.0) AS BIGINT) AS bin,
        |    CAST(floor(p * 1048576.0) AS BIGINT) AS p_q,
        |    CASE WHEN pos THEN 1 ELSE 0 END AS posn
        |  FROM o
        |), g AS (
        |  SELECT bin, COUNT(*) AS n, CAST(SUM(posn) AS BIGINT) AS n_pos,
        |    CAST(SUM(p_q) AS BIGINT) AS conf_q
        |  FROM b GROUP BY 1
        |)
        |SELECT bin, n, n_pos, conf_q,
        |  CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS acc,
        |  CAST(conf_q AS DOUBLE) / (CAST(n AS DOUBLE) * 1048576.0) AS conf,
        |  abs(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)
        |    - CAST(conf_q AS DOUBLE) / (CAST(n AS DOUBLE) * 1048576.0))
        |    AS gap
        |FROM g ORDER BY bin""".stripMargin,

    "jk1_source_influence" ->
      """WITH per AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(n_chars) AS BIGINT) AS s_chars
        |  FROM documents GROUP BY 1
        |), tot AS (
        |  SELECT COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS s
        |  FROM documents
        |)
        |SELECT source, n_docs, s_chars,
        |  CAST(s - s_chars AS DOUBLE) / CAST(n - n_docs AS DOUBLE)
        |    AS mean_without,
        |  CAST(s - s_chars AS DOUBLE) / CAST(n - n_docs AS DOUBLE)
        |    - CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS influence
        |FROM per, tot ORDER BY source""".stripMargin,

    "kt1_kendall_tau" ->
      """WITH daily AS (
        |  SELECT l_returnflag AS flag, CAST(l_shipdate AS DATE) AS day,
        |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
        |      AS BIGINT) AS x,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS y
        |  FROM lineitem GROUP BY 1, 2
        |), pairs AS (
        |  SELECT a.flag,
        |    COUNT(*) FILTER (WHERE (a.x < b.x AND a.y < b.y)
        |      OR (a.x > b.x AND a.y > b.y)) AS nc,
        |    COUNT(*) FILTER (WHERE (a.x < b.x AND a.y > b.y)
        |      OR (a.x > b.x AND a.y < b.y)) AS nd,
        |    COUNT(*) FILTER (WHERE a.x = b.x) AS n1,
        |    COUNT(*) FILTER (WHERE a.y = b.y) AS n2
        |  FROM daily a JOIN daily b ON a.flag = b.flag AND a.day < b.day
        |  GROUP BY 1
        |), nn AS (SELECT flag, COUNT(*) AS n_days FROM daily GROUP BY 1)
        |SELECT p.flag, n.n_days, p.nc, p.nd, p.n1, p.n2,
        |  CAST(p.nc - p.nd AS DOUBLE) /
        |    sqrt(CAST(n.n_days * (n.n_days - 1) // 2 - p.n1 AS DOUBLE) *
        |         CAST(n.n_days * (n.n_days - 1) // 2 - p.n2 AS DOUBLE))
        |    AS tau_b
        |FROM pairs p JOIN nn n ON p.flag = n.flag
        |ORDER BY p.flag""".stripMargin,

    "chao1_vocab_richness" ->
      """WITH toks AS (
        |  SELECT source, u.term FROM documents,
        |    UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS u(term)
        |  WHERE u.term <> ''
        |), cnt AS (
        |  SELECT source, term, COUNT(*) AS c FROM toks GROUP BY 1, 2
        |)
        |SELECT source, COUNT(*) AS d,
        |  COUNT(*) FILTER (WHERE c = 1) AS f1,
        |  COUNT(*) FILTER (WHERE c = 2) AS f2,
        |  CAST(COUNT(*) AS DOUBLE) +
        |    CAST(COUNT(*) FILTER (WHERE c = 1)
        |      * (COUNT(*) FILTER (WHERE c = 1) - 1) AS DOUBLE)
        |    / (2.0 * CAST(COUNT(*) FILTER (WHERE c = 2) + 1 AS DOUBLE))
        |    AS chao1
        |FROM cnt GROUP BY source ORDER BY source""".stripMargin,

    // prefix-sum offsets replayed as one ordered window over doc lengths
    "heaps1_vocab_growth" ->
      """WITH w0 AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS w
        |  FROM documents
        |), offs AS (
        |  SELECT doc_id,
        |    SUM(len(w)) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      - len(w) AS off
        |  FROM w0
        |), pos AS (
        |  SELECT w0.w[g.i] AS term, o.off + g.i AS gpos
        |  FROM w0 JOIN offs o USING (doc_id),
        |    UNNEST(generate_series(1, len(w0.w))) AS g(i)
        |), fp AS (
        |  SELECT term, CAST(MIN(gpos) AS BIGINT) AS first_pos
        |  FROM pos GROUP BY 1
        |)
        |SELECT CAST(g.cap AS BIGINT) AS cap,
        |  CAST(count_if(first_pos <= g.cap) AS BIGINT) AS n_types
        |FROM fp, (VALUES (1000), (2000), (4000), (8000), (16000), (32000))
        |  AS g(cap)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "zipf1_rank_frequency" ->
      """WITH toks AS (
        |  SELECT u.term FROM documents,
        |    UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS u(term)
        |  WHERE u.term <> ''
        |), cnt AS (SELECT term, COUNT(*) AS c FROM toks GROUP BY 1),
        |top AS (SELECT term, c FROM cnt ORDER BY c DESC, term LIMIT 40)
        |SELECT ROW_NUMBER() OVER (ORDER BY c DESC, term) AS rank, term, c,
        |  CAST(ROW_NUMBER() OVER (ORDER BY c DESC, term) * c AS BIGINT)
        |    AS rank_x_freq
        |FROM top ORDER BY rank""".stripMargin,

    "tv1_distribution_shift" ->
      """WITH toks AS (
        |  SELECT source, u.term FROM documents,
        |    UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS u(term)
        |  WHERE u.term <> ''
        |), sc AS (SELECT source, term, COUNT(*) AS cs FROM toks GROUP BY 1, 2),
        |g AS (SELECT term, COUNT(*) AS c FROM toks GROUP BY 1),
        |ns AS (SELECT source, COUNT(*) AS n_s FROM toks GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS n FROM toks),
        |agg AS (
        |  SELECT sc.source, ns.n_s, tot.n,
        |    CAST(SUM(abs(sc.cs * tot.n - g.c * ns.n_s)) AS BIGINT) AS s1,
        |    CAST(SUM(g.c) AS BIGINT) AS cov
        |  FROM sc JOIN ns ON sc.source = ns.source CROSS JOIN tot
        |    JOIN g ON sc.term = g.term
        |  GROUP BY 1, 2, 3
        |)
        |SELECT source, n_s AS n_tokens,
        |  CAST(s1 + n_s * (n - cov) AS BIGINT) AS tv_num,
        |  CAST(s1 + n_s * (n - cov) AS DOUBLE) /
        |    (2.0 * CAST(n_s AS DOUBLE) * CAST(n AS DOUBLE)) AS tv
        |FROM agg ORDER BY source""".stripMargin,
  )
}
