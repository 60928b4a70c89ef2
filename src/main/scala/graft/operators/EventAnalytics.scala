package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Behavioral analytics over the event stream: ordered funnels, cohort
  * retention, and cumulative-distinct user counts. These are the classic
  * product-analytics operators a warehouse engine is expected to run over
  * the raw events table (the reference's gold layer stops at daily
  * aggregates — reference: src/transformations/silver_to_gold.py:29-65).
  *
  * Scale posture: everything reduces per `user_id` first (one shuffle on
  * the user key, map-side partial aggregation), and only per-user scalars
  * (first-touch timestamps, first-seen days) flow into the later stages,
  * which are tiny. No self-joins over raw events; no collect.
  */
object EventAnalytics {

  /** Ordered three-step funnel as one relational plan (no driver-side
    * actions): a row per step with the count of users whose earliest
    * step-i event happens strictly after their earliest qualifying
    * step-(i-1) event. Each stage is a per-user min-aggregate; only
    * per-user scalars flow between stages.
    */
  def funnel3(events: DataFrame, s1: String, s2: String, s3: String): DataFrame =
    funnel(events, s1, s2, s3, None)

  /** Cohort retention: users are assigned to the cohort of their first
    * active day; for each (cohort_day, day_offset) the number of cohort
    * members active `day_offset` days after joining.
    */
  def retention(events: DataFrame): DataFrame = {
    val day = to_date(col("ts_sec"))
    val active = events.select(col("user_id"), day.as("day")).distinct()
    val cohort = active.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
    active
      .join(cohort, Seq("user_id"))
      .groupBy(col("cohort_day"), datediff(col("day"), col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_active"))
  }

  /** Daily new-user counts with a running cumulative total (cumulative
    * distinct users over time, computed exactly via first-seen days — no
    * per-day distinct-count rescan).
    */
  def cumulativeUsers(events: DataFrame): DataFrame = {
    val firstDay = events
      .groupBy("user_id")
      .agg(min(to_date(col("ts_sec"))).as("day"))
    val w = Window.orderBy("day")
    firstDay
      .groupBy("day")
      .agg(count(lit(1)).as("new_users"))
      .select(col("day"), col("new_users"),
        sum(col("new_users")).over(w).as("cum_users"))
  }

  /** Time-bounded funnel: like [[funnel3]], but each step must follow the
    * previous within `windowSecs` — the product-analytics standard
    * ("converted within N hours"), and the semantics unbounded funnels
    * silently overstate. Same scale shape: per-user min-aggregates, only
    * per-user scalars flow between stages.
    */
  def windowedFunnel3(events: DataFrame, s1: String, s2: String, s3: String,
                      windowSecs: Long): DataFrame =
    funnel(events, s1, s2, s3, Some(windowSecs))

  /** The one body behind [[funnel3]] and [[windowedFunnel3]]: a step
    * counts when it follows the previous step's time, and when
    * `windowSecs` is set, by at most that many seconds.
    */
  private def funnel(events: DataFrame, s1: String, s2: String, s3: String,
                     windowSecs: Option[Long]): DataFrame = {
    val ev = events.select(col("user_id"), col("event_type"), col("ts_sec"))
    def follows(prev: String) = windowSecs.foldLeft(col("ts_sec") > col(prev))(
      (c, w) => c && col("ts_sec") <= col(prev) + expr(s"INTERVAL $w SECOND"))
    val t1 = ev.where(col("event_type") === s1)
      .groupBy("user_id").agg(min(col("ts_sec")).as("t1"))
    def next(prev: DataFrame, p: String, s: String, t: String) =
      prev.join(ev.where(col("event_type") === s), Seq("user_id"))
        .where(follows(p))
        .groupBy("user_id").agg(min(col("ts_sec")).as(t))
    val t2 = next(t1, "t1", s2, "t2")
    val t3 = next(t2, "t2", s3, "t3")
    Seq((t1, s1), (t2, s2), (t3, s3)).zipWithIndex
      .map { case ((t, s), i) =>
        t.agg(count(lit(1)).as("n_users"))
          .select(lit(i + 1).as("step"), lit(s).as("event_type"), col("n_users"))
      }
      .reduce(_ unionByName _)
  }

  /** Market-basket co-occurrence with lift: baskets are (user_id, day),
    * items are the event types seen in the basket. For every unordered
    * type pair ta < tb: the pair's basket support and
    * lift = P(ta,tb) / (P(ta)·P(tb)) = n_ab·n_baskets / (n_a·n_b).
    *
    * Scale posture: the item-pair expansion self-joins the DEDUPLICATED
    * (basket, item) relation on the basket key — per-basket fanout is
    * bounded by the (small, capped-in-practice) per-basket distinct-item
    * count, never |events|²; the per-item totals and the basket count are
    * tiny aggregates that broadcast onto the pair counts. Counts are
    * exact BIGINTs; lift is one double expression over them
    * (bit-identical cross-engine).
    */
  def cooccurrenceLift(events: DataFrame): DataFrame = {
    val basket = events
      .select(col("user_id"), to_date(col("ts_sec")).as("day"), col("event_type"))
      .distinct()
      .localCheckpoint(eager = true)
    val nBaskets = basket.select("user_id", "day").distinct()
      .agg(count(lit(1)).as("n_baskets"))
    val typeCounts = basket.groupBy("event_type").agg(count(lit(1)).as("n_t"))
    val pairs = basket.as("x")
      .join(basket.as("y"),
        col("x.user_id") === col("y.user_id") && col("x.day") === col("y.day") &&
          col("x.event_type") < col("y.event_type"))
      .groupBy(col("x.event_type").as("ta"), col("y.event_type").as("tb"))
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(broadcast(typeCounts.select(col("event_type").as("ta"), col("n_t").as("n_a"))), Seq("ta"))
      .join(broadcast(typeCounts.select(col("event_type").as("tb"), col("n_t").as("n_b"))), Seq("tb"))
      .crossJoin(broadcast(nBaskets))
      .select(col("ta"), col("tb"), col("n_ab"), col("n_a"), col("n_b"),
        ((col("n_ab").cast("double") * col("n_baskets").cast("double")) /
          (col("n_a").cast("double") * col("n_b").cast("double"))).as("lift"))
  }

  /** First-order Markov transition matrix over each user's event
    * sequence: for every observed (src → dst) consecutive-event pair, the
    * exact transition count and the row-normalized probability. Ordering
    * is (raw event timestamp, event_id) — a total order, so the sequence
    * is engine- and partitioning-independent.
    *
    * Scale posture: one window pass partitioned by user (each partition
    * is one user's history), one exact-count aggregate, and the row
    * normalization is a window sum over the TINY transition matrix
    * (|types|² rows), not the events. Probability is one double division
    * of exact BIGINTs.
    */
  def transitionMatrix(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val trans = events
      .select(col("user_id"), col("event_type"),
        lead(col("event_type"), 1).over(w).as("next_type"))
      .where(col("next_type").isNotNull)
      .groupBy(col("event_type").as("src"), col("next_type").as("dst"))
      .agg(count(lit(1)).as("n"))
    val rowTotal = Window.partitionBy("src")
    trans.select(col("src"), col("dst"), col("n"),
      (col("n").cast("double") / sum(col("n")).over(rowTotal).cast("double")).as("p"))
  }
}
