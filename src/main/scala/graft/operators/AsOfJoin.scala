package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (nearest-preceding) join — the time-series operator Spark's
  * relational algebra lacks natively. For each left row, attach the right
  * row with the greatest timestamp <= the left timestamp within the same
  * key (DuckDB/kdb `ASOF JOIN` semantics; our oracle checks against
  * DuckDB's native implementation).
  *
  * Built by composition (preference order (a) of the build brief): union
  * the two sides with their payloads boxed in nullable structs, sort
  * within key by (ts, side), and carry the last right payload forward
  * with `last(_, ignoreNulls)` — one shuffle by key, then linear
  * per-partition work: the cost shape of a sort-merge join, with no
  * range-condition row explosion. Right rows at exactly the left
  * timestamp match (inclusive), mirroring `ON l.ts >= r.ts`.
  */
object AsOfJoin {

  /** @param left    left rows (all columns preserved in the output)
    * @param right   right rows; its non-key/ts columns come back
    *                prefixed with `rightPrefix`
    * @param keyCols equi-join keys (same names on both sides)
    * @param leftTs  left ordering column (numeric or timestamp)
    * @param rightTs right ordering column (same type as leftTs)
    * @param inner   true drops left rows with no preceding right row
    */
  def asof(
      left: DataFrame,
      right: DataFrame,
      keyCols: Seq[String],
      leftTs: String,
      rightTs: String,
      rightPrefix: String = "asof_",
      inner: Boolean = true,
  ): DataFrame =
    asofImpl(left, right, keyCols, leftTs, rightTs, rightPrefix, inner,
      forward = false)

  /** Per-user event matching: each `leftType` event of `events`
    * (user_id, ts, event_id) with the same user's nearest preceding
    * `rightType` event by [[asof]], whose columns come back prefixed
    * `<rightType>_`.
    */
  def priorEventOfType(events: DataFrame, leftType: String, rightType: String): DataFrame = {
    def ofType(t: String) =
      events.where(col("event_type") === t).select("user_id", "ts", "event_id")
    asof(ofType(leftType), ofType(rightType), Seq("user_id"), "ts", "ts",
      rightPrefix = s"${rightType}_")
  }

  /** Forward as-of: for each left row, the right row with the SMALLEST
    * timestamp >= the left timestamp within the same key (`ON l.ts <=
    * r.ts` — "next quote after the trade"). Identical cost shape to the
    * backward [[asof]]: the union sort flips side order at equal ts
    * (left first, so a same-ts right row is inside the FOLLOWING frame —
    * inclusive) and `first(_, ignoreNulls)` scans forward instead of
    * `last(_, ignoreNulls)` backward.
    */
  def asofForward(
      left: DataFrame,
      right: DataFrame,
      keyCols: Seq[String],
      leftTs: String,
      rightTs: String,
      rightPrefix: String = "asof_",
      inner: Boolean = true,
  ): DataFrame =
    asofImpl(left, right, keyCols, leftTs, rightTs, rightPrefix, inner,
      forward = true)

  private def asofImpl(
      left: DataFrame,
      right: DataFrame,
      keyCols: Seq[String],
      leftTs: String,
      rightTs: String,
      rightPrefix: String,
      inner: Boolean,
      forward: Boolean,
  ): DataFrame = {
    val rightPayloadCols =
      right.columns.filterNot(c => keyCols.contains(c) || c == rightTs).toSeq
    val leftPayloadCols = left.columns.filterNot(keyCols.contains).toSeq
    val outRightCols = (rightTs +: rightPayloadCols).map(c => s"$rightPrefix$c")
    require(
      !outRightCols.exists(left.columns.contains),
      s"prefixed right columns collide with left columns: " +
        outRightCols.filter(left.columns.contains).mkString(", "))

    val rStruct = struct((rightTs +: rightPayloadCols).map(col): _*)
    val lStruct = struct(leftPayloadCols.map(col): _*)
    val rType = right.select(rStruct.as("s")).schema("s").dataType
    val lType = left.select(lStruct.as("s")).schema("s").dataType

    // A right row with a NULL timestamp has no defined position on the
    // time axis -> it can never be "the nearest preceding" row. (Without
    // this filter, Spark's nulls-first ordering would treat it as
    // preceding everything.)
    // Side ordering at equal ts decides inclusivity: backward wants the
    // right row BEFORE the left (right side 0), forward wants it AFTER
    // (right side 1) — in both cases a same-ts right row lands inside
    // the carry frame.
    val (rightSide, leftSide) = if (forward) (1, 0) else (0, 1)
    val taggedRight = right
      .where(col(rightTs).isNotNull)
      .select(
        keyCols.map(col) ++ Seq(
          col(rightTs).as("__ts"),
          lit(rightSide).as("__side"),
          rStruct.as("__rdata"),
          lit(null).cast(lType).as("__ldata"),
        ): _*)
    val taggedLeft = left.select(
      keyCols.map(col) ++ Seq(
        col(leftTs).as("__ts"),
        lit(leftSide).as("__side"),
        lit(null).cast(rType).as("__rdata"),
        lStruct.as("__ldata"),
      ): _*)

    // Both directions run the SAME growing frame (unbounded preceding →
    // current row) with `last(_, ignoreNulls)` — O(n) incremental per
    // partition. Backward iterates time ASCENDING; forward simply
    // iterates DESCENDING, so "the last right row seen so far" is the
    // nearest following one. At equal ts the right row must be visited
    // before the left in iteration order for the inclusive match —
    // side values + sort direction arrange that in both modes. (A
    // shrinking (current → unbounded following) frame with first() would
    // be the naive forward formulation; Spark re-scans the remainder of
    // the partition per row for such frames — O(n²).)
    //
    // `__rdata` is the final tiebreak: when several right rows share the
    // same (key, ts), the struct ordering makes the carry pick the same
    // payload on every run/partitioning (backward: the max struct;
    // forward: the min — each direction is internally deterministic).
    // Only added when the payload type is orderable — a map-typed
    // payload cannot be sorted, and requiring orderability would regress
    // those callers; they keep the (documented) nondeterminism on exact
    // (key, ts) duplicates.
    val rdataOrderable =
      org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(rType)
    val orderCols0 =
      if (rdataOrderable) Seq(col("__ts"), col("__side"), col("__rdata"))
      else Seq(col("__ts"), col("__side"))
    val orderCols = if (forward) orderCols0.map(_.desc) else orderCols0
    val w = Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // A left row with a NULL timestamp has no position on the time axis
    // either — guard it to "no match" explicitly (sort-order nulls
    // placement must not decide semantics in either direction).
    val matched = taggedRight
      .unionByName(taggedLeft)
      .withColumn("__match",
        when(col("__ts").isNotNull,
          last(col("__rdata"), ignoreNulls = true).over(w)))
      .where(col("__side") === lit(leftSide))

    val out = matched.select(
      keyCols.map(col)
        ++ Seq(col("__ts").as(leftTs))
        ++ leftPayloadCols.filterNot(_ == leftTs)
          .map(c => col("__ldata").getField(c).as(c))
        ++ Seq(col("__match").getField(rightTs).as(s"$rightPrefix$rightTs"))
        ++ rightPayloadCols.map(c => col("__match").getField(c).as(s"$rightPrefix$c")): _*)
    if (inner) out.where(col(s"$rightPrefix$rightTs").isNotNull) else out
  }

  /** Nearest-either-direction as-of: for each left row, the right row
    * with the smallest |Δts| within the key, ties to the BACKWARD match
    * ("most recent wins" attribution). Composed from the two
    * one-directional union-sort as-ofs in OUTER mode (all left rows
    * survive both) joined 1:1 on the unique `leftId`, then a gap
    * compare — no candidate join, no explosion. Left rows with no right
    * row on either side (key absent from `right`) drop, matching the
    * one-directional inner semantics.
    *
    * Tie-break at duplicate (key, ts) RIGHT rows is explicit and
    * deterministic, inherited from asofImpl's struct-carry: the backward
    * leg carries the MAX right payload struct (→ the greatest `rightId`
    * when ids are the first payload difference), the forward leg the
    * MIN. Oracles comparing against this operator must order ties the
    * same way (backward: id DESC; forward: id ASC).
    *
    * Output: keyCols, leftId, `nearest_id` (the chosen right's
    * `rightId`), `gap` in ts units. Timestamps must be numeric (the
    * engine's long-nanos convention).
    */
  def asofNearest(
      left: DataFrame,
      right: DataFrame,
      keyCols: Seq[String],
      leftTs: String,
      rightTs: String,
      leftId: String,
      rightId: String,
  ): DataFrame = {
    val b = asof(left, right, keyCols, leftTs, rightTs, "nb_", inner = false)
      .select((keyCols.map(col) :+ col(leftId) :+ col(leftTs) :+
        col(s"nb_$rightTs").as("__b_ts") :+ col(s"nb_$rightId").as("__b_id")): _*)
    val f = asofForward(left, right, keyCols, leftTs, rightTs, "nf_", inner = false)
      .select(col(leftId).as("__lid"),
        col(s"nf_$rightTs").as("__f_ts"), col(s"nf_$rightId").as("__f_id"))
    val gb = col(leftTs) - col("__b_ts")
    val gf = col("__f_ts") - col(leftTs)
    val useB = col("__f_ts").isNull || (col("__b_ts").isNotNull && gb <= gf)
    b.join(f, col(leftId) === col("__lid"))
      .where(col("__b_ts").isNotNull || col("__f_ts").isNotNull)
      .withColumn("gap", when(useB, gb).otherwise(gf))
      .select((keyCols.map(col) :+ col(leftId) :+
        when(useB, col("__b_id")).otherwise(col("__f_id")).as("nearest_id") :+
        col("gap")): _*)
  }
}
