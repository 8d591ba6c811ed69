package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join operators Spark lacks as primitives, composed from existing
  * operators so Catalyst keeps optimizing them (the builder-brief
  * preference order: compose first, custom plans only when composition
  * can't express the semantics).
  */
object Joins {

  /** As-of join: for every left row, attach the LATEST right row with
    * `right.ts <= left.ts` within the same key — the standard
    * point-in-time lookup (feature stores, slowly-changing dimensions,
    * last-sensor-reading-before-event). Left rows with no prior right
    * row keep nulls.
    *
    * Implemented as the union-and-carry-forward pattern, NOT a range
    * join: tag both sides, union, `last(_, ignoreNulls)` over a
    * (key, ts)-sorted running window, keep the left rows. One shuffle +
    * one sort on the key — the cost of a single groupBy — where a naive
    * `l.ts >= r.ts` theta-join is a per-key cross product (quadratic in
    * the key's row count, a guaranteed straggler at 100 TB on any hot
    * key).
    *
    * Right rows are first reduced to one per (key, ts) — greatest
    * `ordCol` wins, payload follows it via `max_by` — so tie semantics
    * are deterministic and match engines with native ASOF joins (one
    * candidate per timestamp; a right row at exactly `left.ts` DOES
    * match).
    *
    * `rightCols` (must include `ordCol`, must not collide with left
    * column names) are the right-side payload columns carried into the
    * output.
    *
    * `toleranceSec` (pandas `merge_asof` tolerance / kdb wj semantics):
    * when set, a match farther than `tolerance` from `left.ts` (in the
    * direction searched) yields nulls instead — the matched right
    * timestamp rides the same carry-forward window, so the bound costs
    * one extra window column, never a range join.
    *
    * `direction` (pandas merge_asof directions):
    *   - `"backward"` (default): latest right row with `r.ts <= l.ts`.
    *   - `"forward"`: earliest right row with `r.ts >= l.ts` — the same
    *     union-and-carry pattern with the window REVERSED (ts desc), so
    *     the cost is identical: one shuffle on the key, no range join.
    *   - `"nearest"`: whichever of the two candidates is closer in
    *     absolute time; an exact tie prefers the backward match. Both
    *     candidates ride the SAME union/exchange (two window sorts over
    *     one shuffle), and the tolerance bound applies to each side
    *     before the choice — a candidate beyond tolerance never wins.
    *
    * `allowExactMatches` (pandas `merge_asof` parity): when false, a
    * right row at exactly `left.ts` no longer matches — backward takes
    * the latest `r.ts < l.ts`, forward the earliest `r.ts > l.ts`.
    * Implemented by flipping the left/right tiebreak in the carry sort
    * (left rows sort BEFORE equal-ts right rows, so the running `last`
    * hasn't seen them yet and naturally falls back to the previous
    * strictly-earlier row) — a null-out guard on `__asof_ts = ts` would
    * instead wrongly discard left rows that DO have an earlier match.
    * Same plan either way: one shuffle, no range join.
    */
  def asOf(left: DataFrame, right: DataFrame, keyCols: Seq[String],
      tsCol: String, rightCols: Seq[String], ordCol: String,
      toleranceSec: Option[Double] = None,
      direction: String = "backward",
      allowExactMatches: Boolean = true): DataFrame = {
    require(Set("backward", "forward", "nearest")(direction),
      s"direction must be backward|forward|nearest, got $direction")
    require(rightCols.contains(ordCol), "rightCols must include ordCol")
    val leftCols = left.columns.toSeq
    require(rightCols.forall(!leftCols.contains(_)),
      "rightCols must not collide with left column names")

    val payload = rightCols.filterNot(_ == ordCol)
    val aggs = max(col(ordCol)).as(ordCol) +:
      payload.map(c => max_by(col(c), col(ordCol)).as(c))
    val rightDedup = right.groupBy((keyCols :+ tsCol).map(col): _*)
      .agg(aggs.head, aggs.tail: _*)

    // the matched right row carries as ONE struct (never null for right
    // rows, even when every payload value is null), so the carry-forward
    // picks whole rows atomically — per-column last(ignoreNulls) would
    // stitch values from DIFFERENT right rows whenever the newest match
    // has a null payload column, which both engines' native ASOF
    // semantics (and pandas merge_asof) forbid
    val rowStruct = struct(
      (rightCols.map(col) :+ col(tsCol).as("__asof_ts")): _*)
    val structType = rightDedup.select(rowStruct.as("s")).schema("s").dataType

    val lTagged = left.select(
      leftCols.map(col) :+
        lit(null).cast(structType).as("__r") :+
        lit(1).as("__side"): _*)
    val rTagged = rightDedup.select(
      leftCols.map(c =>
        if (keyCols.contains(c) || c == tsCol) col(c)
        else lit(null).cast(left.schema(c).dataType).as(c)) :+
        rowStruct.as("__r") :+
        lit(0).as("__side"): _*)

    // right rows sort BEFORE left rows at the same ts in BOTH directions
    // (`<=`/`>=` inclusive semantics): ascending for the backward carry,
    // descending for the forward carry — same partitioning, so nearest's
    // two windows share one exchange (two sorts, no second shuffle).
    // Strict mode (allowExactMatches=false) flips the tiebreak so
    // equal-ts right rows sort AFTER the left row and are invisible to
    // its running last()
    def carried(forward: Boolean) = {
      val order = if (forward) col(tsCol).desc else col(tsCol).asc
      val side = if (allowExactMatches) col("__side").asc else col("__side").desc
      val w = Window.partitionBy(keyCols.map(col): _*)
        .orderBy(order, side)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val m = last(col("__r"), ignoreNulls = true).over(w)
      toleranceSec match {
        case None => m
        case Some(tol) =>
          // native timestamp subtraction (day-time interval, exact
          // micros) like the nearest branch below — a double cast is
          // both lossy and illegal for TIMESTAMP_NTZ in Spark 4
          val delta =
            if (forward) m.getField("__asof_ts") - col(tsCol)
            else col(tsCol) - m.getField("__asof_ts")
          val bound = make_dt_interval(lit(0), lit(0), lit(0), lit(tol))
          when(delta <= bound, m)
      }
    }
    val kept = direction match {
      case "backward" => carried(forward = false)
      case "forward"  => carried(forward = true)
      case "nearest" =>
        val b = carried(forward = false)
        val f = carried(forward = true)
        // distances compared in the ts type's NATIVE subtraction
        // (timestamps yield day-time intervals — exact micros, no
        // double rounding that could flip an equidistant tie)
        val dBack = col(tsCol) - b.getField("__asof_ts")
        val dFwd = f.getField("__asof_ts") - col(tsCol)
        // an exact tie prefers the backward match (documented tie rule)
        when(b.isNull, f).when(f.isNull, b)
          .when(dFwd < dBack, f).otherwise(b)
    }

    lTagged.unionByName(rTagged)
      .select(leftCols.map(col) ++
        rightCols.map(c => kept.getField(c).as(c)) :+
        col("__side"): _*)
      .filter(col("__side") === 1)
      .drop("__side")
  }

  /** Temporal (SCD-2) dimension join: attach to every left row the right
    * VERSION whose validity interval `[validFrom, validTo)` contains
    * `left.ts` — the slowly-changing-dimension lookup of feature-store /
    * warehouse pipelines. Rows covered by no version keep nulls (left
    * semantics), including rows before the first version and after a
    * CLOSED last version. A null `validTo` means the version is still
    * open (the usual SCD-2 "current row" encoding).
    *
    * Contract: versions of one key must not overlap (the SCD-2
    * invariant). That assumption is what buys the plan: the join is
    * [[asOf]] on `validFrom` — ONE key shuffle + carry-forward window —
    * followed by a scan-local expiry null-out (`ts < validTo`), where a
    * generic interval join would be a range cross product (see [[range]]
    * for the overlapping-interval case). `rightCols` must include
    * `validToCol` and follow the [[asOf]] no-collision contract.
    */
  def temporal(left: DataFrame, right: DataFrame, keyCols: Seq[String],
      tsCol: String, validFromCol: String, validToCol: String,
      rightCols: Seq[String], ordCol: String): DataFrame = {
    require(rightCols.contains(validToCol),
      "rightCols must include validToCol (the expiry null-out reads it)")
    val matched = asOf(left, right.withColumn(tsCol, col(validFromCol)),
      keyCols, tsCol, rightCols, ordCol)
    // expiry: a matched version whose validTo has passed yields nulls —
    // evaluated BEFORE any column is nulled so validTo itself can be in
    // rightCols without ordering hazards
    val live = col(validToCol).isNull || (col(tsCol) < col(validToCol))
    matched.select(left.columns.toIndexedSeq.map(col) ++
      rightCols.map(c => when(live, col(c)).as(c)): _*)
  }

  /** Banded range join: inner-join every left row to the right rows whose
    * numeric interval `[lo, hi)` contains `left.point`, optionally also
    * matching `keyCols` — IP-to-geo lookups, value-band pricing, sensor
    * calibration windows. Intervals MAY overlap (each match emits a row),
    * which is exactly the case [[temporal]]'s one-version contract
    * excludes.
    *
    * Scale shape: both sides band into width-`bucketWidth` buckets — the
    * left point into its ONE bucket (scan-local projection), each right
    * interval exploded over the `(hi - lo) / bucketWidth + 1` buckets it
    * touches — then a plain EQUI-join on (bucket, keys) + the exact
    * containment filter. A point lives in exactly one bucket, so every
    * true pair is emitted exactly once (no dedup pass), and a theta
    * `point BETWEEN lo AND hi` join — which Spark can only plan as a
    * per-key cross product — never appears. `bucketWidth` is the knob:
    * size it near the TYPICAL interval length so the explode factor
    * stays ~2 while bucket population stays balanced; a width far below
    * the longest interval multiplies the right side's row count (AQE
    * skew-split absorbs moderate imbalance, not a 1000x explode).
    *
    * Right columns other than `keyCols` must not collide with left
    * column names. Degenerate intervals (`hi <= lo`) match nothing.
    */
  def range(left: DataFrame, right: DataFrame, pointCol: String,
      loCol: String, hiCol: String, bucketWidth: Double,
      keyCols: Seq[String] = Nil): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    val clash = right.columns.toSet.intersect(left.columns.toSet) -- keyCols
    require(clash.isEmpty,
      s"right columns collide with left: ${clash.toSeq.sorted.mkString(",")}")
    val l2 = left.withColumn("__rb",
      floor(col(pointCol) / bucketWidth).cast("long"))
    val r2 = right.filter(col(loCol) < col(hiCol))
      .withColumn("__rb", explode(sequence(
        floor(col(loCol) / bucketWidth).cast("long"),
        floor(col(hiCol) / bucketWidth).cast("long"))))
    l2.join(r2, Seq("__rb") ++ keyCols)
      .filter(col(pointCol) >= col(loCol) && col(pointCol) < col(hiCol))
      .drop("__rb")
  }
}
