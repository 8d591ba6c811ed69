package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series resampling and gap handling — the ClickHouse
  * `WITH FILL` / `runningDifference` / moving-aggregate workload over
  * event streams, expressed as one window pass per series.
  *
  * Determinism positions: bucket aggregation uses order-independent
  * aggregates (max/count/decimal sums), the LOCF carry is a running
  * `last(ignoreNulls)` whose frame order is the bucket sort, and moving
  * averages derive from EXACT decimal moving sums divided at the end —
  * float accumulation order never decides a value, so an independent
  * engine reproduces every row (DuckDB's segment-tree window sums would
  * otherwise differ in the last ulps).
  */
object TimeSeries {

  /** Resample to fixed `stepSec` buckets and FILL the empty buckets
    * between each series' first and last point: per (key, bucket) the
    * row carries `v` = max of `valueCol` (cast to the exact decimal the
    * caller chose), `n` = point count, and `filled` = true for
    * generated gap rows. The grid is epoch-aligned
    * (`bucket = floor(epochMicros / step)`), so bucket ids are
    * reproducible across runs and engines.
    *
    * Shape: one aggregate on (key, bucket), then each observed bucket
    * generates itself + its gap rows up to the per-key successor from
    * ONE lead window over the bucket-sized table — JOINLESS, and the
    * fan-out happens scan-local after the last exchange, on the keys
    * partitioning every downstream window (LOCF / delta / moving)
    * reuses. Grid size per key is bounded by the series' time span
    * over `stepSec`; pick the step so span/step stays sane (the same
    * knob any WITH FILL query has). Keyless resample degenerates to a
    * single-partition window, as any global WITH FILL must.
    */
  def resample(df: DataFrame, keyCols: Seq[String], tsCol: String,
      stepSec: Long, valueCol: Column): DataFrame = {
    require(stepSec > 0, "stepSec must be positive")
    val stepMicros = stepSec * 1000000L
    // integer division (div), never a double quotient cast: a rounded-up
    // double would shift a point at a bucket boundary into the wrong
    // bucket and desync from the oracle's epoch arithmetic
    val bucket = expr(
      s"unix_micros(CAST(`$tsCol` AS TIMESTAMP)) div ${stepMicros}L")
      .cast("long")
    val keyed = df.select(keyCols.map(col) :+
      bucket.as("b") :+ valueCol.as("__v"): _*)
    val buckets = keyed.groupBy((keyCols :+ "b").map(col): _*)
      .agg(max(col("__v")).as("v0"), count(lit(1)).as("n"))
    // gap generation is JOINLESS (measured at 10M events -> 105M output
    // buckets): each observed bucket emits itself plus the empty grid
    // rows up to its per-key successor (one lead window over the
    // BUCKET-sized table), so the fan-out happens scan-local AFTER the
    // last exchange — the earlier grid-explode + (keys, b) equi-join
    // shape shuffled the full 105M-row output for the join and then
    // AGAIN for the first downstream window (2.09 GB read, 1.28 GB of
    // window-sort spill where AQE had funneled the post-explosion rows
    // into a handful of partitions; Spark's all-cluster-keys
    // co-partition rule makes the keys-only join alignment
    // unreachable). Only bucket-sized rows ever cross the wire, and
    // the explicit keys repartition at the session's configured width
    // (a) pre-spreads the explosion so no partition sorts more than
    // its share, and (b) IS the partitioning every downstream window
    // (LOCF / delta / moving) needs — the filled frame flows into them
    // with zero further exchanges. The output row set is unchanged:
    // consecutive [b_i, b_{i+1}) intervals tile exactly min..max.
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    val spread =
      if (keyCols.isEmpty) buckets
      else buckets.repartition(parts, keyCols.map(col): _*)
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col("b"))
    val filled = spread
      .withColumn("__nb", lead(col("b"), 1).over(w))
      .select(keyCols.map(col) ++ Seq(
        col("b").as("__ob"), col("v0").as("__v0"), col("n").as("__n"),
        explode(sequence(col("b"),
          coalesce(col("__nb") - 1, col("b")))).as("b")): _*)
      .select(keyCols.map(col) ++ Seq(
        col("b"),
        when(col("b") === col("__ob"), col("__v0")).as("v0"),
        when(col("b") === col("__ob"), col("__n")).otherwise(lit(0L)).as("n"),
        when(col("b") === col("__ob"), col("__v0")).isNull.as("filled")): _*)
    // keyless resample necessarily generates through ONE partition (a
    // global WITH FILL has a global order); redistribute the OUTPUT so
    // downstream work doesn't inherit the single-partition cliff — the
    // old join shape paid this same output shuffle on its (b) key
    if (keyCols.isEmpty) filled.repartition(parts) else filled
  }

  /** Last-observation-carried-forward over the bucket order: nulls in
    * `valueCol` take the latest preceding non-null within the key.
    * Rows before a series' first observation stay null. One window
    * (key partition, bucket order) — shares its exchange with any other
    * same-partitioning window in the plan.
    */
  def locf(df: DataFrame, keyCols: Seq[String], bucketCol: String,
      valueCol: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(bucketCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn(valueCol, last(col(valueCol), ignoreNulls = true).over(w))
  }

  /** Linear interpolation across filled gaps — the CH
    * `WITH FILL … INTERPOLATE` counterpart to [[locf]]'s step carry:
    * a gap bucket takes
    * `prev + (next - prev) * (b - prevB) / (nextB - prevB)` from its
    * surrounding observations. [[resample]] only generates buckets
    * BETWEEN a series' first and last observation, so every gap row has
    * both neighbors; observed rows pass through exactly. All arithmetic
    * is the same IEEE expression the oracle evaluates — one division,
    * no accumulation, so results are bit-reproducible cross-engine.
    * Two windows (backward carry, forward reach) + any caller windows
    * share ONE key partitioning. The result lands in column `interp`.
    */
  def interpolate(df: DataFrame, keyCols: Seq[String], bucketCol: String,
      valueCol: String): DataFrame = {
    val wb = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(bucketCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(bucketCol))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val pv = last(col(valueCol), ignoreNulls = true).over(wb).cast("double")
    val pb = last(when(col(valueCol).isNotNull, col(bucketCol)),
      ignoreNulls = true).over(wb)
    val nv = first(col(valueCol), ignoreNulls = true).over(wf).cast("double")
    val nb = first(when(col(valueCol).isNotNull, col(bucketCol)),
      ignoreNulls = true).over(wf)
    df.withColumn("interp",
      when(col(valueCol).isNotNull, col(valueCol).cast("double"))
        .otherwise(pv + (nv - pv) *
          ((col(bucketCol) - pb).cast("double") /
            (nb - pb).cast("double"))))
  }

  /** runningDifference: value minus the previous bucket's value within
    * the key (null at each series head). Exact when the value column is
    * decimal/integer. The result lands in column `delta`.
    */
  def runningDelta(df: DataFrame, keyCols: Seq[String], bucketCol: String,
      valueCol: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(bucketCol))
    df.withColumn("delta", col(valueCol) - lag(col(valueCol), 1).over(w))
  }

  /** Trailing moving average over the last `nBuckets` buckets: the
    * moving SUM is exact (decimal/integer input), the division happens
    * once at the end — so the result is bit-reproducible where a
    * float-accumulated window average is not. The result lands in column
    * `mov_avg`.
    */
  def movingAvg(df: DataFrame, keyCols: Seq[String], bucketCol: String,
      valueCol: String, nBuckets: Int): DataFrame = {
    require(nBuckets >= 1, "nBuckets must be at least 1")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(bucketCol))
      .rowsBetween(-(nBuckets - 1), Window.currentRow)
    val cnt = count(col(valueCol)).over(w)
    df.withColumn("mov_avg",
      when(cnt > 0, // an all-null frame (series head before LOCF has
        // anything to carry) must yield null, not 0/0 = NaN
        round(sum(col(valueCol)).over(w).cast("double") /
          cnt.cast("double"), 6)))
  }
}
