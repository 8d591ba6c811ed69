package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Standing streaming retention — the streaming lift of
  * [[graft.operators.EventAnalytics.retention]]: per-user cohort flags
  * (anchor + follow-ups) accumulate across micro-batches, and every
  * admission emits the anchor-gated retention row for the touched
  * users over their FULL history so far. Flags are monotone (a
  * condition once observed stays observed), so the state fold is a
  * plain per-flag max — order- and replay-independent by construction.
  *
  * `conds` are (name, boolean Column) pairs; the names are pinned into
  * the state params so a resumed pipeline with a different condition
  * list refuses loudly instead of mixing incompatible flags.
  *
  * Scale shape (the [[StreamingReplacingMerge]] recipe): state rows are
  * `kb = hash(user)`-bucketed, reads prune to the batch's buckets and
  * SEMI-join the broadcast batch users; one state row per user per
  * touching batch, max-folded at read. [[compact]] folds files only.
  */
final class StreamingRetention(protected val spark: SparkSession,
    protected val stateDir: String, userCol: String,
    conds: Seq[(String, Column)], protected val nBuckets: Int = 64)
    extends KeyedFold {

  require(conds.nonEmpty, "at least the anchor condition")
  require(conds.map(_._1).distinct.size == conds.size,
    "condition names must be distinct")

  protected val state = new BatchedState(spark, s"$stateDir/flags", Seq("kb"))
  private val flagCols = conds.indices.map(i => s"f$i")

  protected val stateParams = Map("conds" -> conds.map(_._1).mkString(","),
    "nBuckets" -> nBuckets.toString)

  private val stateSchema = StructType(
    StructField("u", LongType) +:
      flagCols.map(c => StructField(c, IntegerType)) :+
      StructField("kb", IntegerType))

  /** Per-user raw flags of one event batch (no anchor gating — gating
    * happens at emit over the accumulated flags).
    */
  private def batchFlags(batch: DataFrame): DataFrame = {
    val aggs = conds.zipWithIndex.map { case ((_, c), i) =>
      max(when(c, lit(1)).otherwise(lit(0))).as(s"f$i")
    }
    batch.groupBy(col(userCol).cast("long").as("u"))
      .agg(aggs.head, aggs.tail: _*)
  }

  private def foldFlags(df: DataFrame): DataFrame =
    df.groupBy(col("u"))
      .agg(max(col("f0")).as("f0"),
        flagCols.drop(1).map(c => max(col(c)).as(c)): _*)

  /** Seed the standing flags from a (possibly empty) history, REPLACING
    * any previous state under `stateDir`.
    */
  def seed(events: DataFrame): Unit = reseed {
    state.seed(withKb(batchFlags(events), "u"))
  }

  /** Admit micro-batch `batchId`: accumulate flags, emit the
    * anchor-gated retention row (r0, r1, ...) per touched user over
    * full history. Appends one folded flag row per touched user.
    */
  protected def admitBatch(batch: DataFrame, batchId: Long): DataFrame = {
    val (fresh, pruned) =
      prunedRead(batchFlags(batch), Seq("u"), batchId, Some(stateSchema))
    val ref = pruned.select(col("u") +: flagCols.map(col): _*)
    val merged = foldFlags(ref.unionByName(
        fresh.select(col("u") +: flagCols.map(col): _*)))
      .localCheckpoint() // materialize before the state append
    state.append(withKb(merged, "u"), batchId)
    merged.select(col("u").as(userCol) +: conds.indices.map { i =>
      (if (i == 0) col("f0") else col("f0") * col(s"f$i"))
        .cast("int").as(s"r$i")
    }: _*)
  }
}
