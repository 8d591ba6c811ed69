package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.MergeSemantics

/** Standing CDC materialization — the streaming lift of
  * [[graft.operators.MergeSemantics.replacingMerge]]: a persisted
  * keyed current-state view that every arriving micro-batch of updates
  * upserts into, emitting the post-upsert current row (+ previous
  * version) per touched key — the ReplacingMergeTree FINAL answer as a
  * continuously-maintained view. Out-of-order updates (version at or
  * below the standing one) are ignored by the fold and report
  * `changed = false`.
  *
  * Scale shape (the [[StreamingDecontamination]] recipe on the key
  * axis): state rows are directory-partitioned by `kb = hash(key)` and
  * every admission PRUNES the state read to the batch's (<= nBuckets)
  * bucket set, then SEMI-joins state against the broadcast batch keys —
  * the state scan is bounded by the batch's footprint, state never
  * shuffles corpus-wide. Appends store the batch's FOLDED rows (one row
  * per key per touching batch), so state grows with update history, not
  * raw update volume; [[compact]] folds FILES (never rows — an old
  * version may still be any untouched key's current, so age eviction is
  * deliberately not exposed on this tier). Idempotent overwrite appends
  * and replay-deterministic `read(before)` are [[BatchedState]]'s.
  */
final class StreamingReplacingMerge(protected val spark: SparkSession,
    protected val stateDir: String, keyCol: String, verCol: String,
    payloadCols: Seq[String], protected val nBuckets: Int = 64)
    extends KeyedFold {

  private val cols = Seq(keyCol, verCol) ++ payloadCols
  protected val state = new BatchedState(spark, s"$stateDir/rows", Seq("kb"))

  protected val stateParams = Map("keyCol" -> keyCol, "verCol" -> verCol,
    "payload" -> payloadCols.mkString(","), "nBuckets" -> nBuckets.toString)

  private def folded(df: DataFrame): DataFrame =
    MergeSemantics.replacingMerge(df.select(cols.map(col): _*),
      Seq(keyCol), verCol)

  /** Seed the standing view from an initial snapshot (folded to one row
    * per key), REPLACING any previous state under `stateDir`.
    */
  def seed(snapshot: DataFrame): Unit = reseed {
    state.seed(withKb(folded(snapshot), keyCol))
  }

  /** Upsert micro-batch `batchId` and return one row per touched key:
    * the post-upsert current row (`verCol`, payload) plus `prev_ver`
    * (null for first-seen keys) and `changed` (false when the batch's
    * update was stale or re-asserted the current version). Appends the
    * batch's folded rows; replay overwrites them idempotently and
    * `read(before)` keeps the view the clean run saw.
    */
  protected def admitBatch(batch: DataFrame, batchId: Long): DataFrame = {
    val (fresh, ref) = prunedRead(folded(batch), Seq(keyCol), batchId)
    val prev = folded(ref)
    val cur = folded(prev.unionByName(fresh.select(cols.map(col): _*)))
    // materialize BEFORE the state append: the plan references state
    // files a later compact may fold away
    val out = cur
      .join(prev.select(col(keyCol), col(verCol).as("prev_ver")),
        Seq(keyCol), "left")
      .withColumn("changed",
        col("prev_ver").isNull || col(verCol) =!= col("prev_ver"))
      .localCheckpoint()
    state.append(fresh, batchId)
    out
  }
}
