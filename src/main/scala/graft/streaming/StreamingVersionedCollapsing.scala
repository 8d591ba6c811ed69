package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Standing VersionedCollapsing view — the streaming lift of
  * [[graft.operators.MergeSemantics.versionedCollapsingMerge]], and the
  * missing quarter of the streaming MergeTree family (Replacing and
  * Summing ship as [[StreamingReplacingMerge]] /
  * [[StreamingSummingMerge]]): micro-batches of signed (+1 state / -1
  * cancel) rows fold into a persisted per-(key, VERSION) net, and every
  * batch emits, for each touched (key, version), the full-history net,
  * whether the version still survives (`net != 0`), and the surviving
  * side's payload. Cancels pair strictly on (key, version) — an
  * out-of-order cancel for an old version never consumes newer state,
  * which is exactly why this engine (not plain Collapsing) is the one
  * CH recommends under unordered ingestion.
  *
  * State discipline (the [[StreamingSummingMerge]] recipe on a
  * composite key): each appended row carries the (key, version)'s FULL
  * net as of its batch — addition is not idempotent, so reads take only
  * the NEWEST row per (key, version) (a replacing merge on the batch
  * id), and crash replays overwrite their batch dir idempotently. Rows
  * with net 0 stay in state as tombstones: a late second cancel or
  * re-assertion must fold against the true net, not a resurrected
  * absence. Reads prune to the batch's `kb = hash(key)` buckets and
  * semi-join the broadcast batch (key, version) pairs; [[compact]]
  * folds FILES only (a quiet version's net row is still load-bearing).
  *
  * Versions must be numeric (cast to long) — the same contract the
  * batch operator's fold key has.
  */
final class StreamingVersionedCollapsing(protected val spark: SparkSession,
    protected val stateDir: String, keyCol: String, signCol: String,
    verCol: String, payloadCols: Seq[String],
    protected val nBuckets: Int = 64) extends KeyedFold {

  require(payloadCols.distinct.size == payloadCols.size,
    "payload columns must be distinct")

  protected val state = new BatchedState(spark, s"$stateDir/nets", Seq("kb"))

  protected val stateParams = Map("keyCol" -> keyCol, "signCol" -> signCol,
    "verCol" -> verCol, "payload" -> payloadCols.mkString(","),
    "nBuckets" -> nBuckets.toString)

  private def sideCols: Seq[String] =
    payloadCols.flatMap(c => Seq(s"${c}_p", s"${c}_m"))

  /** Fold (k, ver, net, c_p..., c_m...) rows: nets ADD (each input row
    * carries either a raw sign or a partial net), each payload side
    * keeps its max non-null value — well-formed inputs repeat the state
    * payload on the cancel, so the max is a no-op tiebreak.
    */
  private def fold(df: DataFrame): DataFrame =
    df.groupBy(col("k"), col("ver"))
      .agg(sum(col("net")).as("net"),
        sideCols.map(c => max(col(c)).as(c)): _*)

  private def batchNets(batch: DataFrame): DataFrame =
    fold(batch.select(Seq(col(keyCol).cast("long").as("k"),
      col(verCol).cast("long").as("ver"),
      col(signCol).cast("long").as("net")) ++
      payloadCols.flatMap(c => Seq(
        when(col(signCol) === 1, col(c)).as(s"${c}_p"),
        when(col(signCol) === -1, col(c)).as(s"${c}_m"))): _*))

  /** Seed the standing view from a (possibly empty) signed history,
    * REPLACING any previous state under `stateDir`.
    */
  def seed(history: DataFrame): Unit = reseed {
    state.seed(withKb(batchNets(history), "k"))
  }

  /** Admit micro-batch `batchId` and emit one row per touched
    * (key, version): full-history `net`, `surviving = net != 0`, and
    * the surviving side's payload (null once a pair has collapsed).
    */
  protected def admitBatch(batch: DataFrame, batchId: Long): DataFrame = {
    val (fresh, pruned) = prunedRead(batchNets(batch), Seq("k", "ver"), batchId)
    val refRaw = pruned.select(col("k") +: col("ver") +: col("batch") +: col("net") +:
        sideCols.map(col): _*)
    // full nets, not deltas -> only the NEWEST state row per (k, ver)
    // may enter the fold
    val ref = graft.operators.MergeSemantics
      .replacingMerge(refRaw, Seq("k", "ver"), "batch").drop("batch")
    val merged = fold(ref.unionByName(fresh.drop("kb")))
      .localCheckpoint() // materialize before the state append
    state.append(withKb(merged, "k"), batchId)
    merged.select(Seq(col("k").as(keyCol), col("ver").as(verCol),
      col("net"), (col("net") =!= 0).as("surviving")) ++
      payloadCols.map(c => when(col("net") > 0, col(s"${c}_p"))
        .when(col("net") < 0, col(s"${c}_m")).as(c)): _*)
  }
}
