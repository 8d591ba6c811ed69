package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Standing streaming SummingMerge — the ClickHouse materialized-view
  * pattern (SummingMergeTree / AggregatingMergeTree MV): a rollup table
  * maintained incrementally, one fold per micro-batch, queryable at any
  * batch boundary. The admission fold is addition — associative and
  * commutative — so replays are idempotent via the batch-id overwrite
  * contract, and each emitted row equals the batch aggregate over the
  * key's FULL history (the replay oracle checks exactly that).
  *
  * Accumulator discipline: every fold casts back to DECIMAL(28,2) so
  * the state schema stays FIXED across batches —
  * decimal sums otherwise widen per fold (18,2 -> 28,2 -> 38,2 -> ...)
  * and a drifting schema would poison the persisted state. Exact
  * arithmetic only (integers / decimals), as with
  * [[graft.operators.MergeSemantics.summingMerge]].
  *
  * Scale shape (the [[StreamingReplacingMerge]] recipe): state rows are
  * `kb = hash(key)`-bucketed, reads prune to the batch's buckets and
  * SEMI-join the broadcast batch keys; one state row per touched key
  * per batch. [[compact]] folds files only.
  */
final class StreamingSummingMerge(protected val spark: SparkSession,
    protected val stateDir: String, keyCol: String, sumCols: Seq[String],
    protected val nBuckets: Int = 64) extends KeyedFold {

  private val accType = "decimal(28,2)"

  require(sumCols.nonEmpty, "at least one sum column")
  require(sumCols.distinct.size == sumCols.size, "sum columns must be distinct")

  protected val state = new BatchedState(spark, s"$stateDir/sums", Seq("kb"))

  protected val stateParams = Map("keyCol" -> keyCol,
    "sumCols" -> sumCols.mkString(","), "accType" -> accType,
    "nBuckets" -> nBuckets.toString)

  private val accDataType =
    org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseDataType(accType)
  private val stateSchema = StructType(
    StructField("k", LongType) +:
      sumCols.map(c => StructField(c, accDataType)) :+
      StructField("kb", IntegerType))

  private def fold(df: DataFrame): DataFrame =
    df.groupBy(col("k"))
      .agg(sum(col(sumCols.head)).cast(accType).as(sumCols.head),
        sumCols.tail.map(c => sum(col(c)).cast(accType).as(c)): _*)

  private def batchSums(batch: DataFrame): DataFrame =
    fold(batch.select(col(keyCol).cast("long").as("k") +:
      sumCols.map(c => col(c).cast(accType).as(c)): _*))

  /** Seed the standing rollup from a (possibly empty) history, REPLACING
    * any previous state under `stateDir`.
    */
  def seed(history: DataFrame): Unit = reseed {
    state.seed(withKb(batchSums(history), "k"))
  }

  /** Admit micro-batch `batchId`: fold the batch's sums into the rollup
    * and emit (keyCol, sumCols...) for every touched key — the sums over
    * the key's full history so far.
    */
  protected def admitBatch(batch: DataFrame, batchId: Long): DataFrame = {
    // each state row carries the key's FULL total as of its batch, so —
    // addition not being idempotent — only the NEWEST row per key may
    // enter the fold (the StreamingReplacingMerge read, not the
    // max-fold the monotone-flag operators use)
    val (fresh, pruned) =
      prunedRead(batchSums(batch), Seq("k"), batchId, Some(stateSchema))
    val refRaw = pruned.select(col("k") +: col("batch") +: sumCols.map(col): _*)
    val ref = graft.operators.MergeSemantics
      .replacingMerge(refRaw, Seq("k"), "batch").drop("batch")
    val merged = fold(ref.unionByName(
        fresh.select(col("k") +: sumCols.map(col): _*)))
      .localCheckpoint() // materialize before the state append
    state.append(withKb(merged, "k"), batchId)
    merged.select(col("k").as(keyCol) +: sumCols.map(col): _*)
  }
}
