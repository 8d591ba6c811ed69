package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{EventAnalytics, MergeSemantics}

/** Standing streaming windowFunnel — the streaming lift of
  * [[graft.operators.EventAnalytics.windowFunnel]]: per micro-batch of
  * events (arriving in event-time order per user — watermark-style
  * contract; a chain can never span more than `windowSec`, so events
  * older than the window of a user's newest seen timestamp are inert),
  * each touched user's funnel level is updated and emitted.
  *
  * State per user is BOUNDED by construction: the best level reached so
  * far plus the "active tail" — only the events within `windowSec` of
  * the user's newest timestamp, the one set that can still extend or
  * seed a chain (any chain completing with future events must start
  * within the window of that future timestamp, hence inside the tail).
  * With time-ordered batches the emitted level provably equals the
  * batch [[EventAnalytics.windowFunnel]] over the user's full history —
  * the replay oracle checks exactly that equivalence.
  *
  * Scale shape (the [[StreamingReplacingMerge]] recipe): state rows are
  * `kb = hash(user)`-bucketed, reads prune to the batch's bucket set and
  * SEMI-join against the broadcast batch users; the newest state row per
  * user is selected by [[MergeSemantics.replacingMerge]] on the batch id
  * column. Per-user batch events aggregate to ONE sorted array row
  * (bounded by per-user activity) before the walk. Appends are
  * overwrite-idempotent; [[compact]] folds files only.
  */
final class StreamingWindowFunnel(protected val spark: SparkSession,
    protected val stateDir: String, userCol: String, tsCol: String,
    typeCol: String, steps: Seq[String], windowSec: Long,
    protected val nBuckets: Int = 64, mode: String = "default")
    extends KeyedFold {

  require(steps.nonEmpty, "at least one funnel step")
  require(steps.distinct.size == steps.size, "funnel steps must be distinct")
  require(windowSec > 0, "windowSec must be positive")
  require(EventAnalytics.Modes.contains(mode),
    s"mode must be one of ${EventAnalytics.Modes}")

  protected val state = new BatchedState(spark, s"$stateDir/funnel", Seq("kb"))
  private val winMicros = windowSec * 1000000L
  private val k = steps.size

  protected val stateParams = Map("steps" -> steps.mkString(","),
    "windowSec" -> windowSec.toString, "nBuckets" -> nBuckets.toString,
    "mode" -> mode)

  private val stateSchema = StructType(Seq(
    StructField("u", LongType), StructField("best", IntegerType),
    StructField("tailT", ArrayType(LongType)),
    StructField("tailS", ArrayType(IntegerType)),
    StructField("kb", IntegerType)))

  /** Batch events per user as one sorted (ts, step) array row; non-step
    * events drop scan-local.
    */
  private def batchAgg(batch: DataFrame): DataFrame = {
    val idxCol = steps.zipWithIndex.foldLeft(lit(-1)) {
      case (acc, (st, i)) => when(col(typeCol) === st, lit(i)).otherwise(acc)
    }
    batch.select(col(userCol).cast("long").as("u"),
        unix_micros(col(tsCol).cast("timestamp")).as("t"), idxCol.as("s"))
      .filter(col("s") >= 0)
      .groupBy(col("u"))
      .agg(sort_array(collect_list(struct(col("t"), col("s")))).as("ev"))
  }

  /** The per-user update: merge the retained tail with the batch's
    * events, re-run the exists-chain walk, advance the best level and
    * re-trim the tail to the window of the new max timestamp.
    */
  private def applyBatch(joined: DataFrame): DataFrame = {
    import spark.implicits._
    val kk = k; val wm = winMicros; val md = mode
    joined.select(col("u"),
        transform(col("ev"), e => e.getField("t")).as("evT"),
        transform(col("ev"), e => e.getField("s")).as("evS"),
        coalesce(col("best"), lit(0)).as("best0"),
        coalesce(col("tailT"), array().cast("array<bigint>")).as("tailT"),
        coalesce(col("tailS"), array().cast("array<int>")).as("tailS"))
      .as[(Long, Seq[Long], Seq[Int], Int, Seq[Long], Seq[Int])]
      .map { case (u, evT, evS, best0, tailT, tailS) =>
        val merged = (tailT.zip(tailS) ++ evT.zip(evS)).sorted.toArray
        val best = math.max(best0,
          EventAnalytics.funnelWalk(merged, kk, wm, md))
        val maxTs = merged.last._1 // joined rows always carry >= 1 event
        // inclusive window (ts_k <= ts_1 + window): an event at exactly
        // maxTs - wm can still seed a chain completed by a later-batch
        // event at exactly maxTs, so the boundary event stays retained
        val keep = merged.filter(_._1 >= maxTs - wm)
        (u, best, keep.map(_._1).toSeq, keep.map(_._2).toSeq)
      }.toDF("u", "best", "tailT", "tailS")
  }

  /** Initialize the standing state from a (possibly empty) history,
    * REPLACING any previous state under `stateDir`.
    */
  def seed(events: DataFrame): Unit = reseed {
    val fresh = batchAgg(events)
      .withColumn("best", lit(null).cast("int"))
      .withColumn("tailT", lit(null).cast("array<bigint>"))
      .withColumn("tailS", lit(null).cast("array<int>"))
    state.seed(withKb(applyBatch(fresh), "u"))
  }

  /** Admit micro-batch `batchId`: returns (userCol, level) for every
    * user with step events in the batch — the funnel level over the
    * user's full history so far. Replay overwrites the state delta
    * idempotently and reads state strictly before `batchId`.
    */
  protected def admitBatch(batch: DataFrame, batchId: Long): DataFrame = {
    val (fresh, pruned) =
      prunedRead(batchAgg(batch), Seq("u"), batchId, Some(stateSchema))
    val refRaw = pruned
      .select(col("u"), col("batch"), col("best"), col("tailT"), col("tailS"))
    val ref = MergeSemantics.replacingMerge(refRaw, Seq("u"), "batch")
      .drop("batch")
    val updated = applyBatch(fresh.join(ref, Seq("u"), "left"))
      .localCheckpoint() // materialize before the state append
    state.append(withKb(updated, "u"), batchId)
    updated.select(col("u").as(userCol), col("best").as("level"))
  }
}
