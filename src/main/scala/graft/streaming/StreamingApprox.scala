package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.ApproxAgg

/** Standing streaming uniqHLL — the streaming lift of
  * [[graft.operators.ApproxAgg.uniqHll]], and the engine's
  * `-State`/`-Merge` combinator story in one operator: the persisted
  * state IS the register sketch (per (key, register) max rho), the
  * admission fold IS the HLL merge (register-wise max — associative,
  * commutative, idempotent), and every admission emits the estimate
  * over the key's FULL history so far. Because the merge is a plain
  * max, replays and restarts are idempotent by construction, and the
  * streaming estimate is EXACTLY the batch [[ApproxAgg.uniqHll]] over
  * the concatenated history — the replay oracle checks that equality.
  *
  * Scale shape (the [[StreamingReplacingMerge]] recipe): state rows are
  * `kb = hash(key)`-bucketed, reads prune to the batch's buckets and
  * SEMI-join the broadcast batch keys; at most 512 register rows per
  * touched key per batch flow anywhere. [[compact]] folds files only.
  */
final class StreamingUniqHll(protected val spark: SparkSession,
    protected val stateDir: String, keyCol: String, valueCol: String,
    protected val nBuckets: Int = 64) extends KeyedFold {

  protected val state = new BatchedState(spark, s"$stateDir/regs", Seq("kb"))

  protected val stateParams = Map("keyCol" -> keyCol, "valueCol" -> valueCol,
    "p" -> ApproxAgg.HllP.toString, "nBuckets" -> nBuckets.toString)

  private val stateSchema = StructType(Seq(
    StructField("k", StringType), StructField("reg", IntegerType),
    StructField("m", IntegerType), StructField("kb", IntegerType)))

  private def batchRegisters(batch: DataFrame): DataFrame =
    ApproxAgg.hllRegisters(
      batch.select(col(keyCol).cast("string").as("k"),
        col(valueCol).as("__v")),
      Seq("k"), col("__v"))

  private def foldRegisters(df: DataFrame): DataFrame =
    df.groupBy(col("k"), col("reg")).agg(max(col("m")).as("m"))

  /** Seed the standing sketch from a (possibly empty) history, REPLACING
    * any previous state under `stateDir`.
    */
  def seed(history: DataFrame): Unit = reseed {
    state.seed(withKb(batchRegisters(history), "k"))
  }

  /** Admit micro-batch `batchId`: merge the batch's registers into the
    * standing sketch and emit (keyCol, est, n_regs) for every key
    * touched by the batch — the estimate over the key's full history.
    */
  protected def admitBatch(batch: DataFrame, batchId: Long): DataFrame = {
    val (fresh, pruned) = prunedRead(batchRegisters(batch), Seq("k"), batchId,
      Some(stateSchema), distinctKeys = true)
    val ref = pruned.select(col("k"), col("reg"), col("m"))
    val merged = foldRegisters(ref.unionByName(
        fresh.select(col("k"), col("reg"), col("m"))))
      .localCheckpoint() // materialize before the state append
    state.append(withKb(merged, "k"), batchId)
    ApproxAgg.hllEstimate(merged, Seq("k"))
      .select(col("k").as(keyCol), col("est"), col("n_regs"))
  }
}

/** Standing streaming KMV distinct sketch — the streaming lift of
  * [[graft.operators.ApproxAgg.uniqKmv]]: the persisted state IS the
  * per-key k-smallest-distinct-hash rows, and the admission fold IS the
  * KMV merge (min-k of the union — idempotent, so crash-replay is safe
  * without a newest-row read discipline, same as the HLL register
  * max-fold). State stays <= k rows per key per append; reads prune to
  * the batch's `kb` buckets and semi-join the broadcast batch keys.
  */
final class StreamingUniqKmv(protected val spark: SparkSession,
    protected val stateDir: String, keyCol: String, valueCol: String,
    k: Int = 256) extends KeyedFold {

  protected val nBuckets = 64

  protected val state = new BatchedState(spark, s"$stateDir/kmv", Seq("kb"))

  protected val stateParams = Map("keyCol" -> keyCol, "valueCol" -> valueCol,
    "k" -> k.toString, "nBuckets" -> nBuckets.toString)

  private val stateSchema = StructType(Seq(
    StructField("k", StringType), StructField("h", LongType),
    StructField("kb", IntegerType)))

  private def batchHashes(batch: DataFrame): DataFrame =
    batch.select(col(keyCol).cast("string").as("k"),
        graft.functions.PortableHash.md5Lo(col(valueCol)).as("h"))
      .filter(col("h").isNotNull)

  /** min-k fold over (k, h) rows via the bounded-heap aggregate — the
    * shuffle carries at most k longs per (mapper, key).
    */
  private def foldMinK(df: DataFrame): DataFrame = {
    val agg = org.apache.spark.sql.functions.udaf(
      new ApproxAgg.MinKDistinctAgg(k))
    df.groupBy(col("k")).agg(agg(col("h")).as("ks"))
  }

  def seed(history: DataFrame): Unit = reseed {
    state.seed(withKb(foldMinK(batchHashes(history))
      .select(col("k"), explode(col("ks")).as("h")), "k"))
  }

  /** Admit micro-batch `batchId`: merge the batch's hashes into the
    * standing sketch and emit (keyCol, est, n_kept) for every key the
    * batch touched — the estimate over the key's full history.
    */
  protected def admitBatch(batch: DataFrame, batchId: Long): DataFrame = {
    val (fresh, pruned) = prunedRead(batchHashes(batch), Seq("k"), batchId,
      Some(stateSchema), distinctKeys = true)
    val ref = pruned.select(col("k"), col("h"))
    val merged = foldMinK(ref.unionByName(fresh.select(col("k"), col("h"))))
      .localCheckpoint() // materialize before the state append
    state.append(withKb(merged.select(col("k"), explode(col("ks")).as("h")),
      "k"), batchId)
    ApproxAgg.kmvEstimate(merged, Seq("k"), k)
      .select(col("k").as(keyCol), col("est"), col("n_kept"))
  }
}

/** Standing streaming quantile sketch — the streaming lift of
  * [[graft.operators.ApproxAgg.quantileSketch]]: the persisted state is
  * the per-(key, bucket) count histogram, the admission fold sums
  * counts, and every admission emits the requested quantiles over the
  * key's FULL history. Count addition is NOT idempotent, so — like
  * [[StreamingSummingMerge]] — reads take only the NEWEST state
  * histogram per key (each appended row-set carries the key's complete
  * merged histogram as of its batch).
  *
  * Scale shape: state rows are `kb = hash(key)`-bucketed and bounded by
  * the bucket space (~64·2^(sigBits-1) rows per key, corpus-size-
  * independent); reads prune to the batch's buckets and SEMI-join the
  * broadcast batch keys. [[compact]] folds files only.
  */
final class StreamingQuantile(protected val spark: SparkSession,
    protected val stateDir: String, keyCol: String, valueCol: String,
    quantiles: Seq[(String, Int, Int)], sigBits: Int = 8,
    protected val nBuckets: Int = 64) extends KeyedFold {

  require(quantiles.nonEmpty, "at least one quantile")

  // values scale to integers by 100 (ApproxAgg.quantileHistogram's default)
  private val scale = 100

  protected val state = new BatchedState(spark, s"$stateDir/hist", Seq("kb"))

  protected val stateParams = Map("keyCol" -> keyCol, "valueCol" -> valueCol,
    "scale" -> scale.toString, "sigBits" -> sigBits.toString,
    "nBuckets" -> nBuckets.toString)

  private val stateSchema = StructType(Seq(
    StructField("k", StringType), StructField("blo", LongType),
    StructField("cnt", LongType), StructField("kb", IntegerType)))

  private def batchHist(batch: DataFrame): DataFrame =
    ApproxAgg.quantileHistogram(
      batch.select(col(keyCol).cast("string").as("k"),
        col(valueCol).as("__v")),
      Seq("k"), col("__v"), scale, sigBits)

  private def foldHist(df: DataFrame): DataFrame =
    df.groupBy(col("k"), col("blo")).agg(sum(col("cnt")).as("cnt"))

  /** Seed the standing histogram from a (possibly empty) history,
    * REPLACING any previous state under `stateDir`.
    */
  def seed(history: DataFrame): Unit = reseed {
    state.seed(withKb(batchHist(history), "k"))
  }

  /** Admit micro-batch `batchId`: fold the batch's histogram into the
    * standing one and emit (keyCol, n, quantiles...) for every touched
    * key over its full history.
    */
  protected def admitBatch(batch: DataFrame, batchId: Long): DataFrame = {
    val (fresh, pruned) = prunedRead(batchHist(batch), Seq("k"), batchId,
      Some(stateSchema), distinctKeys = true)
    val refRaw = pruned.select(col("k"), col("blo"), col("cnt"), col("batch"))
    // newest complete histogram per key (counts are not idempotent)
    val latest = refRaw.groupBy(col("k")).agg(max(col("batch")).as("batch"))
    val ref = refRaw.join(broadcast(latest), Seq("k", "batch"))
      .select(col("k"), col("blo"), col("cnt"))
    val merged = foldHist(ref.unionByName(
        fresh.select(col("k"), col("blo"), col("cnt"))))
      .localCheckpoint() // materialize before the state append
    state.append(withKb(merged, "k"), batchId)
    ApproxAgg.quantilesOfHistogram(merged, Seq("k"), quantiles, scale)
      .select(col("k").as(keyCol) +: col("n") +: quantiles.map {
        case (name, _, _) => col(name) }: _*)
  }
}
