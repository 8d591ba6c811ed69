package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.StructType

/** The one shell every standing (stateful streaming) operator runs
  * inside — the reference's delivery contract (write the batch, advance
  * the offset only after the write, make replays idempotent:
  * `task/sinker.go:521-559`) stated once over [[BatchedState]].
  *
  * A family supplies:
  *  - [[stateParams]]: the derivation parameters baked into its stored
  *    rows (bucket counts, band geometry, layout-version keys);
  *  - [[states]]: its [[BatchedState]] tables;
  *  - a seed body, run inside [[reseed]];
  *  - [[admitBatch]]: the per-batch fold — read state strictly
  *    `before = batchId`, append the batch's rows at `batchId`, and
  *    return a result pinned (localCheckpoint) off the state files a
  *    later compaction may fold away.
  *
  * It inherits:
  *  - the first-admission guard: `_params` must match [[stateParams]]
  *    ([[BatchedState.validateParams]]; an optional [[layoutKey]] is
  *    judged by [[admitLayout]] instead), and the batch id must not be
  *    below the state head ([[BatchedState.requireMonotonicBatchId]]);
  *  - the re-seed order: `_params` off first, every state reset, the
  *    seed body, `_params` on last — a crash anywhere between leaves a
  *    dir the guard refuses instead of a silently empty one;
  *  - compaction over every state, and [[attach]]: the one
  *    `foreachBatch` that overwrites `outDir/batch=<id>` (exactly-once
  *    per batch dir under at-least-once delivery) and auto-compacts the
  *    already-committed ids.
  */
trait StandingOperator extends Serializable {
  protected def spark: SparkSession
  protected def stateDir: String

  /** Persisted at seed, validated before the first admission of a run. */
  protected def stateParams: Map[String, String]

  /** Every persisted table: reset together on seed, compacted together,
    * and their joint head gates the first admitted batch id.
    */
  protected def states: Seq[BatchedState]

  /** The per-batch fold behind [[admit]] (the guard has already run). */
  protected def admitBatch(batch: DataFrame, batchId: Long): DataFrame

  /** Optional layout-key hook: one `_params` key whose STORED value is
    * the authority for the dir's layout, so admission hands it to
    * [[admitLayout]] (`None` = a dir seeded before the key existed)
    * instead of requiring equality with [[stateParams]].
    */
  protected def layoutKey: Option[String] = None
  protected def admitLayout(stored: Option[String]): Unit = ()

  @transient private var admissible = false

  /** The first-admission guard; later calls in the same run are free. */
  protected final def checkAdmission(batchId: Long): Unit = if (!admissible) {
    BatchedState.validateParams(spark, stateDir, stateParams -- layoutKey)
    layoutKey.foreach(k =>
      admitLayout(BatchedState.readParams(spark, stateDir).get(k)))
    BatchedState.requireMonotonicBatchId(batchId, states, stateDir)
    admissible = true
  }

  /** Refuse a stored [[layoutKey]] value in the wording of
    * [[BatchedState.validateParams]].
    */
  protected final def refuseLayout(stored: String, caller: String,
      hint: String = ""): Nothing =
    throw new IllegalStateException(
      s"state at $stateDir was built with different parameters — " +
        s"${layoutKey.getOrElse("layout")}: stored=$stored caller=$caller" +
        s"$hint. Re-seed (reset) or restore the original values.")

  /** Seed the persisted state, REPLACING any previous state under
    * `stateDir` (stale admitted batches must not survive into a new
    * corpus): `body` writes the seed rows.
    */
  protected final def reseed(body: => Unit): Unit = {
    BatchedState.clearParams(spark, stateDir)
    states.foreach(_.reset())
    body
    BatchedState.writeParams(spark, stateDir, stateParams)
    admissible = true
  }

  protected final def compactStates(keepFrom: Long, upTo: Long): Unit =
    states.foreach(_.compact(keepFrom, upTo))

  /** Admit micro-batch `batchId` against everything seeded or admitted
    * in batches `< batchId`, then fold the batch into the state. Calling
    * twice with the same id (a crash replay) yields the same output and
    * the same state.
    */
  final def admit(batch: DataFrame, batchId: Long): DataFrame = {
    checkAdmission(batchId)
    admitBatch(batch, batchId)
  }

  /** Replay `batches` in order: admit batch k as id k (k = 0..n-1), tag
    * its output with a `batch` column, fold the state after batch 0 (so
    * later batches read it through a compaction), and union the outputs.
    * Each admit runs under the job description `<operator> admit k`, so a
    * job table attributes every job to its admit.
    */
  final def replay(batches: Seq[DataFrame]): DataFrame = {
    val sc = spark.sparkContext
    val prior = sc.getLocalProperty("spark.job.description")
    val name = getClass.getSimpleName
    try batches.zipWithIndex.map { case (batch, k) =>
      sc.setJobDescription(s"$name admit $k")
      val out = admit(batch, k.toLong).withColumn("batch", lit(k))
      if (k == 0) {
        sc.setJobDescription(s"$name compact 0")
        compactStates(Long.MinValue, 0L)
      }
      out
    }.reduce(_ unionByName _)
    finally sc.setJobDescription(prior)
  }

  /** Wire a streaming source into the standing operator: each
    * micro-batch is admitted and its output lands in `outDir/batch=<id>`
    * with overwrite semantics — replays rewrite the same dir, so
    * downstream readers see each batch's output exactly once.
    * `autoCompactEvery = K` folds state every K batches, bounded to the
    * already-committed ids (`upTo = batchId - 1`), keeping delta file
    * counts flat over an unbounded run; each fold rewrites the covered
    * state, so pick K to amortize that cost.
    */
  def attach(source: DataFrame, outDir: String,
      checkpointDir: String, autoCompactEvery: Int = 0): DataStreamWriter[Row] =
    StandingOperator.sink(source, outDir, checkpointDir)(admit) { batchId =>
      if (autoCompactEvery > 0 && batchId > 0 &&
        batchId % autoCompactEvery == 0) compactStates(Long.MinValue, batchId - 1)
    }

  /** Prune predicate for a bucketed state read: `c` restricted to the
    * (<= nBuckets) distinct values `df` carries, collected on the
    * driver — with an explicit empty short-circuit, never a reliance on
    * a zero-arg `isin` being false.
    */
  protected final def prunedTo(df: DataFrame, c: String): Column = {
    val vs = df.select(c).distinct().collect().map(_.getInt(0))
    if (vs.isEmpty) lit(false) else col(c).isin(vs.toIndexedSeq.map(Int.box): _*)
  }
}

/** A standing operator whose rows may age out: [[compact]] exposes the
  * `keepFrom` TTL (the dedup and decontamination families).
  */
trait EvictingOperator extends StandingOperator {
  /** Fold deltas `<= upTo` into one snapshot and evict rows admitted
    * before batch `keepFrom` (age-based TTL; the seed is batch -1). Only
    * fold batch ids the stream's checkpoint has committed — pass `upTo`
    * while the stream runs, or call with the stream stopped.
    */
  def compact(keepFrom: Long = Long.MinValue,
      upTo: Long = Long.MaxValue): Unit = compactStates(keepFrom, upTo)
}

/** A keyed fold over ONE `kb = hash(key)`-bucketed state table — each
  * admission folds the batch's per-key rows into the key's standing row
  * and emits the touched keys over their FULL history (the replacing,
  * summing, collapsing, retention, funnel and sketch families).
  *
  * Scale shape: the batch's fresh rows are pinned once, their bucket set
  * prunes the state scan, and the pruned state left-semi-joins the
  * broadcast batch keys — the state read is bounded by the batch's
  * footprint and state never shuffles corpus-wide. [[compact]] folds
  * FILES only: an aged row may still be an untouched key's current
  * state, so row eviction would break the full-history output.
  */
trait KeyedFold extends StandingOperator {
  protected def nBuckets: Int
  protected def state: BatchedState
  protected final def states: Seq[BatchedState] = Seq(state)

  /** FILE compaction only: folds deltas `<= upTo` into one snapshot
    * without evicting any row. Call only for checkpoint-committed ids.
    */
  def compact(upTo: Long = Long.MaxValue): Unit =
    compactStates(Long.MinValue, upTo)

  /** `df` with its state partition column `kb = hash(key) % nBuckets`. */
  protected final def withKb(df: DataFrame, key: String): DataFrame =
    df.withColumn("kb", StandingOperator.bucket(nBuckets, col(key)))

  /** The keyed-fold read: pin the batch's `rows` (bucketed on the first
    * of `keys`), then read the state before `batchId` pruned to their
    * buckets and left-semi-joined against the broadcast batch `keys`
    * (`distinctKeys` when `rows` repeat a key). `fallback` is the state
    * row schema for an empty state (default: the fresh rows' own).
    * Returns (fresh, pruned state).
    */
  protected final def prunedRead(rows: DataFrame, keys: Seq[String],
      batchId: Long, fallback: Option[StructType] = None,
      distinctKeys: Boolean = false): (DataFrame, DataFrame) = {
    val fresh = withKb(rows, keys.head).localCheckpoint()
    val probe = fresh.select(keys.map(col): _*)
    val ref = state.read(before = batchId,
        fallback = fallback.orElse(Some(fresh.schema)))
      .where(prunedTo(fresh, "kb"))
      .join(broadcast(if (distinctKeys) probe.distinct() else probe),
        keys, "left_semi")
    (fresh, ref)
  }
}

object StandingOperator {
  /** `hash(cols) % nBuckets` — the directory partition of every bucketed
    * state table; one definition so the batch side and the persisted
    * state can never disagree.
    */
  def bucket(nBuckets: Int, cols: Column*): Column =
    pmod(xxhash64(cols: _*), lit(nBuckets)).cast("int")

  /** The one `foreachBatch`: `run` each micro-batch, overwrite its output
    * at `outDir/batch=<id>`, then `after(batchId)`.
    */
  private[streaming] def sink(source: DataFrame, outDir: String,
      checkpointDir: String)(run: (DataFrame, Long) => DataFrame)(
      after: Long => Unit): DataStreamWriter[Row] =
    source.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        run(batch, batchId).write.mode("overwrite")
          .parquet(s"$outDir/batch=$batchId")
        after(batchId)
      }
}
