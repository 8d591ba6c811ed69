package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.operators.{Dedup, Sampling, TextAnalysis}

/** The streaming capstone: the `corpus_pipeline` stage list lifted onto
  * a standing stream. Every arriving micro-batch of documents is gated
  * against the persisted benchmark gram state
  * ([[StreamingDecontamination]] — the only STATEFUL stage, so standing
  * state cost is the decontamination gram set alone), then flows the
  * exact batch stages the capstone composes: exact dedup, Gopher
  * quality filter, PII scrub, a cap of 20 documents per source, a
  * train/val 0.9/0.1 split assignment, and the
  * per-(split, source) rollup — the curation ledger a training-data
  * pipeline emits per micro-batch.
  *
  * Scale shape: the stateless stages are scans + aggregates (the
  * capstone's plan-pinned window-free shapes), decontamination admission
  * is bucket-pruned state vs broadcast batch grams
  * ([[StreamingDecontamination.admit]]), and a new benchmark release
  * folds in MID-STREAM via [[addBenchmark]] — later batches gate
  * against the grown set, earlier (replayed) batches provably don't
  * ([[BatchedState.read]]'s `before` cut).
  *
  * Delivery: [[attach]] runs in the [[StandingOperator]] shell
  * (at-least-once micro-batches) and writes each batch's rollup to
  * `outDir/batch=<id>` with overwrite semantics, so a crash-replayed
  * batch replaces its own output — exactly-once per batch dir.
  */
final class StreamingCuration(spark: SparkSession, stateDir: String,
    idCol: String, textCol: String, sourceCol: String)
    extends Serializable {

  private val maxPerSource = 20
  private val splits = Seq("train" -> 0.9, "val" -> 0.1)

  private val decon =
    new StreamingDecontamination(spark, stateDir, idCol, textCol)

  /** Seed the benchmark gram state, REPLACING any previous state under
    * `stateDir` ([[StreamingDecontamination.seed]]).
    */
  def seed(bench: DataFrame, benchTextCol: String): Unit =
    decon.seed(bench, benchTextCol)

  /** Fold a new benchmark release into the standing set at `batchId`
    * ([[StreamingDecontamination.addBenchmark]] — consumes one id of
    * the monotonic batch sequence; admissions at later ids see it).
    */
  def addBenchmark(bench: DataFrame, benchTextCol: String,
      batchId: Long): Unit =
    decon.addBenchmark(bench, benchTextCol, batchId)

  /** Curate micro-batch `batchId`: decontaminate against every benchmark
    * gram admitted before it, then dedup → Gopher filter → PII scrub →
    * per-source cap → split, and roll up to one row per (split, source):
    * surviving doc count + whitespace-token sum. Replay-idempotent
    * (decontamination admission never writes state).
    */
  def curate(batch: DataFrame, batchId: Long): DataFrame = {
    val verdicts = decon.admit(batch, batchId)
    val clean = batch.join(
      verdicts.filter(!col("contaminated")).select(col("id").as(idCol)),
      Seq(idCol))
    val scrubbed = Dedup.dropExact(clean, col(textCol), col(idCol))
      .filter(TextAnalysis.gopherKeep(col(textCol)))
      .withColumn(textCol, TextAnalysis.scrubPii(col(textCol)))
    val capped = Sampling.capPerGroup(scrubbed, col(idCol), col(sourceCol),
        maxN = maxPerSource)
      .select(col("id").as(idCol))
    Sampling.assignSplit(scrubbed.join(capped, idCol), col(idCol), splits)
      .groupBy(col("split"), col(sourceCol))
      .agg(count(lit(1)).as("n"),
        sum(TextAnalysis.wsTokenCount(col(textCol))).as("n_tokens"))
  }

  /** Curate each micro-batch into `outDir/batch=<id>` (overwrite —
    * idempotent across crash replays).
    */
  def attach(source: DataFrame, outDir: String,
      checkpointDir: String): DataStreamWriter[Row] =
    StandingOperator.sink(source, outDir, checkpointDir)(curate)(_ => ())

  /** [[StreamingDecontamination]]'s `compact`. */
  def compact(keepFrom: Long = Long.MinValue,
      upTo: Long = Long.MaxValue): Unit = decon.compact(keepFrom, upTo)
}
