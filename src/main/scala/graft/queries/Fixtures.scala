package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.Tables
import graft.operators.TextAnalysis

/** The Spark-side test corpora that more than one query family builds:
  * the embedding table as DOUBLE arrays, the planted twins at
  * `id + 1000000`, and the benchmark spans planted into documents. The
  * oracles rebuild the same corpora in SQL ([[SharedOracles]]).
  */
private[queries] object Fixtures {
  /** `embeddings` as (vec_id, embedding: array<double>). */
  def vectors(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).embeddings
      .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("embedding"))

  /** `df` with its `id` column moved up by 1000000. */
  def shifted(df: DataFrame, id: String = "doc_id"): DataFrame =
    df.withColumn(id, col(id) + 1000000L)

  /** `doc_id` and `cols` of `docs`, plus every row again at
    * `doc_id + 1000000` (the planted exact twins).
    */
  def twinCorpus(docs: DataFrame, cols: String*): DataFrame = {
    val base = docs.select(("doc_id" +: cols).map(col): _*)
    base.union(shifted(base))
  }

  /** Every vector's +0.05-perturbed twin at `vec_id + 1000000`. */
  def nudged(vecs: DataFrame): DataFrame =
    shifted(vecs, "vec_id")
      .withColumn("embedding", transform(col("embedding"), x => x + lit(0.05)))

  /** The first 8 canonical words of each benchmark doc, keyed by
    * `bid = doc_id % 20`.
    */
  def wordSpans(bench: DataFrame): DataFrame =
    bench.select((col("doc_id") % 20).as("bid"),
      concat_ws(" ", slice(TextAnalysis.canonToks(col("text")), 1, 8)).as("span"))

  /** The first 60 characters of each benchmark doc (docs < 20), keyed
    * by `bid = doc_id % 20`.
    */
  def charSpans(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") < 20)
      .select((col("doc_id") % 20).as("bid"), substring(col("text"), 1, 60).as("span"))

  /** Each of `docs` with the span of benchmark doc `doc_id % 20`
    * appended after `sep`, followed by `extra` columns.
    */
  def quoting(docs: DataFrame, spans: DataFrame, sep: String,
      extra: Column*): DataFrame =
    docs.withColumn("bid", col("doc_id") % 20).join(spans, "bid")
      .select(col("doc_id") +: concat(col("text"), lit(sep), col("span")).as("text")
        +: extra: _*)
}
