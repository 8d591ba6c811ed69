package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType}

/** Retrieval compositions over the lexical (BM25) and dense (ANN) tiers —
  * the RAG-serving shapes a curation engine grows once both tiers exist.
  */
object Retrieval {

  /** Hybrid search: reciprocal-rank fusion (RRF, Cormack et al., SIGIR
    * 2009) of the BM25 lexical ranking for `terms` and the dense cosine
    * top-k around `queryVecId`'s embedding. Each doc scores
    * `sum over channels of 1 / (60 + rank_channel)` (RRF's constant
    * k = 60); a doc missing
    * from a channel contributes 0 from it. Ties break on id, so the
    * fused ranking is fully deterministic and the SQL oracle replays it.
    *
    * Scale shape: each channel is a corpus-scan-shaped pass that ends in
    * a BOUNDED pool — BM25 in a global TakeOrderedAndProject
    * ([[TextAnalysis.bm25TopK]]), dense in the bounded-heap TopKAgg
    * ([[Similarity.bruteForceTopK]]) — so the fusion outer join, the
    * final sort and the rank window all run on <= 2 * poolK rows. The
    * unpartitioned rank window is deliberate: it sees only the fused
    * pool, never the corpus.
    *
    * `embeddings` carries `vec_id` and `embedding` columns. The query
    * document itself is absent from the dense channel
    * (self-match excluded by the ANN tier); it can still surface via the
    * lexical channel like any other doc.
    */
  def hybridTopK(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], embeddings: DataFrame, queryVecId: Long, k: Int,
      poolK: Int = 50): DataFrame = {
    require(k <= poolK, "k must not exceed the per-channel pool size")
    val lex = TextAnalysis.bm25TopK(docs, idCol, textCol, terms, poolK)
      .select(col("id"), row_number()
        .over(Window.orderBy(col("score").desc, col("id")))
        .cast(IntegerType).as("lex_rank"))
    val e = embeddings.select(col("vec_id"),
      col("embedding").cast(ArrayType(DoubleType)).as("embedding"))
    val dense = Similarity.bruteForceTopK(e,
        e.filter(col("vec_id") === queryVecId), poolK)
      .select(col("nn_id").as("id"), col("rank").as("dense_rank"))
    val rrf =
      coalesce(lit(1.0) / (lit(60) + col("lex_rank")), lit(0.0)) +
      coalesce(lit(1.0) / (lit(60) + col("dense_rank")), lit(0.0))
    val fused = lex.join(dense, Seq("id"), "outer")
      .select(col("id"), col("lex_rank"), col("dense_rank"), rrf.as("rrf"))
      .orderBy(col("rrf").desc, col("id")).limit(k)
    fused
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("rrf").desc, col("id"))).cast(IntegerType))
      .withColumn("rrf", round(col("rrf"), 6))
  }
}
