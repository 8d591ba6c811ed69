package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{PortableCase, PortableHash, RhpBandKeys, VecDot}
import graft.operators.TextAnalysis

/** The definitional (compositional) forms of the fused operators, kept
  * as the oracles that `FusedParitySpec`, `OperatorsSpec` and
  * `UnicodeParitySpec` check the fused forms against. No main code
  * calls them.
  */
object UnfusedForms {

  /** The explode + k-min-column aggregate twin of
    * [[graft.operators.Dedup.minhashSignatureDF]].
    */
  def minhashSignatureExplodeDF(df: DataFrame, idCol: String,
      shinglesCol: String, k: Int): DataFrame = {
    val exploded = df.select(col(idCol).as("id"),
      explode(col(shinglesCol)).as("sh"))
      .select(col("id"),
        PortableHash.md5Lo(col("sh")).as("h1"),
        PortableHash.md5Hi(col("sh")).as("h2"))
    val aggs = (0 until k).map(i =>
      min(col("h1") + lit(i.toLong) * col("h2")).as(s"m$i"))
    exploded.groupBy(col("id"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("id"), array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** nBits-bit random-hyperplane signature of a vector column: the bits
    * that [[graft.functions.RhpBandKeys]] computes in one codegen'd pass.
    */
  def rhpSignature(vec: Column, dims: Int, nBits: Int): Column =
    array((0 until nBits).map { b =>
      val plane = array((0 until dims).map(d =>
        lit(RhpBandKeys.planeComponent(b, d))): _*)
      when(VecDot.of(vec.cast(ArrayType(DoubleType)), plane) >= 0, lit(1L))
        .otherwise(lit(0L))
    }: _*)

  /** Pack signature bits into band keys of `bandBits` each (the packing
    * inside [[graft.functions.RhpBandKeys]]).
    */
  def bandKeys(sig: Column, nBits: Int, bandBits: Int): Column =
    array((0 until nBits / bandBits).map { band =>
      aggregate(slice(sig, band * bandBits + 1, bandBits),
        lit(0L), (acc, b) => acc * 2 + b)
    }: _*)

  /** The per-word replace-trick hit count that
    * [[graft.functions.WordHits]] fuses.
    */
  def stopwordHitsCompositional(text: Column,
      words: Seq[String] = TextAnalysis.enStopwords): Column =
    words.map(TextAnalysis.wordHits(text, _)).reduce(_ + _)

  /** The when-chain argmax twin of [[graft.operators.TextAnalysis.langId]],
    * built entirely from the compositional word counter.
    */
  def langIdCompositional(text: Column): Column = {
    val markers = TextAnalysis.langMarkers
    val langs  = markers.keys.toSeq.sorted
    val scores = langs.map(l =>
      stopwordHitsCompositional(PortableCase.lowerPortable(text), markers(l)))
    val best   = scores.reduce((a, b) => greatest(a, b))
    // first language (in sorted order) reaching the max score
    langs.zip(scores).foldRight(lit("und")) { case ((l, s), acc) =>
      when(s === best && best > 0, lit(l)).otherwise(acc)
    }
  }
}
