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

  /** The sorted-array + run-length composition that
    * [[graft.functions.NgramRepFractions]] fuses, behind the same columns
    * as [[graft.operators.TextAnalysis.repetitionNgramStats]] (its
    * interpreted per-element lambdas cost ~6 ms/doc).
    *
    * The sorted gram arrays are pinned behind [[graft.functions.Once]]
    * in their own projection: referenced naively from inside the
    * fraction lambdas, the `array_sort(ngrams(...))` subtree would be
    * COPIED into every `element_at` of the aggregate and re-evaluated
    * per element — O(m^2) interpreted work per document (measured 1 s/doc
    * at ~200 tokens). The barrier + attribute reference makes it
    * once-per-row.
    */
  def repetitionNgramStatsCompositional(df: DataFrame, idCol: String,
      textCol: String, topN: Int, dupN: Int): DataFrame = {
    def sortedGrams(n: Int) = graft.functions.Once(array_sort(
      TextAnalysis.ngramsOfToks(TextAnalysis.canonToks(col(textCol)), n)))
    df.select(col(idCol), sortedGrams(topN).as("__st"), sortedGrams(dupN).as("__sd"))
      .select(col(idCol),
        topNgramCharFractionOfSorted(col("__st")).as(s"top$topN"),
        dupNgramCharFractionOfSorted(col("__sd")).as(s"dup$dupN"))
  }

  /** Gopher §A1.1 "duplicate n-gram" signal over a PRE-SORTED gram array
    * (see [[repetitionNgramStatsCompositional]] for why the sort must be pinned in
    * its own projection): an occurrence is duplicated iff it equals a
    * neighbor. 0 when fewer than 2 grams.
    */
  def dupNgramCharFractionOfSorted(sorted: Column): Column = {
    val m = size(sorted)
    val dupChars = aggregate(sequence(lit(1), m), lit(0L), (acc, i) => {
      val cur = element_at(sorted, i)
      val prevEq = coalesce(
        when(i >= 2, element_at(sorted, i - 1) === cur), lit(false))
      val nextEq = coalesce(
        when(i < m, element_at(sorted, i + 1) === cur), lit(false))
      acc + when(prevEq || nextEq, length(cur).cast(LongType)).otherwise(0L)
    })
    val totChars = aggregate(sorted, lit(0L), (a, s) => a + length(s))
    when(m < 2 || totChars === 0, lit(0.0))
      .otherwise(round(dupChars.cast(DoubleType) / totChars.cast(DoubleType), 6))
  }

  /** Gopher §A1.1 "top n-gram" signal over a PRE-SORTED gram array: the
    * fraction of n-gram characters covered by the single most frequent
    * n-gram (ties break to the lexicographically smallest). One
    * run-length pass — SQL-twinned by a windowed argmax.
    */
  def topNgramCharFractionOfSorted(sorted: Column): Column = {
    val state0 = struct(lit("").as("prev"), lit(0L).as("run"),
      lit(0L).as("bestRun"), lit("").as("best"))
    val agg = aggregate(sorted, state0,
      (st, x) => {
        val same = st.getField("prev") === x
        val closedBetter = !same && st.getField("run") > st.getField("bestRun")
        struct(
          x.as("prev"),
          when(same, st.getField("run") + 1L).otherwise(lit(1L)).as("run"),
          when(closedBetter, st.getField("run"))
            .otherwise(st.getField("bestRun")).as("bestRun"),
          when(closedBetter, st.getField("prev"))
            .otherwise(st.getField("best")).as("best"))
      },
      st => {
        val finalBetter = st.getField("run") > st.getField("bestRun")
        struct(
          when(finalBetter, st.getField("run"))
            .otherwise(st.getField("bestRun")).as("bestRun"),
          when(finalBetter, st.getField("prev"))
            .otherwise(st.getField("best")).as("best"))
      })
    val totChars = aggregate(sorted, lit(0L), (a, s) => a + length(s))
    when(size(sorted) === 0 || totChars === 0, lit(0.0))
      .otherwise(round(
        agg.getField("bestRun").cast(DoubleType) *
          length(agg.getField("best")).cast(DoubleType) /
          totChars.cast(DoubleType), 6))
  }
}
