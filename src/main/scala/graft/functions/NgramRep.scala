package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.CatalystBridge.{toColumn, toExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Gopher §A1.1 repetition signals for one document in ONE fused pass:
  * `top` = fraction of topN-gram characters covered by the single most
  * frequent topN-gram (ties to the lexicographically smallest gram);
  * `dup` = fraction of dupN-gram characters in dupN-grams occurring 2+
  * times (every occurrence counts).
  *
  * Replaces the compositional sorted-array + run-length aggregate (kept
  * in test scope as this kernel's parity oracle), whose interpreted
  * per-element lambdas cost ~6 ms/document; here the
  * gram counts build in one hash map per n where the document is
  * scanned. Tokenization is [[PortableCase.canonToksJvm]] — byte-
  * identical to `canonToks`, so the DuckDB oracle recomputes identical
  * fractions. Rounding matches Spark `round(x, 6)` (HALF_UP).
  */
case class NgramRepFractions(child: Expression, topN: Int, dupN: Int)
    extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("top", DoubleType, nullable = false),
    StructField("dup", DoubleType, nullable = false)))
  override def prettyName: String = "ngram_rep_fractions"

  override def nullSafeEval(input: Any): Any =
    NgramRepFractions.compute(input.asInstanceOf[UTF8String], topN, dupN)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("ngramRep", NgramRepFractions,
        "graft.functions.NgramRepFractions$")
      s"${ev.value} = $ref.compute($c, $topN, $dupN);"
    })

  override protected def withNewChildInternal(newChild: Expression): NgramRepFractions =
    copy(child = newChild)
}

object NgramRepFractions {

  private def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Code-POINT length — Spark `length()` and DuckDB `length()` count
    * codepoints; Java String.length counts UTF-16 units and would
    * overweight supplementary-plane grams 2x.
    */
  private def cpLen(s: String): Int = s.codePointCount(0, s.length)

  /** Code-point lexicographic compare == UTF-8 byte order == the order
    * Spark's binary string sort and DuckDB `ORDER BY gram` use for the
    * argmax tie-break; Java compareTo (UTF-16 units) sorts
    * supplementary-plane grams BEFORE U+E000..U+FFFF ones.
    */
  private def cpCompare(a: String, b: String): Int = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  /** (gram -> count) over the token window joins; one map per n. */
  private def gramCounts(toks: Array[String], n: Int): java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    if (toks.length >= n) {
      val sb = new java.lang.StringBuilder()
      var i = 0
      while (i <= toks.length - n) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        m.merge(sb.toString, 1, (a, b) => a + b)
        i += 1
      }
    }
    m
  }

  /** Called from both eval and generated code. */
  def compute(text: UTF8String, topN: Int, dupN: Int): InternalRow = {
    val toks = PortableCase.canonToksJvm(text.toString)

    // top fraction: chars of the most frequent gram / all gram chars
    val tc = gramCounts(toks, topN)
    var topFrac = 0.0
    if (!tc.isEmpty) {
      var tot = 0L
      var bestCnt = 0
      var bestGram: String = null
      val it = tc.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val cnt = e.getValue.intValue()
        tot += cnt.toLong * cpLen(e.getKey)
        if (cnt > bestCnt ||
            (cnt == bestCnt && (bestGram == null || cpCompare(e.getKey, bestGram) < 0))) {
          bestCnt = cnt
          bestGram = e.getKey
        }
      }
      if (tot > 0) topFrac = round6(bestCnt.toLong * cpLen(bestGram) / tot.toDouble)
    }

    // dup fraction: chars of occurrences with count >= 2 / all gram chars
    val dc = gramCounts(toks, dupN)
    var dupFrac = 0.0
    var m = 0L
    var tot = 0L
    var dup = 0L
    val it = dc.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val cnt = e.getValue.intValue()
      val len = cpLen(e.getKey)
      m += cnt
      tot += cnt.toLong * len
      if (cnt >= 2) dup += cnt.toLong * len
    }
    if (m >= 2 && tot > 0) dupFrac = round6(dup / tot.toDouble)

    InternalRow(topFrac, dupFrac)
  }

  def of(text: Column, topN: Int, dupN: Int): Column =
    toColumn(NgramRepFractions(toExpression(text), topN, dupN))
}
