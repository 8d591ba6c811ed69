package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.CatalystBridge.{toColumn, toExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** All character k-gram positions of a document as 128-bit Karp-Rabin
  * rolling hashes — the gram-generation kernel for exact-substring
  * dedup (Lee et al., "Deduplicating Training Data Makes Language
  * Models Better": shared-span detection at corpus scale).
  *
  * ONE scan-local pass per document: two independent polynomial rolling
  * hashes over Unicode CODE POINTS (so positions agree with both Spark's
  * `substring` and DuckDB's `substr`, which index by code point, not
  * UTF-16 unit), O(len) total versus the O(len·k) of hashing each
  * `substring(text, i, k)` separately. Emitting 16 hash bytes per gram
  * instead of the k-char gram itself is what makes the downstream
  * shuffle affordable: the exchange carries ~16 bytes/gram, not ~k
  * bytes, and the pair verdicts are re-verified against the real text
  * afterwards so hash width never affects correctness of positives.
  */
case class CharGramHashes(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, s"gram width must be positive, got $k")

  override def dataType: DataType = CharGramHashes.outType
  override def prettyName: String = "char_gram_hashes"

  override def nullSafeEval(input: Any): Any =
    CharGramHashes.compute(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CharGramHashes.compute($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): CharGramHashes =
    copy(child = newChild)
}

object CharGramHashes {

  val outType: DataType = ArrayType(
    StructType(Seq(
      StructField("h1", LongType, nullable = false),
      StructField("h2", LongType, nullable = false))),
    containsNull = false)

  // independent odd bases; collisions must be independent across the two
  // streams for the 2^-128 combined bound
  private val B1 = 0x100000001b3L
  private val B2 = 6364136223846793005L

  def compute(text: UTF8String, k: Int): ArrayData = {
    val cp = text.toString.codePoints().toArray
    val n = cp.length
    if (n < k) return new GenericArrayData(Array.empty[Any])
    var pow1 = 1L; var pow2 = 1L
    var j = 0
    while (j < k - 1) { pow1 *= B1; pow2 *= B2; j += 1 }
    var h1 = 0L; var h2 = 0L
    j = 0
    while (j < k) { h1 = h1 * B1 + cp(j); h2 = h2 * B2 + cp(j); j += 1 }
    val out = new Array[Any](n - k + 1)
    out(0) = new GenericInternalRow(Array[Any](h1, h2))
    var i = 1
    while (i <= n - k) {
      h1 = (h1 - cp(i - 1) * pow1) * B1 + cp(i + k - 1)
      h2 = (h2 - cp(i - 1) * pow2) * B2 + cp(i + k - 1)
      out(i) = new GenericInternalRow(Array[Any](h1, h2))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Winnowed selection (Schleimer et al., MOSS): of each window of `w`
    * consecutive gram positions keep the (rightmost) minimum-h1 one —
    * ~2/(w+1) of the grams, alignment-invariant because selection
    * depends only on gram CONTENT hashes. Guarantee: two documents
    * sharing a span of ≥ k+w-1 characters share at least one selected
    * gram. This is the 100 TB density knob: the gram exchange shrinks
    * ~w/2× while shared-span detection stays deterministic above the
    * k+w-1 threshold.
    */
  def winnow(text: UTF8String, k: Int, w: Int): ArrayData = {
    val all = compute(text, k)
    val n = all.numElements()
    if (n == 0) return all
    if (n <= w) {
      // single window: keep just its minimum
      var best = 0; var i = 1
      while (i < n) {
        if (le(all, i, best)) best = i
        i += 1
      }
      return new GenericArrayData(Array[Any](
        new GenericInternalRow(Array[Any](all.getStruct(best, 2).getLong(0),
          all.getStruct(best, 2).getLong(1), best.toLong))))
    }
    val sel = scala.collection.mutable.ArrayBuffer.empty[Int]
    var best = -1
    var start = 0
    while (start + w <= n) {
      if (best < start) {
        best = start; var i = start + 1
        while (i < start + w) { if (le(all, i, best)) best = i; i += 1 }
        sel += best
      } else {
        val incoming = start + w - 1
        if (le(all, incoming, best)) { best = incoming; sel += best }
      }
      start += 1
    }
    new GenericArrayData(sel.map { i =>
      val s = all.getStruct(i, 2)
      new GenericInternalRow(Array[Any](s.getLong(0), s.getLong(1), i.toLong)): Any
    }.toArray)
  }

  // rightmost-min tie rule: <= so a later equal hash replaces the champion
  private def le(a: ArrayData, i: Int, j: Int): Boolean = {
    val x = a.getStruct(i, 2).getLong(0)
    val y = a.getStruct(j, 2).getLong(0)
    java.lang.Long.compareUnsigned(x, y) <= 0
  }

  val winnowType: DataType = ArrayType(
    StructType(Seq(
      StructField("h1", LongType, nullable = false),
      StructField("h2", LongType, nullable = false),
      StructField("p0", LongType, nullable = false))),
    containsNull = false)

  def of(text: Column, k: Int): Column = toColumn(CharGramHashes(toExpression(text), k))

  def winnowed(text: Column, k: Int, w: Int): Column =
    toColumn(WinnowedGramHashes(toExpression(text), k, w))

  /** [[winnow]] deduplicated IN THE KERNEL: one (h1, h2, p0) witness per
    * distinct selected gram fingerprint, at its minimum position —
    * exactly the `groupBy(id, h1, h2).agg(min(pos))` witness set, but
    * O(selected) scan-local work per document instead of a corpus-sized
    * exchange of ~unique keys (whose partial aggregation can combine
    * nothing and whose hash maps overflow — measured ~15 GB of
    * aggregate spill at 5M docs). Selection order is position order, so
    * keep-first IS keep-minimum-position.
    */
  def winnowDistinct(text: UTF8String, k: Int, w: Int): ArrayData =
    dedupByHash(winnow(text, k, w))

  /** [[compute]] (every gram position) deduplicated in the kernel the
    * same way — the dense-path twin of [[winnowDistinct]], one
    * (h1, h2, p0) witness per distinct gram at its minimum position.
    */
  def allDistinct(text: UTF8String, k: Int): ArrayData = {
    val all = compute(text, k)
    val n = all.numElements()
    val out = new scala.collection.mutable.ArrayBuffer[Any](n)
    val seen = scala.collection.mutable.HashSet.empty[(Long, Long)]
    var i = 0
    while (i < n) {
      val s = all.getStruct(i, 2)
      if (seen.add((s.getLong(0), s.getLong(1))))
        out += new GenericInternalRow(
          Array[Any](s.getLong(0), s.getLong(1), i.toLong))
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Keep-first per (h1, h2) over an already-position-ordered
    * (h1, h2, p0) array — keep-first IS minimum position. Membership is
    * on the exact 128-bit pair: a mixed single-long key could merge two
    * distinct grams and silently drop a witness.
    */
  private def dedupByHash(sel: ArrayData): ArrayData = {
    val n = sel.numElements()
    if (n <= 1) return sel
    val seen = scala.collection.mutable.HashSet.empty[(Long, Long)]
    val out = new scala.collection.mutable.ArrayBuffer[Any](n)
    var i = 0
    while (i < n) {
      val s = sel.getStruct(i, 3)
      if (seen.add((s.getLong(0), s.getLong(1))))
        out += new GenericInternalRow(
          Array[Any](s.getLong(0), s.getLong(1), s.getLong(2)))
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  def winnowedDistinct(text: Column, k: Int, w: Int): Column =
    toColumn(WinnowedDistinctGramHashes(toExpression(text), k, w))

  def ofDistinct(text: Column, k: Int): Column =
    toColumn(DistinctGramHashes(toExpression(text), k))
}

/** [[CharGramHashes.winnow]] as an expression: the selected gram
  * fingerprints of a document, each with its 0-based start position.
  */
case class WinnowedGramHashes(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  require(k >= 1 && w >= 1, s"need k,w >= 1, got k=$k w=$w")

  override def dataType: DataType = CharGramHashes.winnowType
  override def prettyName: String = "winnowed_gram_hashes"

  override def nullSafeEval(input: Any): Any =
    CharGramHashes.winnow(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CharGramHashes.winnow($c, $k, $w)")

  override protected def withNewChildInternal(newChild: Expression): WinnowedGramHashes =
    copy(child = newChild)
}

/** [[CharGramHashes.winnowDistinct]] as an expression: one witness per
  * distinct selected gram fingerprint at its minimum position — the
  * exact-substring witness normal form, produced scan-locally.
  */
case class WinnowedDistinctGramHashes(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  require(k >= 1 && w >= 1, s"need k,w >= 1, got k=$k w=$w")

  override def dataType: DataType = CharGramHashes.winnowType
  override def prettyName: String = "winnowed_distinct_gram_hashes"

  override def nullSafeEval(input: Any): Any =
    CharGramHashes.winnowDistinct(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.CharGramHashes.winnowDistinct($c, $k, $w)")

  override protected def withNewChildInternal(
      newChild: Expression): WinnowedDistinctGramHashes =
    copy(child = newChild)
}

/** [[CharGramHashes.allDistinct]] as an expression: every-gram density,
  * one witness per distinct gram fingerprint at its minimum position.
  */
case class DistinctGramHashes(child: Expression, k: Int)
    extends UnaryExpression {
  require(k >= 1, s"gram width must be positive, got $k")

  override def dataType: DataType = CharGramHashes.winnowType
  override def prettyName: String = "distinct_gram_hashes"

  override def nullSafeEval(input: Any): Any =
    CharGramHashes.allDistinct(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.CharGramHashes.allDistinct($c, $k)")

  override protected def withNewChildInternal(
      newChild: Expression): DistinctGramHashes =
    copy(child = newChild)
}
