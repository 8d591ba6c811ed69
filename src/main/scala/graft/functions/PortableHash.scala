package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.CatalystBridge.{toColumn, toExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Engine-portable 64-bit string hashes: the two little-endian halves of
  * the MD5 digest of the UTF-8 bytes. Used by the dedup operators
  * (minhash permutations, simhash token hashes) instead of XXH64 so the
  * correctness oracles can recompute the exact same values in plain SQL —
  * DuckDB's `md5_number_lower`/`md5_number_upper` are bit-identical to
  * [[lo]]/[[hi]] (verified by golden vectors in GoHashSpec).
  *
  * Codegen'd (thread-local digest, no per-row allocation beyond the
  * digest's own buffer), so signatures still compute inside whole-stage
  * codegen during the scan.
  */
object PortableHash {

  private val tl = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  private def leLong(d: Array[Byte], off: Int): Long = {
    var v = 0L
    var i = 7
    while (i >= 0) { v = (v << 8) | (d(off + i) & 0xffL); i -= 1 }
    v
  }

  /** Little-endian long of digest bytes 8..15 (= DuckDB md5_number_lower). */
  def lo(s: UTF8String): Long = {
    val md = tl.get(); md.reset()
    leLong(md.digest(s.getBytes), 8)
  }

  /** Little-endian long of digest bytes 0..7 (= DuckDB md5_number_upper). */
  def hi(s: UTF8String): Long = {
    val md = tl.get(); md.reset()
    leLong(md.digest(s.getBytes), 0)
  }

  case class Md5Half(child: Expression, upper: Boolean) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = if (upper) "md5_hi64" else "md5_lo64"

    private val fn = if (upper) "hi" else "lo"

    override def nullSafeEval(input: Any): Any = {
      val s = input.asInstanceOf[UTF8String]
      if (upper) hi(s) else lo(s)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.PortableHash.$fn($c)")

    override protected def withNewChildInternal(newChild: Expression): Md5Half =
      copy(child = newChild)
  }

  /** md5_number_lower(c) as a signed long column. */
  def md5Lo(c: Column): Column = toColumn(Md5Half(toExpression(c.cast("string")), upper = false))

  /** md5_number_upper(c) as a signed long column. */
  def md5Hi(c: Column): Column = toColumn(Md5Half(toExpression(c.cast("string")), upper = true))
}
