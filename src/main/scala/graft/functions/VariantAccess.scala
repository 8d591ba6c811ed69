package graft.functions

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData, MapData}
import org.apache.spark.sql.graftbridge.CatalystBridge.{toColumn, toExpression}
import org.apache.spark.sql.types.{DataType, MapType, StringType, VariantType}
import org.apache.spark.types.variant.VariantUtil._
import org.apache.spark.unsafe.types.{UTF8String, VariantVal}

/** Field and string access read straight from a parsed message's bytes.
  *
  * The built-in `try_variant_get(msg, "$.k", "variant")` rebuilds the
  * field through a fresh `VariantBuilder` (to strip unused metadata), and
  * `try_variant_get(f, "$", "string")` decodes the payload to a Java
  * `String` and re-encodes it. On the ingest path that is once per dim per
  * row. Here a field is a copy of its value bytes over the message's own
  * metadata, a string is a `UTF8String` over its payload, and a key probe
  * compares UTF-8 bytes with the metadata dictionary, never a `String`.
  * That also keeps the reads independent of the JVM default charset, with
  * which Spark 4.1.2 decodes variant keys and strings.
  */
object VariantAccessOps {

  /** Top-level field `key` (UTF-8) of `v`, sharing `v`'s metadata; null
    * when `v` is not an object or has no such key. A JSON `null` member
    * is a variant null, not a SQL NULL. The scan is linear: a byte
    * equality test is right for any key order (the builder sorts by
    * `String.compareTo`, not by bytes), and a probe that fails on the
    * key length costs less than the `String` a sorted probe would decode.
    */
  def field(v: VariantVal, key: Array[Byte]): VariantVal = {
    val obj = ObjectLayout(v.getValue)
    if (obj == null) return null
    val dict = new Dictionary(v.getMetadata)
    var i = 0
    while (i < obj.size && !dict.keyEquals(obj.fieldId(i), key)) i += 1
    if (i == obj.size) null else obj.fieldValue(i, v.getMetadata)
  }

  /** The payload of a string variant; NULL for every other type (the
    * getters read it only under a `StrK` guard).
    */
  def string(v: VariantVal): UTF8String = {
    val value = v.getValue
    val h = value(0)
    val basic = h & BASIC_TYPE_MASK
    val info = (h >> BASIC_TYPE_BITS) & TYPE_INFO_MASK
    if (basic == SHORT_STR) UTF8String.fromBytes(value, 1, info)
    else if (basic == PRIMITIVE && info == LONG_STR)
      UTF8String.fromBytes(value, 1 + U32_SIZE, readUnsigned(value, 1, U32_SIZE))
    else null
  }

  /** Top-level members of `v` whose key is not in `known`, as a key ->
    * field map in field order; null when `v` is not an object.
    */
  def newFields(v: VariantVal, known: java.util.Set[UTF8String]): MapData = {
    val value = v.getValue
    val meta = v.getMetadata
    val obj = ObjectLayout(value)
    if (obj == null) return null
    val dict = new Dictionary(meta)
    val keys = new java.util.ArrayList[UTF8String]()
    val vals = new java.util.ArrayList[VariantVal]()
    var j = 0
    while (j < obj.size) {
      val k = dict.key(obj.fieldId(j))
      if (!known.contains(k)) { keys.add(k); vals.add(obj.fieldValue(j, meta)) }
      j += 1
    }
    new ArrayBasedMapData(
      new GenericArrayData(keys.toArray), new GenericArrayData(vals.toArray))
  }

  /** The header of an object value (variant spec: size, field ids, field
    * offsets, then the field values).
    */
  private final class ObjectLayout(value: Array[Byte], val size: Int,
      idStart: Int, idSize: Int, offStart: Int, offSize: Int) {
    private val dataStart = offStart + (size + 1) * offSize

    def fieldId(i: Int): Int = readUnsigned(value, idStart + i * idSize, idSize)

    def fieldValue(i: Int, meta: Array[Byte]): VariantVal = {
      val start = dataStart + readUnsigned(value, offStart + i * offSize, offSize)
      new VariantVal(
        java.util.Arrays.copyOfRange(value, start, start + valueSize(value, start)), meta)
    }
  }

  private object ObjectLayout {
    def apply(value: Array[Byte]): ObjectLayout = {
      val h = value(0)
      if ((h & BASIC_TYPE_MASK) != OBJECT) return null
      val info = (h >> BASIC_TYPE_BITS) & TYPE_INFO_MASK
      val sizeBytes = if (((info >> 4) & 1) != 0) U32_SIZE else 1
      val idSize = ((info >> 2) & 3) + 1
      val offSize = (info & 3) + 1
      val size = readUnsigned(value, 1, sizeBytes)
      val idStart = 1 + sizeBytes
      new ObjectLayout(value, size, idStart, idSize, idStart + size * idSize, offSize)
    }
  }

  /** The metadata key dictionary (variant spec: header, dictionary size,
    * key offsets, then the key bytes).
    */
  private final class Dictionary(meta: Array[Byte]) {
    private val offSize = ((meta(0) >> 6) & 3) + 1
    private val offStart = 1 + offSize
    private val dataStart = offStart + (readUnsigned(meta, 1, offSize) + 1) * offSize

    private def start(id: Int): Int =
      dataStart + readUnsigned(meta, offStart + id * offSize, offSize)
    private def end(id: Int): Int = start(id + 1)

    def key(id: Int): UTF8String = {
      val s = start(id)
      UTF8String.fromBytes(meta, s, end(id) - s)
    }

    def keyEquals(id: Int, key: Array[Byte]): Boolean = {
      val s = start(id)
      end(id) - s == key.length &&
        java.util.Arrays.equals(meta, s, s + key.length, key, 0, key.length)
    }
  }
}

/** A call into [[VariantAccessOps]] on a non-null variant; the call
  * itself may return null. Generated code calls `call` on the expression.
  */
sealed abstract class VariantAccessCall extends UnaryExpression {
  def call(v: VariantVal): AnyRef

  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any = call(input.asInstanceOf[VariantVal])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("variantAccess", this, getClass.getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = (${CodeGenerator.javaType(dataType)}) $self.call($c);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }
}

/** `try_variant_get(msg, "$.<key>", "variant")` for a top-level `key`,
  * without the rebuild: see [[VariantAccessOps.field]].
  */
case class VariantField(child: Expression, key: String) extends VariantAccessCall {
  private val keyBytes = key.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  override def call(v: VariantVal): AnyRef = VariantAccessOps.field(v, keyBytes)
  override def dataType: DataType = VariantType
  override def prettyName: String = "variant_field"
  override protected def withNewChildInternal(newChild: Expression): VariantField =
    copy(child = newChild)
}

/** The payload of a string variant as a `UTF8String` over the variant's
  * bytes; NULL for any other type: see [[VariantAccessOps.string]].
  */
case class VariantString(child: Expression) extends VariantAccessCall {
  override def call(v: VariantVal): AnyRef = VariantAccessOps.string(v)
  override def dataType: DataType = StringType
  override def prettyName: String = "variant_string"
  override protected def withNewChildInternal(newChild: Expression): VariantString =
    copy(child = newChild)
}

/** The top-level members of `msg` whose key is not in `known`, as
  * `map<string, variant>`: see [[VariantAccessOps.newFields]].
  */
case class VariantNewFields(child: Expression, known: Set[String]) extends VariantAccessCall {
  private val knownSet: java.util.Set[UTF8String] =
    new java.util.HashSet(known.map(UTF8String.fromString).asJava)
  override def call(v: VariantVal): AnyRef = VariantAccessOps.newFields(v, knownSet)
  override def dataType: DataType = MapType(StringType, VariantType, valueContainsNull = false)
  override def prettyName: String = "variant_new_fields"
  override protected def withNewChildInternal(newChild: Expression): VariantNewFields =
    copy(child = newChild)
}

object VariantAccess {
  /** Top-level field `key` of the parsed message as a variant (missing ->
    * NULL), read in place from the message's bytes.
    */
  def field(msg: Column, key: String): Column = toColumn(VariantField(toExpression(msg), key))
  def string(f: Column): Column = toColumn(VariantString(toExpression(f)))
  def newFields(msg: Column, known: Set[String]): Column =
    toColumn(VariantNewFields(toExpression(msg), known))
}
