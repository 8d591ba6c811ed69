package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftbridge.CatalystBridge.{toColumn, toExpression}
import org.apache.spark.sql.types._
import org.apache.spark.types.variant.VariantUtil._
import org.apache.spark.unsafe.types.{UTF8String, VariantVal}

import graft.functions.ChGetters.ParseOpts
import graft.functions.VariantKindOps.{BoolK, Dec0K, DecFracK, FloatK, IntK, NullK, StrK}
import graft.types.ChKind

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
    * is a variant null, not a SQL NULL.
    */
  def field(v: VariantVal, key: Array[Byte]): VariantVal = {
    val at = locate(v.getValue, v.getMetadata, key)
    if (at < 0) null else valueAt(v.getValue, at, v.getMetadata)
  }

  /** A copy of the value at `at` of `value`, over the metadata `meta`. */
  def valueAt(value: Array[Byte], at: Int, meta: Array[Byte]): VariantVal =
    new VariantVal(java.util.Arrays.copyOfRange(value, at, at + valueSize(value, at)), meta)

  /** The offset in `value` of top-level field `key` (UTF-8), found in
    * place; -1 when the root is not an object or has no such key. The
    * scan is linear: a byte equality test is right for any key order (the
    * builder sorts by `String.compareTo`, not by bytes), and a probe that
    * fails on the key length costs less than the `String` a sorted probe
    * would decode.
    */
  def locate(value: Array[Byte], meta: Array[Byte], key: Array[Byte]): Int = {
    if ((value(0) & BASIC_TYPE_MASK) != OBJECT) return -1
    val obj = new ObjectLayout(value)
    val dict = new Dictionary(meta)
    var i = 0
    while (i < obj.size && !dict.keyEquals(obj.fieldId(i), key)) i += 1
    if (i == obj.size) -1 else obj.fieldOffset(i)
  }

  /** The payload of a string variant; NULL for every other type (the
    * getters read it only under a `StrK` guard).
    */
  def string(v: VariantVal): UTF8String = stringAt(v.getValue, 0)

  /** The payload of the string value at `pos` of `value`, over those
    * bytes; null when that value is not a string.
    */
  def stringAt(value: Array[Byte], pos: Int): UTF8String = {
    val h = value(pos)
    val basic = h & BASIC_TYPE_MASK
    val info = (h >> BASIC_TYPE_BITS) & TYPE_INFO_MASK
    if (basic == SHORT_STR) UTF8String.fromBytes(value, pos + 1, info)
    else if (basic == PRIMITIVE && info == LONG_STR)
      UTF8String.fromBytes(value, pos + 1 + U32_SIZE, readUnsigned(value, pos + 1, U32_SIZE))
    else null
  }

  /** Calls `f(key, at)` for each top-level member of `v`, in field order:
    * `key` is a view over `v`'s metadata (copy it to keep it) and `at` the
    * offset of the member's value in `v`'s value bytes. Nothing when `v`
    * is not an object.
    */
  def foreachMember(v: VariantVal)(f: (UTF8String, Int) => Unit): Unit = {
    val value = v.getValue
    if ((value(0) & BASIC_TYPE_MASK) != OBJECT) return
    val obj = new ObjectLayout(value)
    val dict = new Dictionary(v.getMetadata)
    var j = 0
    while (j < obj.size) {
      f(dict.key(obj.fieldId(j)), obj.fieldOffset(j))
      j += 1
    }
  }

  /** The header of an object value (variant spec: size, field ids, field
    * offsets, then the field values); callers check the basic type first.
    */
  private final class ObjectLayout(value: Array[Byte]) {
    private val info = (value(0) >> BASIC_TYPE_BITS) & TYPE_INFO_MASK
    private val sizeBytes = if (((info >> 4) & 1) != 0) U32_SIZE else 1
    private val idSize = ((info >> 2) & 3) + 1
    private val offSize = (info & 3) + 1
    val size: Int = readUnsigned(value, 1, sizeBytes)
    private val idStart = 1 + sizeBytes
    private val offStart = idStart + size * idSize
    private val dataStart = offStart + (size + 1) * offSize

    def fieldId(i: Int): Int = readUnsigned(value, idStart + i * idSize, idSize)

    def fieldOffset(i: Int): Int = dataStart + readUnsigned(value, offStart + i * offSize, offSize)
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
  private val keyBytes = key.getBytes(UTF_8)
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

/** The tolerant getter of one scalar ClickHouse kind (F1-F9 in
  * [[ChGetters]]), read in place: at top-level `key` of a parsed message,
  * or at the root of a variant when `key` is None. A read finds its value
  * as an offset into the variant's value bytes ([[VariantAccessOps.locate]],
  * no field copy), switches once on that value's kind tag
  * ([[VariantKindOps.kindAt]]) and returns the getter's result unboxed.
  * A SQL NULL variant, a missing key and a JSON null are all "no value":
  * the kind's default, or NULL for a Nullable dim.
  *
  * A read with a primitive result records in `missed` whether it fell
  * back to the default (the `ResultSet.wasNull` pattern); for a Nullable
  * dim the generated code reads it right after the call. Each task
  * deserializes its own copy of the plan's reads, so the flag is never
  * shared between threads, as with [[AutoTimestamp]]'s layout cache.
  */
sealed abstract class ScalarRead(key: Option[String]) extends Serializable {
  def nullable: Boolean
  def dataType: DataType
  /** The result for interpreted evaluation: boxed, or null. */
  def eval(v: VariantVal): Any

  private val keyBytes = key.map(_.getBytes(UTF_8)).orNull

  /** Offset of the value read in `v`'s value bytes; -1 when there is none. */
  protected final def at(v: VariantVal): Int =
    if (v == null) -1
    else if (keyBytes == null) 0
    else VariantAccessOps.locate(v.getValue, v.getMetadata, keyBytes)

  protected final def kindOf(v: VariantVal, at: Int): Int =
    if (at < 0) NullK else VariantKindOps.kindAt(v.getValue, at)
}

object ScalarRead {
  private val LongMax = java.math.BigDecimal.valueOf(Long.MaxValue)
  private val MaxUint64 = new java.math.BigDecimal("18446744073709551615")
  val TwoPow32 = 4294967296.0

  def apply(key: Option[String], kind: ChKind, nullable: Boolean, opts: ParseOpts,
      dt64Precision: Int): ScalarRead = kind match {
    case ChKind.Bool     => BoolRead(key, nullable)
    case ChKind.Int8     => SignedRead(key, nullable, ByteType, Byte.MinValue, Byte.MaxValue)
    case ChKind.Int16    => SignedRead(key, nullable, ShortType, Short.MinValue, Short.MaxValue)
    case ChKind.Int32    => SignedRead(key, nullable, IntegerType, Int.MinValue, Int.MaxValue)
    case ChKind.Int64    => SignedRead(key, nullable, LongType, Long.MinValue, Long.MaxValue)
    case ChKind.UInt8    => UnsignedRead(key, nullable, ShortType, 255L)
    case ChKind.UInt16   => UnsignedRead(key, nullable, IntegerType, 65535L)
    case ChKind.UInt32   => UnsignedRead(key, nullable, LongType, 4294967295L)
    case ChKind.UInt64   => UInt64Read(key, nullable)
    case ChKind.Float32  => FloatRead(key, nullable, FloatType, Float.MaxValue.toDouble)
    case ChKind.Float64  => FloatRead(key, nullable, DoubleType, Double.MaxValue)
    case ChKind.Decimal  => DecimalRead(key, nullable)
    case ChKind.DateTime => DateTimeRead(key, nullable,
      if (dt64Precision > 0) math.pow(10.0, -dt64Precision) else opts.timeUnit, opts.timeZone)
    case ChKind.Str      => StringRead(key, nullable)
    case ChKind.IPv4     => IpRead(key, nullable, v4 = true)
    case ChKind.IPv6     => IpRead(key, nullable, v4 = false)
    case ChKind.Obj | ChKind.MapK =>
      throw new IllegalArgumentException(s"not a scalar kind: $kind")
  }

  def isNumber(kind: Int): Boolean =
    kind == IntK || kind == FloatK || kind == Dec0K || kind == DecFracK

  /** A number as `try_variant_get(_, "$", "double")` reads it. */
  def number(value: Array[Byte], at: Int, kind: Int): Double = kind match {
    case IntK   => getLong(value, at).toDouble
    case FloatK =>
      if (getType(value, at) == Type.FLOAT) getFloat(value, at).toDouble
      else getDouble(value, at)
    case _      => getDecimalWithOriginalScale(value, at).doubleValue
  }

  /** A zero-scale decimal that Go's Uint64() accepts: (int64 max, 2^64 - 1]. */
  def uint64Literal(value: Array[Byte], at: Int): java.math.BigDecimal = {
    val d = getDecimalWithOriginalScale(value, at)
    if (d.compareTo(LongMax) > 0 && d.compareTo(MaxUint64) <= 0) d else null
  }

  /** Any value's JSON text, as `to_json` writes the variant. */
  def json(v: VariantVal, at: Int): UTF8String = UTF8String.fromString(
    VariantAccessOps.valueAt(v.getValue, at, v.getMetadata).toJson(java.time.ZoneOffset.UTC))

  def defaultString(nullable: Boolean): UTF8String =
    if (nullable) null else UTF8String.EMPTY_UTF8
}

/** A read with a primitive result; see `missed` on [[ScalarRead]]. */
sealed abstract class PrimitiveRead(key: Option[String]) extends ScalarRead(key) {
  @transient protected var miss: Boolean = false
  /** Whether the last read gave the default (NULL for a Nullable dim). */
  final def missed: Boolean = miss
  protected final def orNull(x: Any): Any = if (nullable && miss) null else x
}

/** F1: strict bool, only JSON true/false. */
final case class BoolRead(key: Option[String], nullable: Boolean) extends PrimitiveRead(key) {
  def dataType: DataType = BooleanType
  def read(v: VariantVal): Boolean = {
    val at = this.at(v)
    miss = kindOf(v, at) != BoolK
    !miss && getBoolean(v.getValue, at)
  }
  def eval(v: VariantVal): Any = orNull(read(v))
}

/** A read whose integer result narrows to `dataType` (the generated code
  * casts the long).
  */
sealed abstract class IntegralRead(key: Option[String]) extends PrimitiveRead(key) {
  def read(v: VariantVal): Long
  def eval(v: VariantVal): Any = {
    val x = read(v)
    orNull(dataType match {
      case ByteType    => x.toByte
      case ShortType   => x.toShort
      case IntegerType => x.toInt
      case _           => x
    })
  }
}

/** F2: signed integer clamped to [min, max]; bool -> 0/1; float syntax
  * and big integer literals rejected (Go's Int64(), fastjson.go:129-151).
  */
final case class SignedRead(key: Option[String], nullable: Boolean, dataType: DataType,
    min: Long, max: Long) extends IntegralRead(key) {
  def read(v: VariantVal): Long = {
    val at = this.at(v)
    miss = false
    kindOf(v, at) match {
      case BoolK => if (getBoolean(v.getValue, at)) 1L else 0L
      case IntK  => math.max(math.min(getLong(v.getValue, at), max), min)
      case _     => miss = true; 0L
    }
  }
}

/** F3: unsigned integer clamped at `max` (UInt8-UInt32); bool -> 0/1;
  * negatives, float syntax and literals past 2^64 - 1 rejected, like Go's
  * Uint64() error path.
  */
final case class UnsignedRead(key: Option[String], nullable: Boolean, dataType: DataType,
    max: Long) extends IntegralRead(key) {
  def read(v: VariantVal): Long = {
    val at = this.at(v)
    miss = false
    kindOf(v, at) match {
      case BoolK => if (getBoolean(v.getValue, at)) 1L else 0L
      case IntK  =>
        val l = getLong(v.getValue, at)
        if (l >= 0) math.min(l, max) else { miss = true; 0L }
      case Dec0K if ScalarRead.uint64Literal(v.getValue, at) != null => max
      case _     => miss = true; 0L
    }
  }
}

/** F3 for UInt64, as DECIMAL(20, 0): every int64 >= 0 and every literal
  * up to 2^64 - 1.
  */
final case class UInt64Read(key: Option[String], nullable: Boolean) extends ScalarRead(key) {
  def dataType: DataType = DecimalType(20, 0)
  def read(v: VariantVal): Decimal = {
    val at = this.at(v)
    val d = kindOf(v, at) match {
      case BoolK => Decimal(if (getBoolean(v.getValue, at)) 1L else 0L)
      case IntK  =>
        val l = getLong(v.getValue, at)
        if (l >= 0) Decimal(l) else null
      case Dec0K =>
        val big = ScalarRead.uint64Literal(v.getValue, at)
        if (big != null) Decimal(big) else null
      case _     => null
    }
    if (d != null || nullable) d else Decimal(0L)
  }
  def eval(v: VariantVal): Any = read(v)
}

/** F4: any number as a double, clamped at +max (fastjson.go:175-188);
  * bools and strings rejected.
  */
final case class FloatRead(key: Option[String], nullable: Boolean, dataType: DataType,
    max: Double) extends PrimitiveRead(key) {
  def read(v: VariantVal): Double = {
    val at = this.at(v)
    val k = kindOf(v, at)
    miss = !ScalarRead.isNumber(k)
    if (miss) 0.0 else math.min(ScalarRead.number(v.getValue, at, k), max)
  }
  def eval(v: VariantVal): Any = {
    val x = read(v)
    orNull(if (dataType == FloatType) x.toFloat else x)
  }
}

/** F5: any number through its double (decimal.NewFromFloat parity) as
  * DECIMAL(38, 9); NULL when the double does not fit.
  */
final case class DecimalRead(key: Option[String], nullable: Boolean) extends ScalarRead(key) {
  def dataType: DataType = DecimalType(38, 9)
  def read(v: VariantVal): Decimal = {
    val at = this.at(v)
    val k = kindOf(v, at)
    if (!ScalarRead.isNumber(k)) { if (nullable) null else Decimal(0L, 38, 9) }
    else {
      // the double -> DECIMAL(38, 9) cast: round half up, NULL on overflow
      // and on +-Infinity (a number past the double range parses to one)
      val x = ScalarRead.number(v.getValue, at, k)
      if (x.isInfinite) null
      else {
        val d = Decimal(x)
        if (d.changePrecision(38, 9)) d else null
      }
    }
  }
  def eval(v: VariantVal): Any = read(v)
}

/** F7/F8: an epoch number scaled by `unit` (out of [0, 2^32) -> Epoch),
  * or a date string through this column's [[AutoTimestamp]] (its
  * per-field layout cache); anything else, an empty or unparseable
  * string -> Epoch.
  */
final case class DateTimeRead(key: Option[String], nullable: Boolean, unit: Double,
    zone: String) extends PrimitiveRead(key) {
  private val layouts = AutoTimestamp(Literal(null, StringType), zone)
  def dataType: DataType = TimestampType
  def read(v: VariantVal): Long = {
    val at = this.at(v)
    val k = kindOf(v, at)
    miss = false
    if (ScalarRead.isNumber(k)) {
      val sec = ScalarRead.number(v.getValue, at, k) * unit
      if (sec < 0.0 || sec >= ScalarRead.TwoPow32) 0L else (sec * 1000000L).toLong
    } else {
      val micros =
        if (k == StrK) layouts.parseMicros(VariantAccessOps.stringAt(v.getValue, at)) else null
      if (micros == null) { miss = true; 0L } else micros.longValue
    }
  }
  def eval(v: VariantVal): Any = orNull(read(v))
}

/** F6: a string as-is; any other value as its JSON text (fastjson.go:712-728). */
final case class StringRead(key: Option[String], nullable: Boolean) extends ScalarRead(key) {
  def dataType: DataType = StringType
  def read(v: VariantVal): UTF8String = {
    val at = this.at(v)
    kindOf(v, at) match {
      case StrK  => VariantAccessOps.stringAt(v.getValue, at)
      case NullK => ScalarRead.defaultString(nullable)
      case _     => ScalarRead.json(v, at)
    }
  }
  def eval(v: VariantVal): Any = read(v)
}

/** F9: a valid IP string of either family kept (Go net.ParseIP), any
  * other value the zero IP; IPv4 also takes a uint32 as a dotted quad.
  */
final case class IpRead(key: Option[String], nullable: Boolean, v4: Boolean)
    extends ScalarRead(key) {
  private val zero = UTF8String.fromString(if (v4) "0.0.0.0" else "::")
  def dataType: DataType = StringType
  def read(v: VariantVal): UTF8String = {
    val at = this.at(v)
    kindOf(v, at) match {
      case StrK  =>
        val s = VariantAccessOps.stringAt(v.getValue, at)
        if (IpUtil.isValidIp(s.toString)) s else zero
      case IntK if v4 =>
        val l = getLong(v.getValue, at)
        val u = if (l >= 0) math.min(l, 4294967295L) else 0L
        UTF8String.fromString(s"${(u >> 24) & 255}.${(u >> 16) & 255}.${(u >> 8) & 255}.${u & 255}")
      case NullK => ScalarRead.defaultString(nullable)
      case _     => zero
    }
  }
  def eval(v: VariantVal): Any = read(v)
}

/** A [[ScalarRead]] over a variant column. The generated code is one call
  * (plus the `missed` test for a Nullable primitive), so a projection of
  * many dims stays small enough for the JIT to compile.
  */
case class VariantRead(child: Expression, read: ScalarRead) extends UnaryExpression {
  override def dataType: DataType = read.dataType
  override def nullable: Boolean = true
  override def prettyName: String = "variant_read"

  override def eval(input: InternalRow): Any =
    read.eval(child.eval(input).asInstanceOf[VariantVal])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val r = ctx.addReferenceObj("read", read, read.getClass.getName)
    val c = child.genCode(ctx)
    val jt = CodeGenerator.javaType(dataType)
    val call = code"""
      |${c.code}
      |$jt ${ev.value} = ($jt) $r.read(${c.isNull} ? null : ${c.value});""".stripMargin
    val isNull = read match {
      case p: PrimitiveRead => if (p.nullable) s"$r.missed()" else ""
      case _                => s"${ev.value} == null"
    }
    if (isNull.isEmpty) ev.copy(code = call, isNull = FalseLiteral)
    else ev.copy(code = code"""
      |$call
      |boolean ${ev.isNull} = $isNull;""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): VariantRead =
    copy(child = newChild)
}

object VariantAccess {
  /** Top-level field `key` of the parsed message as a variant (missing ->
    * NULL), read in place from the message's bytes.
    */
  def field(msg: Column, key: String): Column = toColumn(VariantField(toExpression(msg), key))
  def string(f: Column): Column = toColumn(VariantString(toExpression(f)))

  /** The tolerant getter of scalar `kind`, read in place at top-level
    * `key` of `v`, or at `v`'s root when `key` is None: see [[ScalarRead]].
    */
  def read(v: Column, key: Option[String], kind: ChKind, nullable: Boolean,
      opts: ParseOpts, dt64Precision: Int): Column =
    toColumn(VariantRead(toExpression(v),
      ScalarRead(key, kind, nullable, opts, dt64Precision)))
}
