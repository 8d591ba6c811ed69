package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Coalesce, EvalMode,
  Expression, GenericInternalRow, Literal, Multiply, SecondsToTimestamp, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.graftbridge.CatalystBridge.{toColumn, toExpression}
import org.apache.spark.sql.types._
import org.apache.spark.types.variant.VariantUtil._
import org.apache.spark.unsafe.types.{UTF8String, VariantVal}

import graft.functions.ChGetters.ParseOpts
import graft.functions.VariantKindOps.{ArrK, BoolK, Dec0K, DecFracK, FloatK, IntK, NullK, ObjK, StrK}
import graft.types.{ChKind, ChTypeInfo}

/** In-place access to a parsed message's bytes: no value is copied or
  * rebuilt.
  *
  * The built-in `try_variant_get(msg, "$.k", "variant")` rebuilds the
  * field through a fresh `VariantBuilder` (to strip unused metadata), and
  * its `map<string,variant>` and `array<variant>` casts rebuild every
  * member. Here a value is an offset into the message's value bytes, a
  * string is a `UTF8String` over its payload, and a key probe compares
  * UTF-8 bytes with the metadata dictionary, never a `String`. That also
  * keeps the reads independent of the JVM default charset, with which
  * Spark 4.1.2 decodes variant keys and strings.
  */
object VariantAccessOps {

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
    val obj = new ObjectLayout(value, 0)
    val dict = new Dictionary(meta)
    var i = 0
    while (i < obj.size && !dict.keyEquals(obj.fieldId(i), key)) i += 1
    if (i == obj.size) -1 else obj.fieldOffset(i)
  }

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

  /** Calls `f(key, at)` for each member of the object at `pos` of `v`'s
    * value bytes, in stored order (sorted by key): `key` is a view over
    * `v`'s metadata (copy it to keep it) and `at` the offset of the
    * member's value. Nothing when that value is not an object.
    */
  def foreachMember(v: VariantVal, pos: Int)(f: (UTF8String, Int) => Unit): Unit = {
    val value = v.getValue
    if ((value(pos) & BASIC_TYPE_MASK) != OBJECT) return
    val obj = new ObjectLayout(value, pos)
    val dict = new Dictionary(v.getMetadata)
    var j = 0
    while (j < obj.size) {
      f(dict.key(obj.fieldId(j)), obj.fieldOffset(j))
      j += 1
    }
  }

  /** Calls `f(at)` with the offset of each element of the array at `pos`
    * of `value`, in order. Nothing when that value is not an array.
    */
  def foreachElement(value: Array[Byte], pos: Int)(f: Int => Unit): Unit = {
    if ((value(pos) & BASIC_TYPE_MASK) != ARRAY) return
    // variant spec: header, size, element offsets, then the elements
    val info = (value(pos) >> BASIC_TYPE_BITS) & TYPE_INFO_MASK
    val sizeBytes = if (((info >> 2) & 1) != 0) U32_SIZE else 1
    val offSize = (info & 3) + 1
    val size = readUnsigned(value, pos + 1, sizeBytes)
    val offStart = pos + 1 + sizeBytes
    val dataStart = offStart + (size + 1) * offSize
    var i = 0
    while (i < size) {
      f(dataStart + readUnsigned(value, offStart + i * offSize, offSize))
      i += 1
    }
  }

  /** The header of the object value at `pos` (variant spec: size, field
    * ids, field offsets, then the field values); callers check the basic
    * type first.
    */
  private final class ObjectLayout(value: Array[Byte], pos: Int) {
    private val info = (value(pos) >> BASIC_TYPE_BITS) & TYPE_INFO_MASK
    private val sizeBytes = if (((info >> 4) & 1) != 0) U32_SIZE else 1
    private val idSize = ((info >> 2) & 3) + 1
    private val offSize = (info & 3) + 1
    val size: Int = readUnsigned(value, pos + 1, sizeBytes)
    private val idStart = pos + 1 + sizeBytes
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

/** One JSON value as the typed reads see it, decoded once: its kind tag
  * ([[VariantKindOps]]) and its payload. It comes from a variant's bytes
  * ([[Decoded.load]]: map values, array elements, static fields, CSV's
  * embedded JSON) or from a message's JSON token ([[JsonDecoder]]); each
  * getter is written once, over this.
  *
  * `tree` is the value as a variant at offset `at` of its value bytes,
  * which maps, arrays, objects and a non-string's JSON text read; null
  * when the value was decoded from its token alone.
  */
final class Decoded {
  var kind: Int = NullK
  /** IntK's value; BoolK's as 1 or 0. */
  var long: Long = 0L
  /** FloatK's value. */
  var double: Double = 0.0
  /** Dec0K's and DecFracK's value, at the scale it was written with. */
  var decimal: java.math.BigDecimal = null
  /** StrK's UTF-8 payload. */
  var string: UTF8String = null
  var tree: VariantVal = null
  var at: Int = -1

  /** This, holding the value at `pos` of `v`'s value bytes (a null `v`
    * or `pos` -1: no value).
    */
  def load(v: VariantVal, pos: Int): Decoded = {
    tree = v
    at = pos
    kind = if (v == null || pos < 0) NullK else VariantKindOps.kindAt(v.getValue, pos)
    kind match {
      case BoolK => long = if (getBoolean(v.getValue, pos)) 1L else 0L
      case IntK  => long = getLong(v.getValue, pos)
      case FloatK =>
        double = if (getType(v.getValue, pos) == Type.FLOAT) getFloat(v.getValue, pos).toDouble
          else getDouble(v.getValue, pos)
      case Dec0K | DecFracK => decimal = getDecimalWithOriginalScale(v.getValue, pos)
      case StrK  => string = VariantAccessOps.stringAt(v.getValue, pos)
      case _     =>
    }
    this
  }

  /** A number as `try_variant_get(_, "$", "double")` reads it. */
  def number: Double = kind match {
    case IntK   => long.toDouble
    case FloatK => double
    case _      => decimal.doubleValue
  }

  def isNumber: Boolean = ScalarRead.isNumber(kind)
}

/** The tolerant getter of one ClickHouse type ([[ChGetters]]' F1-F12),
  * over a [[Decoded]] value. Over a variant it reads at top-level `key` of
  * a parsed message, or at the root when `key` is None: it finds its
  * value as an offset into the variant's value bytes
  * ([[VariantAccessOps.locate]], no field copy) and returns the getter's
  * result: unboxed from `read`, boxed (or null) from `evalAt`. Over a
  * message's tokens, [[JsonDecoder]] hands it the decoded value
  * (`evalDecoded`). A SQL NULL variant, a missing key and a JSON null are
  * all "no value": the kind's default, or NULL for a Nullable dim.
  *
  * `evalAt` reads the value at any offset of the variant's value bytes,
  * so map values and array elements ([[MapRead]], [[ArrayRead]]) are the
  * same reads, with no copy and no rebuild.
  */
sealed abstract class ValueRead(key: Option[String]) extends Serializable {
  def nullable: Boolean
  def dataType: DataType
  /** The result for `d`, boxed, or null. */
  def evalDecoded(d: Decoded): Any
  /** The result for the value at `at` of `v`'s value bytes (-1: no value),
    * boxed, or null.
    */
  def evalAt(v: VariantVal, at: Int): Any = evalDecoded(decodedAt(v, at))
  /** The result for interpreted evaluation: boxed, or null. */
  final def eval(v: VariantVal): Any = evalAt(v, offset(v))
  /** Bits of the kinds whose values this read takes from `Decoded.tree`:
    * a token decoder builds the variant of such a value.
    */
  def treeKinds: Int = 0

  private val keyBytes = key.map(_.getBytes(UTF_8)).orNull

  /** Offset of the value read in `v`'s value bytes; -1 when there is none. */
  protected final def offset(v: VariantVal): Int =
    if (v == null) -1
    else if (keyBytes == null) 0
    else VariantAccessOps.locate(v.getValue, v.getMetadata, keyBytes)

  protected final def decodedAt(v: VariantVal, at: Int): Decoded = new Decoded().load(v, at)

  protected final def kindOf(v: VariantVal, at: Int): Int =
    if (at < 0) NullK else VariantKindOps.kindAt(v.getValue, at)
}

object ValueRead {
  /** The read of `ti`: a map, an array (of non-Nullable elements), an
    * Object('json') or a scalar.
    */
  def apply(key: Option[String], ti: ChTypeInfo, opts: ParseOpts): ValueRead =
    if (ti.kind == ChKind.MapK) {
      val keyTi = ti.mapKey.getOrElse(ChTypeInfo(ChKind.Str))
      MapRead(key, ChTypeInfo(keyTi.kind).elementSparkType, MapRead.keyConversion(keyTi.kind, opts),
        ValueRead(None, ti.mapValue.getOrElse(ChTypeInfo(ChKind.Str)), opts))
    } else if (ti.array) ArrayRead(key, ValueRead(None, ti.copy(array = false, nullable = false), opts))
    else if (ti.kind == ChKind.Obj) ObjectRead(key)
    else ScalarRead(key, ti.kind, ti.nullable, opts, ti.dateTime64Precision)
}

/** The read of one scalar kind (F1-F9). */
sealed abstract class ScalarRead(key: Option[String]) extends ValueRead(key)

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

  /** A zero-scale decimal that Go's Uint64() accepts: (int64 max, 2^64 - 1]. */
  def uint64Literal(d: java.math.BigDecimal): java.math.BigDecimal =
    if (d.compareTo(LongMax) > 0 && d.compareTo(MaxUint64) <= 0) d else null

  /** Any value's JSON text, as `to_json` writes the variant. */
  def json(v: VariantVal, at: Int): UTF8String = UTF8String.fromString(
    VariantAccessOps.valueAt(v.getValue, at, v.getMetadata).toJson(java.time.ZoneOffset.UTC))

  def defaultString(nullable: Boolean): UTF8String =
    if (nullable) null else UTF8String.EMPTY_UTF8
}

/** A read with a primitive result. It records in `missed` whether it fell
  * back to the default (the `ResultSet.wasNull` pattern); for a Nullable
  * dim the generated code reads it right after the call. Each task
  * deserializes its own copy of the plan's reads, so the flag is never
  * shared between threads, as with [[AutoTimestamp]]'s layout cache.
  */
sealed abstract class PrimitiveRead(key: Option[String]) extends ScalarRead(key) {
  @transient protected var miss: Boolean = false
  /** Whether the last read gave the default (NULL for a Nullable dim). */
  final def missed: Boolean = miss
  protected final def orNull(x: Any): Any = if (nullable && miss) null else x
}

/** F1: strict bool, only JSON true/false. */
final case class BoolRead(key: Option[String], nullable: Boolean) extends PrimitiveRead(key) {
  def dataType: DataType = BooleanType
  def read(v: VariantVal): Boolean = get(decodedAt(v, offset(v)))
  def get(d: Decoded): Boolean = {
    miss = d.kind != BoolK
    !miss && d.long != 0L
  }
  def evalDecoded(d: Decoded): Any = orNull(get(d))
}

/** A read whose integer result narrows to `dataType` (the generated code
  * casts the long).
  */
sealed abstract class IntegralRead(key: Option[String]) extends PrimitiveRead(key) {
  final def read(v: VariantVal): Long = get(decodedAt(v, offset(v)))
  def get(d: Decoded): Long
  def evalDecoded(d: Decoded): Any = {
    val x = get(d)
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
  def get(d: Decoded): Long = {
    miss = false
    d.kind match {
      case BoolK => d.long
      case IntK  => math.max(math.min(d.long, max), min)
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
  def get(d: Decoded): Long = {
    miss = false
    d.kind match {
      case BoolK => d.long
      case IntK  => if (d.long >= 0) math.min(d.long, max) else { miss = true; 0L }
      case Dec0K if ScalarRead.uint64Literal(d.decimal) != null => max
      case _     => miss = true; 0L
    }
  }
}

/** F3 for UInt64, as DECIMAL(20, 0): every int64 >= 0 and every literal
  * up to 2^64 - 1.
  */
final case class UInt64Read(key: Option[String], nullable: Boolean) extends ScalarRead(key) {
  def dataType: DataType = DecimalType(20, 0)
  def read(v: VariantVal): Decimal = get(decodedAt(v, offset(v)))
  def get(d: Decoded): Decimal = {
    val x = d.kind match {
      case BoolK => Decimal(d.long)
      case IntK  => if (d.long >= 0) Decimal(d.long) else null
      case Dec0K =>
        val big = ScalarRead.uint64Literal(d.decimal)
        if (big != null) Decimal(big) else null
      case _     => null
    }
    if (x != null || nullable) x else Decimal(0L)
  }
  def evalDecoded(d: Decoded): Any = get(d)
}

/** F4: any number as a double, clamped at +max (fastjson.go:175-188);
  * bools and strings rejected.
  */
final case class FloatRead(key: Option[String], nullable: Boolean, dataType: DataType,
    max: Double) extends PrimitiveRead(key) {
  def read(v: VariantVal): Double = get(decodedAt(v, offset(v)))
  def get(d: Decoded): Double = {
    miss = !d.isNumber
    if (miss) 0.0 else math.min(d.number, max)
  }
  def evalDecoded(d: Decoded): Any = {
    val x = get(d)
    orNull(if (dataType == FloatType) x.toFloat else x)
  }
}

/** F5: any number through its double (decimal.NewFromFloat parity) as
  * DECIMAL(38, 9); NULL when the double does not fit.
  */
final case class DecimalRead(key: Option[String], nullable: Boolean) extends ScalarRead(key) {
  def dataType: DataType = DecimalType(38, 9)
  def read(v: VariantVal): Decimal = get(decodedAt(v, offset(v)))
  def get(d: Decoded): Decimal =
    if (!d.isNumber) { if (nullable) null else Decimal(0L, 38, 9) }
    else {
      // the double -> DECIMAL(38, 9) cast: round half up, NULL on overflow
      // and on +-Infinity (a number past the double range parses to one)
      val x = d.number
      if (x.isInfinite) null
      else {
        val dec = Decimal(x)
        if (dec.changePrecision(38, 9)) dec else null
      }
    }
  def evalDecoded(d: Decoded): Any = get(d)
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
  def read(v: VariantVal): Long = get(decodedAt(v, offset(v)))
  def get(d: Decoded): Long = {
    miss = false
    if (d.isNumber) {
      val sec = d.number * unit
      if (sec < 0.0 || sec >= ScalarRead.TwoPow32) 0L else (sec * 1000000L).toLong
    } else {
      val micros = if (d.kind == StrK) layouts.parseMicros(d.string) else null
      if (micros == null) { miss = true; 0L } else micros.longValue
    }
  }
  def evalDecoded(d: Decoded): Any = orNull(get(d))
}

/** F6: a string as-is; any other value as its JSON text (fastjson.go:712-728). */
final case class StringRead(key: Option[String], nullable: Boolean) extends ScalarRead(key) {
  def dataType: DataType = StringType
  def read(v: VariantVal): UTF8String = get(decodedAt(v, offset(v)))
  def get(d: Decoded): UTF8String = d.kind match {
    case StrK  => d.string
    case NullK => ScalarRead.defaultString(nullable)
    case _     => ScalarRead.json(d.tree, d.at)
  }
  def evalDecoded(d: Decoded): Any = get(d)
  override def treeKinds: Int = ~((1 << StrK) | (1 << NullK))
}

/** F9: a valid IP string of either family kept (Go net.ParseIP), any
  * other value the zero IP; IPv4 also takes a uint32 as a dotted quad.
  */
final case class IpRead(key: Option[String], nullable: Boolean, v4: Boolean)
    extends ScalarRead(key) {
  private val zero = UTF8String.fromString(if (v4) "0.0.0.0" else "::")
  def dataType: DataType = StringType
  def read(v: VariantVal): UTF8String = get(decodedAt(v, offset(v)))
  def get(d: Decoded): UTF8String = d.kind match {
    case StrK  => if (IpUtil.isValidIp(d.string.toString)) d.string else zero
    case IntK if v4 =>
      val u = if (d.long >= 0) math.min(d.long, 4294967295L) else 0L
      UTF8String.fromString(s"${(u >> 24) & 255}.${(u >> 16) & 255}.${(u >> 8) & 255}.${u & 255}")
    case NullK => ScalarRead.defaultString(nullable)
    case _     => zero
  }
  def evalDecoded(d: Decoded): Any = get(d)
}

/** A read of a JSON container: its value is the variant subtree
  * (`Decoded.tree`) of a value of kind `treeKind`.
  */
sealed abstract class ContainerRead(key: Option[String], treeKind: Int) extends ValueRead(key) {
  def readAt(v: VariantVal, at: Int): Any
  override def evalAt(v: VariantVal, at: Int): Any = readAt(v, at)
  def evalDecoded(d: Decoded): Any = readAt(d.tree, if (d.tree == null) -1 else d.at)
  override def treeKinds: Int = 1 << treeKind
}

/** F10: an Object('json') value keeps its string and number members, a
  * string as its payload and a number as its JSON text
  * (fastjson.go:681-710); a non-object gives the empty map.
  */
final case class ObjectRead(key: Option[String]) extends ContainerRead(key, ObjK) {
  def nullable: Boolean = false
  def dataType: DataType = MapType(StringType, StringType)
  def read(v: VariantVal): MapData = readAt(v, offset(v))
  def readAt(v: VariantVal, at: Int): MapData = {
    if (kindOf(v, at) != ObjK) return MapRead.empty
    val keys = ArrayBuffer.empty[Any]
    val vals = ArrayBuffer.empty[Any]
    VariantAccessOps.foreachMember(v, at) { (name, off) =>
      val k = VariantKindOps.kindAt(v.getValue, off)
      if (k == StrK || ScalarRead.isNumber(k)) {
        keys += name
        vals += (if (k == StrK) VariantAccessOps.stringAt(v.getValue, off) else ScalarRead.json(v, off))
      }
    }
    new ArrayBasedMapData(new GenericArrayData(keys.toArray), new GenericArrayData(vals.toArray))
  }
}

/** F11: Map(K, V) over a JSON object (fastjson.go:327-455,660-679): each
  * member's value read by `value`, its key converted to `keyType` by
  * `keyConversion`; a non-object gives the empty map.
  *
  * A key converts as the map-key type's Spark expression computes it
  * ([[MapRead.keyConversion]]). A key that does not convert (NULL) is
  * dropped with its value. Of two keys that convert to one value ("1" and
  * "01" in a Map(Int64, _)), the later in the object's stored order
  * (sorted by key) gives the value, at the earlier one's position: Spark's
  * `LAST_WIN` map-key policy. String keys are taken as they are: an
  * object's keys are distinct.
  */
final case class MapRead(key: Option[String], keyType: DataType,
    keyConversion: Option[Expression], value: ValueRead) extends ContainerRead(key, ObjK) {
  def nullable: Boolean = false
  def dataType: DataType = MapType(keyType, value.dataType)
  @transient private lazy val keyRow = new GenericInternalRow(1)

  def read(v: VariantVal): MapData = readAt(v, offset(v))
  def readAt(v: VariantVal, at: Int): MapData = {
    if (kindOf(v, at) != ObjK) return MapRead.empty
    val keys = ArrayBuffer.empty[Any]
    val vals = ArrayBuffer.empty[Any]
    val first = if (keyConversion.isEmpty) null else new java.util.HashMap[Any, Integer]
    VariantAccessOps.foreachMember(v, at) { (name, off) =>
      val k = keyConversion.fold[Any](name) { c => keyRow.update(0, name); c.eval(keyRow) }
      if (k != null) {
        val prior = if (first == null) null else first.putIfAbsent(k, keys.size)
        if (prior == null) { keys += k; vals += value.evalAt(v, off) }
        else vals(prior) = value.evalAt(v, off)
      }
    }
    new ArrayBasedMapData(new GenericArrayData(keys.toArray), new GenericArrayData(vals.toArray))
  }
}

object MapRead {
  val empty: MapData = new ArrayBasedMapData(new GenericArrayData(Array.empty[Any]),
    new GenericArrayData(Array.empty[Any]))

  /** The conversion of a map key (a string, bound at ordinal 0) to key
    * kind `kind`; None for a string key. Spark's LEGACY cast to the key's
    * Spark type, or for DateTime a date string through [[AutoTimestamp]]
    * and else the key as epoch seconds scaled by `timeUnit`.
    */
  def keyConversion(kind: ChKind, opts: ParseOpts): Option[Expression] = {
    val k = BoundReference(0, StringType, nullable = true)
    ChTypeInfo(kind).elementSparkType match {
      case StringType => None
      case _ if kind == ChKind.DateTime => Some(Coalesce(Seq(AutoTimestamp(k, opts.timeZone),
        SecondsToTimestamp(Multiply(Cast(k, DoubleType, None, EvalMode.LEGACY),
          Literal(opts.timeUnit))))))
      case t => Some(Cast(k, t, None, EvalMode.LEGACY))
    }
  }
}

/** F12: Array(T) over a JSON array (fastjson.go:204-325): each element
  * read by `element` (a non-Nullable read, so a missing value gives the
  * default); a non-array gives the empty array.
  */
final case class ArrayRead(key: Option[String], element: ValueRead) extends ContainerRead(key, ArrK) {
  def nullable: Boolean = false
  def dataType: DataType = ArrayType(element.dataType, containsNull = true)
  def read(v: VariantVal): ArrayData = readAt(v, offset(v))
  def readAt(v: VariantVal, at: Int): ArrayData = {
    val out = ArrayBuffer.empty[Any]
    if (kindOf(v, at) == ArrK)
      VariantAccessOps.foreachElement(v.getValue, at)(off => out += element.evalAt(v, off))
    new GenericArrayData(out.toArray)
  }
}

/** A [[ValueRead]] over a variant column. The generated code is one call
  * (plus the `missed` test for a Nullable primitive), so a projection of
  * many dims stays small enough for the JIT to compile.
  */
case class VariantRead(child: Expression, read: ValueRead) extends UnaryExpression {
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
  /** The tolerant getter of ClickHouse type `ti`, read in place at
    * top-level `key` of `v`, or at `v`'s root when `key` is None: see
    * [[ValueRead]].
    */
  def read(v: Column, key: Option[String], ti: ChTypeInfo, opts: ParseOpts): Column =
    toColumn(VariantRead(toExpression(v), ValueRead(key, ti, opts)))
}
