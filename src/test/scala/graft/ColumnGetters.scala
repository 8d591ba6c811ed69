package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CatalystBridge.{toColumn, toExpression}
import org.apache.spark.sql.types._
import org.apache.spark.types.variant.VariantUtil
import org.apache.spark.unsafe.types.VariantVal

import graft.functions.{ChGetters, IpUtil, VariantAccessOps, VariantKindOps}
import graft.functions.ChGetters.ParseOpts
import graft.types.{ChKind, ChTypeInfo}

/** The Column-composed tolerant getters that the typed reads
  * ([[graft.functions.ValueRead]]) replaced, kept as the oracle of
  * [[VariantReadSpec]]: each scalar getter (F1-F9) is a `CASE WHEN` over
  * a kind tag and `try_variant_get` casts of a bound field, and the
  * container getters (F10-F12) cast to `map<string,variant>` or
  * `array<variant>` and apply the scalar getters through
  * `transform_values`, `transform_keys`, `map_filter` and `transform`.
  * They are unchanged but for the tag, which comes from
  * `schema_of_variant` (see `kindOf`) instead of the main code's kind
  * switch.
  *
  * `field`, `string` and `kind` expose the main code's in-place walk
  * ([[VariantAccessOps]], [[VariantKindOps]]) as Columns: a top-level
  * field as a variant, a string's payload and the kind tag.
  */
object ColumnGetters {

  def field(msg: Column, key: String): Column = toColumn(FieldOf(toExpression(msg), key))
  def string(f: Column): Column = toColumn(StringOf(toExpression(f)))
  def kind(f: Column): Column = toColumn(KindOf(toExpression(f)))

  /** The field's kind tag ([[VariantKindOps]]'s ints), classified from
    * `schema_of_variant` here rather than by the main code's kind switch,
    * so a fault in that switch cannot hide by changing both sides.
    *
    * Integer literals up to int64 always store as LONG in variant; a
    * zero-scale DECIMAL beyond int64 is a big integer literal; any
    * fractional decimal/double means float syntax ("28.0"), which
    * fastjson's Int64()/Uint64() reject.
    */
  private def kindOf(f: Column): Column = {
    val t = schema_of_variant(f)
    when(f.isNull, lit(null).cast(IntegerType))
      .when(t === "VOID", VariantKindOps.NullK)
      .when(t === "BOOLEAN", VariantKindOps.BoolK)
      .when(t === "BIGINT", VariantKindOps.IntK)
      .when(t.isin("DOUBLE", "FLOAT"), VariantKindOps.FloatK)
      // schema_of_variant reports a decimal's scale after stripping
      // trailing zeros; the tag needs the scale as parsed
      .when(t.startsWith("DECIMAL"), when(toColumn(ParsedScale(toExpression(f))) === 0,
        VariantKindOps.Dec0K).otherwise(VariantKindOps.DecFracK))
      .when(t === "STRING", VariantKindOps.StrK)
      .when(t.startsWith("OBJECT"), VariantKindOps.ObjK)
      .when(t.startsWith("ARRAY"), VariantKindOps.ArrK)
      .otherwise(VariantKindOps.OtherK)
  }

  import VariantKindOps._
  private def isBoolTy(k: Column): Column = k === BoolK
  private def isIntTag(k: Column): Column = k === IntK
  private def isZeroScaleDec(k: Column): Column = k === Dec0K
  private def isNumTy(k: Column): Column =
    k.isin(IntK, FloatK, Dec0K, DecFracK)
  private def isStrTy(k: Column): Column = k === StrK

  private val Dec38 = DecimalType(38, 0)
  private val TwoPow32 = 4294967296.0
  private val MaxUint64 = BigDecimal(BigInt(1) << 64) - 1

  private def asDec(f: Column): Column = try_variant_get(f, "$", "decimal(38,0)")
  private def asDouble(f: Column): Column = try_variant_get(f, "$", "double")
  // string payload only: every caller branches on StrK first
  private def asString(f: Column): Column = string(f)
  private def asLong(f: Column): Column = try_variant_get(f, "$", "bigint")
  private def asBool(f: Column): Column = try_variant_get(f, "$", "boolean")

  private def defaultOr(nullable: Boolean, dflt: Column, t: DataType): Column =
    if (nullable) lit(null).cast(t) else dflt.cast(t)

  // ---- scalar getters (F1-F10) ---------------------------------------

  /** F1: strict bool — only JSON true/false accepted. */
  def getBool(f: Column, nullable: Boolean): Column =
    when(isBoolTy(kindOf(f)), asBool(f))
      .otherwise(defaultOr(nullable, lit(false), BooleanType))

  /** F2: signed integer with range clamp; bool -> 0/1; floats rejected. */
  def getSigned(f: Column, nullable: Boolean, t: DataType): Column = {
    val (minV, maxV) = t match {
      case ByteType    => (Byte.MinValue.toLong, Byte.MaxValue.toLong)
      case ShortType   => (Short.MinValue.toLong, Short.MaxValue.toLong)
      case IntegerType => (Int.MinValue.toLong, Int.MaxValue.toLong)
      case LongType    => (Long.MinValue, Long.MaxValue)
      case other       => throw new IllegalArgumentException(s"not a signed type: $other")
    }
    val k = kindOf(f)
    // Go parity: v.Int64() fails on float syntax and outside int64 ->
    // default; in-range values clamp to the target width
    // (fastjson.go:129-151). IntK guarantees int64 range, so the clamp is
    // pure long arithmetic — no decimal in the hot path.
    when(isBoolTy(k), getBool(f, nullable = false).cast(t))
      .when(isIntTag(k),
        greatest(least(asLong(f), lit(maxV)), lit(minV)).cast(t))
      .otherwise(defaultOr(nullable, lit(0L), t))
  }

  /** F3: unsigned integer — widened Spark target, clamp at max; negatives
    * and > 2^64-1 rejected like Go's Uint64() error path.
    */
  def getUnsigned(f: Column, nullable: Boolean, maxU: BigDecimal, t: DataType): Column = {
    val k = kindOf(f)
    val l = asLong(f)
    // the common path is int64-tagged and non-negative: pure long clamp;
    // big integer literals in (int64max, 2^64) — which Go's Uint64()
    // accepts — go through the rare decimal branch
    val d = asDec(f)
    val bigLit = isZeroScaleDec(k) &&
      d > lit(Long.MaxValue).cast(Dec38) &&
      d <= lit(MaxUint64.bigDecimal).cast(Dec38)
    val fastMax =
      if (maxU <= BigDecimal(Long.MaxValue)) least(l, lit(maxU.toLong)).cast(t)
      else l.cast(t) // UInt64 target: any non-negative int64 fits
    when(isBoolTy(k), getBool(f, nullable = false).cast(t))
      .when(isIntTag(k) && l >= 0, fastMax)
      .when(bigLit, least(d, lit(maxU.bigDecimal).cast(Dec38)).cast(t))
      .otherwise(defaultOr(nullable, lit(0L), t))
  }

  def getUint8(f: Column, nullable: Boolean): Column =
    getUnsigned(f, nullable, BigDecimal(255), ShortType)
  def getUint16(f: Column, nullable: Boolean): Column =
    getUnsigned(f, nullable, BigDecimal(65535), IntegerType)
  def getUint32(f: Column, nullable: Boolean): Column =
    getUnsigned(f, nullable, BigDecimal(4294967295L), LongType)
  def getUint64(f: Column, nullable: Boolean): Column =
    getUnsigned(f, nullable, MaxUint64, DecimalType(20, 0))

  /** F4: float — numbers only (bools rejected: Go Float64() errors on
    * bool), clamped at +max like fastjson.go:175-188.
    */
  def getFloat(f: Column, nullable: Boolean, t: DataType): Column = {
    val maxV = t match {
      case FloatType  => Float.MaxValue.toDouble
      case DoubleType => Double.MaxValue
      case other      => throw new IllegalArgumentException(s"not a float type: $other")
    }
    when(isNumTy(kindOf(f)), least(asDouble(f), lit(maxV)).cast(t))
      .otherwise(defaultOr(nullable, lit(0.0), t))
  }

  /** F5: decimal via float64 round-trip (decimal.NewFromFloat parity),
    * as DECIMAL(38, 9).
    */
  def getDecimal(f: Column, nullable: Boolean): Column = {
    val t = DecimalType(38, 9)
    when(isNumTy(kindOf(f)), asDouble(f).cast(t))
      .otherwise(defaultOr(nullable, lit(0), t))
  }

  /** F6: string — strings kept as-is, any other value becomes its JSON
    * text (fastjson.go:712-728).
    */
  def getString(f: Column, nullable: Boolean): Column = {
    val k = kindOf(f)
    when(isStrTy(k), asString(f))
      .when(k.isNotNull && k =!= VariantKindOps.NullK, to_json(f))
      .otherwise(defaultOr(nullable, lit(""), StringType))
  }

  // ---- datetime (F7/F8) ----------------------------------------------

  private def epochTs: Column = timestamp_seconds(lit(0))

  def autoTimestamp(s: Column, timeZone: String): Column = ChGetters.autoTimestamp(s, timeZone)

  /** F7: epoch-number (scaled by timeUnit, range-checked to [0, 2^32)) or
    * layout-detected string; anything else -> Epoch / NULL.
    */
  def getDateTime(f: Column, nullable: Boolean, opts: ParseOpts,
      dateTime64Precision: Int = 0): Column = {
    val unit =
      if (dateTime64Precision > 0) math.pow(10.0, -dateTime64Precision)
      else opts.timeUnit
    val k   = kindOf(f)
    val sec = asDouble(f) * lit(unit)
    val fromNum =
      when(sec < 0.0 || sec >= TwoPow32, epochTs).otherwise(timestamp_seconds(sec))
    val s = asString(f)
    val fromStr = autoTimestamp(s, opts.timeZone)
    val dflt = defaultOr(nullable, epochTs, TimestampType)
    when(isNumTy(k), fromNum)
      .when(isStrTy(k) && s =!= "", coalesce(fromStr, dflt))
      .otherwise(dflt)
  }

  // ---- IP (F9) --------------------------------------------------------

  private val validIpUdf = udf((s: String) => IpUtil.isValidIp(s))

  private def uintToDottedQuad(u: Column): Column =
    concat_ws(".",
      shiftright(u, 24).bitwiseAND(255).cast("string"),
      shiftright(u, 16).bitwiseAND(255).cast("string"),
      shiftright(u, 8).bitwiseAND(255).cast("string"),
      u.bitwiseAND(255).cast("string"))

  /** F9: valid IP strings kept (either family — Go net.ParseIP); IPv4 also
    * accepts a uint32 (rendered dotted-quad); invalid -> 0.0.0.0.
    */
  def getIPv4(f: Column, nullable: Boolean): Column = {
    val k = kindOf(f)
    val s = asString(f)
    when(isStrTy(k), when(validIpUdf(s), s).otherwise(lit("0.0.0.0")))
      .when(isIntTag(k), uintToDottedQuad(getUint32(f, nullable = false)))
      .when(k.isNotNull && k =!= VariantKindOps.NullK, lit("0.0.0.0"))
      .otherwise(defaultOr(nullable, lit(""), StringType))
  }

  def getIPv6(f: Column, nullable: Boolean): Column = {
    val k = kindOf(f)
    val s = asString(f)
    when(isStrTy(k), when(validIpUdf(s), s).otherwise(lit("::")))
      .when(k.isNotNull && k =!= VariantKindOps.NullK, lit("::"))
      .otherwise(defaultOr(nullable, lit(""), StringType))
  }

  /** Scalar getter dispatch for one variant value (used for map values and
    * array elements; element defaults are the non-nullable defaults).
    */
  def getScalar(f: Column, kind: ChKind, nullable: Boolean, opts: ParseOpts,
      dt64Precision: Int = 0): Column = kind match {
    case ChKind.Bool     => getBool(f, nullable)
    case ChKind.Int8     => getSigned(f, nullable, ByteType)
    case ChKind.Int16    => getSigned(f, nullable, ShortType)
    case ChKind.Int32    => getSigned(f, nullable, IntegerType)
    case ChKind.Int64    => getSigned(f, nullable, LongType)
    case ChKind.UInt8    => getUint8(f, nullable)
    case ChKind.UInt16   => getUint16(f, nullable)
    case ChKind.UInt32   => getUint32(f, nullable)
    case ChKind.UInt64   => getUint64(f, nullable)
    case ChKind.Float32  => getFloat(f, nullable, FloatType)
    case ChKind.Float64  => getFloat(f, nullable, DoubleType)
    case ChKind.Decimal  => getDecimal(f, nullable)
    case ChKind.DateTime => getDateTime(f, nullable, opts, dt64Precision)
    case ChKind.Str      => getString(f, nullable)
    case ChKind.Obj      => getObject(f)
    case ChKind.IPv4     => getIPv4(f, nullable)
    case ChKind.IPv6     => getIPv6(f, nullable)
    case ChKind.MapK =>
      throw new IllegalArgumentException("nested Map handled by getMap")
  }

  // ---- object / map / array (F10-F12) --------------------------------

  private def asVariantMap(f: Column): Column =
    try_variant_get(f, "$", "map<string,variant>")

  /** F10: JSON object keeping only string & number members, stringified
    * (Object('json') target; fastjson.go:681-710). Non-object -> empty map.
    */
  def getObject(f: Column): Column = {
    val m = asVariantMap(f)
    val kept = map_filter(m, (_, v) => isStrTy(kindOf(v)) || isNumTy(kindOf(v)))
    val strd = transform_values(kept, (_, v) =>
      when(isStrTy(kindOf(v)), asString(v)).otherwise(to_json(v)))
    coalesce(strd, map().cast(MapType(StringType, StringType)))
  }

  /** F11: Map(K, V) — object keys cast to the map-key type, values cast
    * recursively (fastjson.go:327-455,660-679). Non-object -> empty map.
    * A key that does not convert, or two that convert to one value, make
    * `transform_keys` throw (NULL_MAP_KEY, DUPLICATED_MAP_KEY) before the
    * `map_filter` runs.
    */
  def getMap(f: Column, ti: ChTypeInfo, opts: ParseOpts): Column = {
    val keyTi = ti.mapKey.getOrElse(ChTypeInfo(ChKind.Str))
    val valTi = ti.mapValue.getOrElse(ChTypeInfo(ChKind.Str))
    val m = asVariantMap(f)
    val valued = transform_values(m, (_, v) =>
      if (valTi.kind == ChKind.MapK) getMap(v, valTi, opts)
      else if (valTi.array) getArray(v, valTi, opts)
      else getScalar(v, valTi.kind, nullable = valTi.nullable, opts,
        valTi.dateTime64Precision))
    val keyed = keyTi.kind match {
      case ChKind.Str => valued
      case k =>
        val cast = transform_keys(valued, (kcol, _) => k match {
          case ChKind.DateTime =>
            coalesce(autoTimestamp(kcol, opts.timeZone),
              timestamp_seconds(kcol.cast("double") * lit(opts.timeUnit)))
          case _ => kcol.cast(ChTypeInfo(k).elementSparkType)
        })
        map_filter(cast, (kcol, _) => kcol.isNotNull)
    }
    val target = ti.elementSparkType.asInstanceOf[MapType]
    coalesce(keyed, map().cast(target))
  }

  /** F12: Array(T) — elementwise scalar getter with non-null defaults;
    * non-array -> empty array (fastjson.go:204-325).
    */
  def getArray(f: Column, ti: ChTypeInfo, opts: ParseOpts): Column = {
    val arr = try_variant_get(f, "$", "array<variant>")
    val conv = transform(arr, e =>
      getScalar(e, ti.kind, nullable = false, opts, ti.dateTime64Precision))
    coalesce(conv, array().cast(ArrayType(ti.elementSparkType, containsNull = false)))
  }

  /** The getter of `ti` at the root of variant `f`. */
  def get(f: Column, ti: ChTypeInfo, opts: ParseOpts): Column =
    if (ti.kind == ChKind.MapK) getMap(f, ti, opts)
    else if (ti.array) getArray(f, ti, opts)
    else getScalar(f, ti.kind, ti.nullable, opts, ti.dateTime64Precision)
}

/** Top-level field `key` of a parsed message as a variant, found in place
  * ([[VariantAccessOps.locate]]) and copied out over the message's
  * metadata; NULL when the root is not an object or has no such key. A
  * JSON `null` member is a variant null, not a SQL NULL.
  */
case class FieldOf(child: Expression, key: String) extends UnaryExpression with CodegenFallback {
  private val keyBytes = key.getBytes(UTF_8)
  override def dataType: DataType = VariantType
  override def nullable: Boolean = true
  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[VariantVal]
    val at = VariantAccessOps.locate(v.getValue, v.getMetadata, keyBytes)
    if (at < 0) null else VariantAccessOps.valueAt(v.getValue, at, v.getMetadata)
  }
  override protected def withNewChildInternal(c: Expression): FieldOf = copy(child = c)
}

/** The payload of a string variant over its bytes; NULL for any other type. */
case class StringOf(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override protected def nullSafeEval(v: Any): Any =
    VariantAccessOps.stringAt(v.asInstanceOf[VariantVal].getValue, 0)
  override protected def withNewChildInternal(c: Expression): StringOf = copy(child = c)
}

/** A variant's kind tag ([[VariantKindOps.kindAt]] at its root). */
case class KindOf(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = IntegerType
  override protected def nullSafeEval(v: Any): Any =
    VariantKindOps.kindAt(v.asInstanceOf[VariantVal].getValue, 0)
  override protected def withNewChildInternal(c: Expression): KindOf = copy(child = c)
}

/** The scale a variant decimal was parsed with ("28.0" has scale 1). */
case class ParsedScale(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = IntegerType
  override protected def nullSafeEval(v: Any): Any =
    VariantUtil.getDecimalWithOriginalScale(v.asInstanceOf[VariantVal].getValue, 0).scale
  override protected def withNewChildInternal(c: Expression): ParsedScale = copy(child = c)
}
