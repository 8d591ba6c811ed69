package graft.parse

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.ChGetters.ParseOpts
import graft.functions.{ChGetters, IpUtil, VariantAccess}
import graft.types.{ChKind, ChTypeInfo}

/** Text-cell tolerant getters for the CSV parser path (SURVEY P4;
  * reference `/root/reference/parser/csv.go`). Unlike the JSON path, CSV
  * cells are all text, so numeric getters PARSE the text ("123" -> 123),
  * with the same clamp/default/Epoch rules as the JSON getters. Array/map
  * cells arrive as embedded JSON and reuse the JSON path's typed reads.
  */
object CsvGetters {

  private val Dec38 = DecimalType(38, 0)

  private def defaultOr(nullable: Boolean, dflt: Column, t: DataType): Column =
    if (nullable) lit(null).cast(t) else dflt.cast(t)

  // strconv.ParseInt-like: optional sign + digits only
  private def intText(s: Column): Column = s.rlike("^[+-]?[0-9]+$")
  private def floatText(s: Column): Column =
    s.rlike("^[+-]?([0-9]+(\\.[0-9]*)?|\\.[0-9]+)([eE][+-]?[0-9]+)?$")

  def getBool(s: Column, nullable: Boolean): Column =
    when(s === "true", lit(true)).when(s === "false", lit(false))
      .otherwise(defaultOr(nullable, lit(false), BooleanType))

  def getSigned(s: Column, nullable: Boolean, t: DataType): Column = {
    val (minV, maxV) = t match {
      case ByteType    => (Byte.MinValue.toLong, Byte.MaxValue.toLong)
      case ShortType   => (Short.MinValue.toLong, Short.MaxValue.toLong)
      case IntegerType => (Int.MinValue.toLong, Int.MaxValue.toLong)
      case _           => (Long.MinValue, Long.MaxValue)
    }
    val d = s.cast(Dec38)
    val inInt64 = d.between(lit(Long.MinValue).cast(Dec38), lit(Long.MaxValue).cast(Dec38))
    when(intText(s) && inInt64,
      greatest(least(d, lit(maxV).cast(Dec38)), lit(minV).cast(Dec38)).cast(t))
      .otherwise(defaultOr(nullable, lit(0L), t))
  }

  def getUnsigned(s: Column, nullable: Boolean, maxU: BigDecimal, t: DataType): Column = {
    val d = s.cast(Dec38)
    val maxU64 = BigDecimal(BigInt(1) << 64) - 1
    when(intText(s) && d >= 0 && d <= lit(maxU64.bigDecimal).cast(Dec38),
      least(d, lit(maxU.bigDecimal).cast(Dec38)).cast(t))
      .otherwise(defaultOr(nullable, lit(0L), t))
  }

  def getFloat(s: Column, nullable: Boolean, t: DataType): Column = {
    val maxV = if (t == FloatType) Float.MaxValue.toDouble else Double.MaxValue
    when(floatText(s), least(s.cast(DoubleType), lit(maxV)).cast(t))
      .otherwise(defaultOr(nullable, lit(0.0), t))
  }

  def getDecimal(s: Column, nullable: Boolean): Column =
    when(floatText(s), s.cast(DoubleType).cast(DecimalType(38, 9)))
      .otherwise(defaultOr(nullable, lit(0), DecimalType(38, 9)))

  def getString(s: Column, nullable: Boolean): Column =
    if (nullable) s else coalesce(s, lit(""))

  def getDateTime(s: Column, nullable: Boolean, opts: ParseOpts,
      dt64Precision: Int = 0): Column = {
    val unit =
      if (dt64Precision > 0) math.pow(10.0, -dt64Precision) else opts.timeUnit
    val sec = s.cast(DoubleType) * lit(unit)
    val fromNum =
      when(sec < 0.0 || sec >= 4294967296.0, timestamp_seconds(lit(0)))
        .otherwise(timestamp_seconds(sec))
    val dflt = defaultOr(nullable, timestamp_seconds(lit(0)), TimestampType)
    when(floatText(s), fromNum)
      .when(s.isNotNull && s =!= "",
        coalesce(ChGetters.autoTimestamp(s, opts.timeZone), dflt))
      .otherwise(dflt)
  }

  private val validIpUdf = udf((s: String) => IpUtil.isValidIp(s))

  def getIp(s: Column, nullable: Boolean, zero: String): Column =
    when(s.isNull || s === "", defaultOr(nullable, lit(""), StringType))
      .when(validIpUdf(s), s)
      .otherwise(lit(zero))

  /** Dispatcher; embedded-JSON cells (arrays/maps/objects) are the JSON
    * path's typed reads at the root of the parsed cell (csv.go parses
    * them with fastjson too).
    */
  def getValue(s: Column, ti: ChTypeInfo, opts: ParseOpts): Column = {
    if (ti.kind == ChKind.MapK || ti.array || ti.kind == ChKind.Obj)
      VariantAccess.read(try_parse_json(s), None, ti, opts)
    else ti.kind match {
      case ChKind.Bool     => getBool(s, ti.nullable)
      case ChKind.Int8     => getSigned(s, ti.nullable, ByteType)
      case ChKind.Int16    => getSigned(s, ti.nullable, ShortType)
      case ChKind.Int32    => getSigned(s, ti.nullable, IntegerType)
      case ChKind.Int64    => getSigned(s, ti.nullable, LongType)
      case ChKind.UInt8    => getUnsigned(s, ti.nullable, BigDecimal(255), ShortType)
      case ChKind.UInt16   => getUnsigned(s, ti.nullable, BigDecimal(65535), IntegerType)
      case ChKind.UInt32   => getUnsigned(s, ti.nullable, BigDecimal(4294967295L), LongType)
      case ChKind.UInt64   => getUnsigned(s, ti.nullable,
        BigDecimal(BigInt(1) << 64) - 1, DecimalType(20, 0))
      case ChKind.Float32  => getFloat(s, ti.nullable, FloatType)
      case ChKind.Float64  => getFloat(s, ti.nullable, DoubleType)
      case ChKind.Decimal  => getDecimal(s, ti.nullable)
      case ChKind.DateTime => getDateTime(s, ti.nullable, opts, ti.dateTime64Precision)
      case ChKind.Str      => getString(s, ti.nullable)
      case ChKind.IPv4     => getIp(s, ti.nullable, "0.0.0.0")
      case ChKind.IPv6     => getIp(s, ti.nullable, "::")
      case ChKind.MapK | ChKind.Obj => throw new IllegalStateException("handled above")
    }
  }
}
