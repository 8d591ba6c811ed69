package graft

import java.time.Instant

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{ChGetters, VariantAccess}
import graft.functions.ChGetters.ParseOpts
import graft.types.{ChKind, ChType, ChTypeInfo}

/** Reference-parity getter tests on the canonical jsonSample fixture
  * (`/root/reference/parser/parser_test.go:42-84`, expected values
  * `:352-1118`). Deltas vs the reference, by design: the two bare
  * `-inf/+inf` array literals are dropped (fastjson extension, not JSON),
  * and Object('json') stringification orders keys canonically.
  */
class ChGettersSpec extends AnyFunSuite with LocalSpark {

  import spark.implicits._

  // jsonSample minus the -inf/+inf literals (invalid strict JSON)
  val jsonSample: String = """{
    "null": null,
    "bool_true": true,
    "bool_false": false,
    "num_int": 123,
    "num_float": 123.321,
    "app.kubernetes.io/name": "kube-state-metrics",
    "str": "escaped_\"ws",
    "str_int": "123",
    "str_float": "123.321",
    "str_date_1": "2009-07-13",
    "str_date_2": "13/07/2009",
    "str_time_rfc3339_1": "2009-07-13T09:07:13Z",
    "str_time_rfc3339_2": "2009-07-13T09:07:13.123+08:00",
    "str_time_clickhouse_1": "2009-07-13 09:07:13",
    "str_time_clickhouse_2": "2009-07-13 09:07:13.123",
    "obj": {"i":[1,2,3],"f":[1.1,2.2,3.3],"s":["aa","bb","cc"],"e":[]},
    "array_empty": [],
    "array_null": [null],
    "array_bool": [true,false],
    "array_num_int_1": [0, 255, 256, 65535, 65536, 4294967295, 4294967296, 18446744073709551615, 18446744073709551616],
    "array_num_int_2": [-9223372036854775808, -2147483649, -2147483648, -32769, -32768, -129, -128, 0, 127, 128, 32767, 32768, 2147483647, 2147483648, 9223372036854775807],
    "array_str": ["aa","bb","cc"],
    "array_str_date_1": ["2009-07-13","2009-07-14","2009-07-15"],
    "map_str_str": {"i":"first", "j":"second"},
    "map_str_uint": {"i":1, "j":2},
    "map_str_float": {"i":3.1415, "j":9.876},
    "map_uint_uint": {"1":1, "2":2},
    "map_int_string": {"1":"3.1415", "2":"9.876"},
    "map_str_map": {"i":{"i":1, "j":2}, "j":{"i":3, "j":4}},
    "map_int_poison": {"x":"dropped", "1":"later", "01":"earlier", "2":"two"}
  }"""

  val opts = ParseOpts(timeZone = "UTC", timeUnit = 0.000001) // micros, like the Go tests

  private def row(cols: (String, org.apache.spark.sql.Column)*): Row = {
    val df  = Seq(jsonSample).toDF("raw")
    df.select(cols.map { case (n, c) => c.as(n) }: _*).head()
  }

  /** The getter of `ti` read at top-level key `name` of column `raw`. */
  private def read(name: String, ti: ChTypeInfo) =
    VariantAccess.read(ChGetters.parsed(col("raw")), Some(name), ti, opts)

  /** The scalar getter of `kind` at top-level key `name`. */
  private def get(name: String, kind: ChKind, nullable: Boolean = false) =
    read(name, ChTypeInfo(kind, nullable))

  private def micros(i: Instant): Long = i.getEpochSecond * 1000000L + i.getNano / 1000L

  private def tsOf(r: Row, i: Int): Long =
    micros(r.getAs[java.sql.Timestamp](i).toInstant)

  test("bool getter (F1)") {
    val r = row(
      "t"  -> get("bool_true", ChKind.Bool),
      "f"  -> get("bool_false", ChKind.Bool),
      "n"  -> get("num_int", ChKind.Bool),
      "nn" -> get("num_int", ChKind.Bool, nullable = true),
      "m"  -> get("not_exist", ChKind.Bool),
      "mn" -> get("not_exist", ChKind.Bool, nullable = true))
    assert(r.getBoolean(0) === true)
    assert(r.getBoolean(1) === false)
    assert(r.getBoolean(2) === false)
    assert(r.isNullAt(3))
    assert(r.getBoolean(4) === false)
    assert(r.isNullAt(5))
  }

  test("signed int getters with clamp (F2)") {
    val r = row(
      "i"   -> get("num_int", ChKind.Int64),
      "b"   -> get("bool_true", ChKind.Int64),
      "f"   -> get("num_float", ChKind.Int64),
      "s"   -> get("str_int", ChKind.Int64),
      "sn"  -> get("str_int", ChKind.Int64, nullable = true),
      "arr" -> read("array_num_int_1",
        ChTypeInfo(ChKind.Int64, array = true)),
      "arr8" -> read("array_num_int_2",
        ChTypeInfo(ChKind.Int8, array = true)))
    assert(r.getLong(0) === 123L)
    assert(r.getLong(1) === 1L)
    assert(r.getLong(2) === 0L) // float rejected for int target
    assert(r.getLong(3) === 0L) // string rejected
    assert(r.isNullAt(4))
    assert(r.getSeq[Long](5) === Seq(0L, 255L, 256L, 65535L, 65536L,
      4294967295L, 4294967296L, 0L, 0L)) // >int64 -> default, not clamp
    assert(r.getSeq[Byte](6) === Seq[Byte](-128, -128, -128, -128, -128,
      -128, -128, 0, 127, 127, 127, 127, 127, 127, 127)) // in-int64 -> clamp
  }

  test("unsigned getters (F3)") {
    val r = row(
      "u8"  -> read("array_num_int_1",
        ChTypeInfo(ChKind.UInt8, array = true)),
      "u64" -> read("array_num_int_1",
        ChTypeInfo(ChKind.UInt64, array = true)),
      "neg" -> read("array_num_int_2",
        ChTypeInfo(ChKind.UInt32, array = true)))
    // 2^64-1 fits Go's Uint64() and clamps to 255; 2^64 overflows -> default
    assert(r.getSeq[Short](0) === Seq[Short](0, 255, 255, 255, 255, 255, 255, 255, 0))
    val u64 = r.getSeq[java.math.BigDecimal](1).map(_.toBigInteger.toString)
    assert(u64 === Seq("0", "255", "256", "65535", "65536", "4294967295",
      "4294967296", "18446744073709551615", "0"))
    // negatives rejected (Go Uint64() error), positives clamp at 2^32-1
    assert(r.getSeq[Long](2) === Seq(0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 127L,
      128L, 32767L, 32768L, 2147483647L, 2147483648L, 4294967295L))
  }

  test("float/decimal getters (F4/F5)") {
    val r = row(
      "f"  -> get("num_float", ChKind.Float64),
      "i"  -> get("num_int", ChKind.Float64),
      "b"  -> get("bool_true", ChKind.Float64),
      "s"  -> get("str_float", ChKind.Float64),
      "big"-> read("array_num_int_1",
        ChTypeInfo(ChKind.Float64, array = true)),
      "d"  -> get("num_float", ChKind.Decimal))
    assert(r.getDouble(0) === 123.321)
    assert(r.getDouble(1) === 123.0)
    assert(r.getDouble(2) === 0.0) // bool rejected for float target
    assert(r.getDouble(3) === 0.0)
    assert(r.getSeq[Double](4) === Seq(0.0, 255.0, 256.0, 65535.0, 65536.0,
      4294967295.0, 4294967296.0, 18446744073709551615.0, 18446744073709551616.0))
    assert(r.getAs[java.math.BigDecimal](5).doubleValue() === 123.321)
  }

  test("string getter (F6)") {
    val r = row(
      "s"   -> get("str", ChKind.Str),
      "dot" -> get("app.kubernetes.io/name", ChKind.Str),
      "i"   -> get("num_int", ChKind.Str),
      "f"   -> get("num_float", ChKind.Str),
      "b"   -> get("bool_true", ChKind.Str),
      "nul" -> get("null", ChKind.Str),
      "nuln"-> get("null", ChKind.Str, nullable = true),
      "arr" -> read("array_num_int_1",
        ChTypeInfo(ChKind.Str, array = true)))
    assert(r.getString(0) === "escaped_\"ws")
    assert(r.getString(1) === "kube-state-metrics")
    assert(r.getString(2) === "123")
    assert(r.getString(3) === "123.321")
    assert(r.getString(4) === "true")
    assert(r.getString(5) === "")
    assert(r.isNullAt(6))
    assert(r.getSeq[String](7) === Seq("0", "255", "256", "65535", "65536",
      "4294967295", "4294967296", "18446744073709551615", "18446744073709551616"))
  }

  test("datetime getter (F7/F8)") {
    val r = row(
      "d1"  -> get("str_date_1", ChKind.DateTime),
      "d2"  -> get("str_date_2", ChKind.DateTime),
      "r1"  -> get("str_time_rfc3339_1", ChKind.DateTime),
      "r2"  -> get("str_time_rfc3339_2", ChKind.DateTime),
      "c1"  -> get("str_time_clickhouse_1", ChKind.DateTime),
      "c2"  -> get("str_time_clickhouse_2", ChKind.DateTime),
      "num" -> get("num_int", ChKind.DateTime),
      "bad" -> get("str", ChKind.DateTime),
      "badn"-> get("str", ChKind.DateTime, nullable = true),
      "arr" -> read("array_str_date_1",
        ChTypeInfo(ChKind.DateTime, array = true)))
    def iso(s: String) = micros(Instant.parse(s))
    assert(tsOf(r, 0) === iso("2009-07-13T00:00:00Z"))
    assert(tsOf(r, 1) === iso("2009-07-13T00:00:00Z"))
    assert(tsOf(r, 2) === iso("2009-07-13T09:07:13Z"))
    assert(tsOf(r, 3) === iso("2009-07-13T01:07:13.123Z"))
    assert(tsOf(r, 4) === iso("2009-07-13T09:07:13Z"))
    assert(tsOf(r, 5) === iso("2009-07-13T09:07:13.123Z"))
    // 123 * 1e-6 is 0.00012299999… in binary; Go's UnixFloat truncates to
    // 122999 ns the same way timestamp_seconds truncates to 122 micros
    assert(tsOf(r, 6) === 122L)
    assert(tsOf(r, 7) === 0L)   // unparseable -> Epoch
    assert(r.isNullAt(8))
    assert(r.getSeq[java.sql.Timestamp](9).map(t => micros(t.toInstant)) ===
      Seq(iso("2009-07-13T00:00:00Z"), iso("2009-07-14T00:00:00Z"),
        iso("2009-07-15T00:00:00Z")))
  }

  test("object getter keeps only scalar members (F10)") {
    val r = row(
      "obj" -> read("obj", ChTypeInfo(ChKind.Obj)),
      "ss"  -> read("map_str_str", ChTypeInfo(ChKind.Obj)),
      "sf"  -> read("map_str_float", ChTypeInfo(ChKind.Obj)),
      "non" -> read("num_int", ChTypeInfo(ChKind.Obj)))
    assert(r.getMap[String, String](0) === Map.empty) // all members are arrays
    assert(r.getMap[String, String](1) === Map("i" -> "first", "j" -> "second"))
    assert(r.getMap[String, String](2) === Map("i" -> "3.1415", "j" -> "9.876"))
    assert(r.getMap[String, String](3) === Map.empty)
  }

  test("map getter with typed keys/values (F11)") {
    val mapStrUint = ChType.whichType("Map(String, UInt64)")
    val mapUintUint = ChType.whichType("Map(UInt64, UInt64)")
    val mapIntStr  = ChType.whichType("Map(Int64, String)")
    val mapStrMap  = ChType.whichType("Map(String, Map(String, UInt32))")
    val r = row(
      "su" -> read("map_str_uint", mapStrUint),
      "uu" -> read("map_uint_uint", mapUintUint),
      "is" -> read("map_int_string", mapIntStr),
      "sm" -> read("map_str_map", mapStrMap),
      "no" -> read("num_int", mapStrUint),
      // a key that does not convert is dropped; of "01" and "1", the later
      // in the object's stored (sorted) key order gives key 1's value
      "ip" -> read("map_int_poison", mapIntStr))
    assert(r.getMap[String, java.math.BigDecimal](0).view.mapValues(_.longValue).toMap
      === Map("i" -> 1L, "j" -> 2L))
    assert(r.getMap[java.math.BigDecimal, java.math.BigDecimal](1)
      .map { case (k, v) => k.longValue -> v.longValue } === Map(1L -> 1L, 2L -> 2L))
    assert(r.getMap[Long, String](2) === Map(1L -> "3.1415", 2L -> "9.876"))
    assert(r.getMap[String, Map[String, Long]](3) ===
      Map("i" -> Map("i" -> 1L, "j" -> 2L), "j" -> Map("i" -> 3L, "j" -> 4L)))
    assert(r.getMap[String, java.math.BigDecimal](4) === Map.empty)
    assert(r.getMap[Long, String](5) === Map(1L -> "later", 2L -> "two"))
  }

  test("ip getters (F9)") {
    val ipJson =
      """{"v4":"192.168.1.1","bad":"256.1.1.1","v6":"2001:db8::1","num":3232235777,"obj":{"a":1}}"""
    val df  = Seq(ipJson).toDF("raw")
    val r = df.select(
      get("v4", ChKind.IPv4).as("a"),
      get("bad", ChKind.IPv4).as("b"),
      get("v6", ChKind.IPv4).as("c"),
      get("num", ChKind.IPv4).as("d"),
      get("obj", ChKind.IPv4).as("e"),
      get("missing", ChKind.IPv4).as("g"),
      get("v6", ChKind.IPv6).as("h"),
      get("bad", ChKind.IPv6).as("i")).head()
    assert(r.getString(0) === "192.168.1.1")
    assert(r.getString(1) === "0.0.0.0")
    assert(r.getString(2) === "2001:db8::1") // Go net.ParseIP accepts either family
    assert(r.getString(3) === "192.168.1.1") // uint32 accepted for IPv4
    assert(r.getString(4) === "0.0.0.0")
    assert(r.getString(5) === "")
    assert(r.getString(6) === "2001:db8::1")
    assert(r.getString(7) === "::")
  }

  test("float-syntax numbers are rejected by int getters") {
    // fastjson Int64()/Uint64() parse the raw text: "28.0" is float syntax
    // even though its value is integral
    val df = Seq("""{"fi":28.0,"fn":-3.0,"i":28}""").toDF("raw")
    val r = df.select(
      get("fi", ChKind.Int64).as("a"),
      get("fi", ChKind.UInt8).as("b"),
      get("i", ChKind.Int64).as("c"),
      get("fi", ChKind.Float64).as("d"),
      get("fn", ChKind.Int64).as("e")).head()
    assert(r.getLong(0) === 0L)
    assert(r.getShort(1) === 0)
    assert(r.getLong(2) === 28L)
    assert(r.getDouble(3) === 28.0)
    assert(r.getLong(4) === 0L)
  }

  test("float-syntax big literals are rejected by unsigned getters") {
    // past int64 the parse keeps ".0" and ".00" as decimals of scale 1
    // and 2: float syntax still, which fastjson's Uint64() rejects; the
    // same digits without a fraction are a big integer literal and clamp
    val df = Seq("""{"a":9223372036854775808.0,"b":18446744073709551615.00,""" +
      """"c":9223372036854775808,"d":18446744073709551615}""").toDF("raw")
    val kinds = Seq(ChKind.UInt8, ChKind.UInt16, ChKind.UInt32, ChKind.UInt64)
    val keys = Seq("a", "b", "c", "d")
    val r = df.select(kinds.flatMap(k => keys.map(n =>
      get(n, k).cast(StringType))): _*).head()
    val got = r.toSeq.grouped(keys.size).toSeq
    assert(got === Seq(
      Seq("0", "0", "255", "255"),
      Seq("0", "0", "65535", "65535"),
      Seq("0", "0", "4294967295", "4294967295"),
      Seq("0", "0", "9223372036854775808", "18446744073709551615")))
  }

  test("array edge cases (F12)") {
    val r = row(
      "empty" -> read("array_empty",
        ChTypeInfo(ChKind.Int64, array = true)),
      "nulls" -> read("array_null",
        ChTypeInfo(ChKind.Int64, array = true)),
      "nullsS" -> read("array_null",
        ChTypeInfo(ChKind.Str, array = true)),
      "bools" -> read("array_bool",
        ChTypeInfo(ChKind.Int64, array = true)),
      "scalar" -> read("num_int",
        ChTypeInfo(ChKind.Int64, array = true)))
    assert(r.getSeq[Long](0) === Seq.empty)
    assert(r.getSeq[Long](1) === Seq(0L)) // null element -> default
    assert(r.getSeq[String](2) === Seq(""))
    assert(r.getSeq[Long](3) === Seq(1L, 0L))
    assert(r.getSeq[Long](4) === Seq.empty) // non-array -> empty
  }
}
