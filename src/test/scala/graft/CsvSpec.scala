package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.ChGetters.ParseOpts
import graft.parse.Projector
import graft.parse.Projector.Dim
import graft.types.ChType

/** CSV parser path (SURVEY P4; reference parser/csv.go + csvSample at
  * parser_test.go:174-208): text cells parse with tolerant numeric
  * semantics, embedded JSON cells reuse the variant getters.
  */
class CsvSpec extends AnyFunSuite with LocalSpark {
  import spark.implicits._

  val csvFormat = Seq("bool_true", "num_int", "num_float", "str", "str_date_1",
    "array_num_int", "map_str_uint", "overflow")

  val line = """true,123,123.321,"escaped_""ws",2009-07-13,"[1,2,3]","{""i"":1,""j"":2}",300"""

  test("csvSample-style row projects with tolerant casts") {
    val dims = Seq(
      Dim("bool_true", ChType.whichType("Bool")),
      Dim("num_int", ChType.whichType("Int64")),
      Dim("num_float", ChType.whichType("Float64")),
      Dim("str", ChType.whichType("String")),
      Dim("str_date_1", ChType.whichType("DateTime")),
      Dim("array_num_int", ChType.whichType("Array(Int64)")),
      Dim("map_str_uint", ChType.whichType("Map(String, UInt64)")),
      Dim("overflow", ChType.whichType("Int8")))
    val out = Projector.projectCsv(
      Seq(line).toDF("value"), csvFormat, dims, ParseOpts())
    val r = out.head()
    assert(r.getBoolean(0) === true)
    assert(r.getLong(1) === 123L)
    assert(r.getDouble(2) === 123.321)
    assert(r.getString(3) === "escaped_\"ws")
    assert(r.getAs[java.sql.Timestamp](4).toInstant ===
      java.time.Instant.parse("2009-07-13T00:00:00Z"))
    assert(r.getSeq[Long](5) === Seq(1L, 2L, 3L))
    assert(r.getMap[String, java.math.BigDecimal](6).view.mapValues(_.longValue).toMap
      === Map("i" -> 1L, "j" -> 2L))
    assert(r.getByte(7) === 127.toByte) // clamped
  }

  test("strict arity: short and long records are dropped (csv.go:46-63)") {
    val dims = Seq(
      Dim("a", ChType.whichType("Int64")),
      Dim("b", ChType.whichType("String")),
      Dim("c", ChType.whichType("Int64")))
    val rows = Seq(
      "1,x,10",        // exact arity -> kept
      "2,y",           // short -> dropped (FieldsPerRecord mismatch)
      "3,z,30,extra",  // long -> dropped
      "4,\"q,uoted\",40") // delimiter inside quotes is NOT extra arity
      .toDF("value")
    val got = Projector.projectCsv(rows, Seq("a", "b", "c"), dims, ParseOpts())
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    assert(got.toSeq === Seq((1L, "x", 10L), (4L, "q,uoted", 40L)))
  }

  test("wrong-typed text cells fall to defaults") {
    val dims = Seq(
      Dim("bool_true", ChType.whichType("Int64")),   // "true" -> 1? No: text
      Dim("num_int", ChType.whichType("Bool")),      // "123" -> false
      Dim("str", ChType.whichType("Float64")),       // not a number -> 0
      Dim("num_float", ChType.whichType("Int32")))   // float text -> 0
    val out = Projector.projectCsv(
      Seq(line).toDF("value"), csvFormat, dims, ParseOpts())
    val r = out.head()
    assert(r.getLong(0) === 0L)     // "true" is not integer text
    assert(r.getBoolean(1) === false)
    assert(r.getDouble(2) === 0.0)
    assert(r.getInt(3) === 0)
  }
}
