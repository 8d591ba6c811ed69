package graft

import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CatalystBridge.{toColumn, toExpression}
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{AutoTimestamp, GoLayouts, JsonDecode, JsonDecoder, Rfc3339, ValueRead,
  VariantAccess}
import graft.functions.ChGetters.ParseOpts
import graft.parse.Projector
import graft.parse.Projector.Dim
import graft.types.{ChKind, ChType, ChTypeInfo}

/** The ingest decoder ([[JsonDecode]]: one Jackson pass over a message's
  * bytes into its typed row) gives, message for message, what
  * `try_parse_json` followed by the typed reads over the variant gives:
  * the same messages accepted and rejected, and the same value in every
  * field. Checked for every scalar kind, Nullable or not, and every map,
  * array and Object('json') target, over `VariantReadSpec`'s edge corpus
  * and its generated messages, and over the decoder's own edges: duplicate
  * keys, bytes that are not UTF-8, trailing content, non-object roots,
  * numbers past int64 and the decimal range, escaped keys and a
  * DateTime layout cache across corrupt messages.
  *
  * Both sides read keys and strings by their UTF-8 bytes, so the
  * comparison holds under any JVM default charset (the forked test JVM's
  * is US-ASCII).
  */
class JsonDecodeSpec extends AnyFunSuite with LocalSpark {
  import ReadCorpus._

  /** One read: its name, top-level key, type and options. */
  private final case class Spec(name: String, key: String, ti: ChTypeInfo, opts: ParseOpts)

  private val scalarSpecs: Seq[Spec] = targets.map { case (t, n) =>
    Spec(s"${t.name}${if (n) " nullable" else ""}", "v", t.ti(n), t.opts) }
  private val containerSpecs: Seq[Spec] = containers.map(c => Spec(c.name, "v", c.ti, c.opts))

  /** One message per row, in one partition, from its bytes. */
  private def frame(messages: Seq[Array[Byte]]): DataFrame = {
    val schema = StructType(Seq(StructField("b", BinaryType)))
    spark.createDataFrame(messages.map(Row(_)).asJava, schema).coalesce(1)
      .select(col("b").cast("string").as("value"))
  }

  private def texts(ts: Seq[String]): Seq[Array[Byte]] = ts.map(t => if (t == null) null else t.getBytes(UTF_8))

  private def decoder(specs: Seq[Spec]): Column =
    toColumn(JsonDecode(toExpression(col("value")), specs.map(_.key),
      specs.map(s => ValueRead(None, s.ti, s.opts)), None))

  /** Compares the decoder with `try_parse_json` + the variant reads, in
    * chunks of specs; returns the number of accepted messages.
    */
  private def assertParity(df: DataFrame, specs: Seq[Spec]): Int = {
    var accepted = 0
    specs.grouped(12).foreach { chunk =>
      val msg = try_parse_json(col("value"))
      val rows = df.select(Seq(col("value"), msg.isNotNull, decoder(chunk)) ++
        chunk.map(s => VariantAccess.read(msg, Some(s.key), s.ti, s.opts)): _*).collect()
      accepted = rows.count(_.getBoolean(1))
      rows.foreach { r =>
        val clue = s"on ${String.valueOf(r.getString(0)).take(200)}"
        assert(r.isNullAt(2) === !r.getBoolean(1), s"accept/reject differs $clue")
        if (!r.isNullAt(2)) {
          val d = r.getStruct(2)
          chunk.indices.foreach(i => assert(d.get(i) === r.get(3 + i), s"${chunk(i).name} $clue"))
        }
      }
    }
    accepted
  }

  test("every scalar and container read decodes the edge corpus like the variant reads") {
    val msgs = edges.flatMap(e => Seq(message(e), s"""{"v":{"k":$e,"z":$e}}""",
      s"""{"v":[$e,$e]}""")) ++ Seq("""{"w": 1}""", """{"v": null, "a": [null]}""", "{}",
      "[1]", "5", "\"s\"", """{"a": 7}""", null)
    val df = frame(texts(msgs))
    assert(assertParity(df, scalarSpecs) > edges.size)
    assertParity(df, containerSpecs)
  }

  test("every scalar and container read decodes generated messages like the variant reads") {
    val df = frame(texts(generated(400, seed = 42L) ++ generated(200, seed = 7L)))
    assertParity(df, scalarSpecs)
    assertParity(df, containerSpecs)
  }

  test("the decoder's own edges: duplicates, bad UTF-8, trailing content, roots, numbers") {
    def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    def withBytes(pre: String, mid: Array[Byte], post: String): Array[Byte] =
      pre.getBytes(UTF_8) ++ mid ++ post.getBytes(UTF_8)
    val strs = Seq(
      // duplicate keys, top level and nested, known and unknown, skipped
      // and built subtrees
      """{"v":1,"v":2}""", """{"x":1,"x":2,"v":1}""", """{"v":{"a":1,"a":2}}""",
      """{"x":{"a":1,"a":2},"v":1}""", """{"x":[{"a":1},{"b":[{"c":1,"c":2}]}],"v":1}""",
      """{"v":[{"a":1,"a":2}]}""", """{"v":1,"x":{"a":{"a":1}}}""", """{"v":1,"v":2}""",
      // lone surrogate escapes, in values and keys
      "{\"v\":\"\\ud800\"}", "{\"v\":\"a\\udc00b\"}", "{\"\\ud800\":1,\"v\":\"😀\"}",
      // trailing content after the root value
      """{"v":1} x""", """{"v":1}}""", """{"v":1} {"v":2}""", """[1] ]""", """{"v":1}""" + "\n",
      // roots that are not objects, and no root
      "[1]", "\"s\"", "null", "5", "true", "", "   ", "[1,", "{", """{"v":1""", """{"v"}""",
      "\"a\\qb\"", "\"a\tb\"", "\"abc", "\"abc\" x", """{"v":1,"x":"ab""",
      // int64 overflow, 39 digits, past the double range, negative zero
      """{"v":9223372036854775808}""", """{"v":-9223372036854775809}""",
      """{"v":123456789012345678901234567890123456789}""",
      """{"v":1.23456789012345678901234567890123456789}""",
      """{"v":12345678901234567890123456789012345678.9}""",
      """{"v":1e400}""", """{"v":-1e400}""", """{"v":-0}""", """{"v":-0.0}""", """{"v":1E+2}""",
      """{"v":0.000000000000000000000000000000000000001}""",
      // an escaped key, a nested value read into a String dim
      "{\"\\u0076\":\"escaped key\"}", """{"v":{"b":1,"a":[1,2.50,"x",{"c":null}]}}""",
      // escapes and control characters in strings
      """{"v":"tab\tnl\n"}""", "{\"v\":\"raw\ttab\"}", "{\"v\":\"nul\u0000\"}",
      """{"v":"\q"}""", """{"v":"é日😀"}""", """{"é":1,"v":"ü"}""")
    val bytes = texts(strs) ++ Seq(
      // overlong, surrogate, past U+10FFFF, stray continuation, truncated:
      // Java decodes each to U+FFFD, so they parse there
      withBytes("{\"v\":\"", b(0xC0, 0xAF), "\"}"),
      withBytes("{\"v\":\"", b(0xED, 0xA0, 0x80), "\"}"),
      withBytes("{\"v\":\"", b(0xF4, 0x90, 0x80, 0x80), "\"}"),
      withBytes("{\"v\":\"a", b(0x80), "b\"}"),
      withBytes("{\"v\":\"", b(0xE6, 0x97), "\"}"),
      withBytes("{\"", b(0xC0, 0xAF), "\":1,\"v\":2}"),
      withBytes("{\"v\":1,\"x\":\"", b(0xFF), "\"}"),
      // the same beside an escape, and inside a map, where the text is
      // decoded (Jackson's byte parser would read C0 AF as '/')
      withBytes("{\"v\":\"", b(0xC0, 0xAF), "\\n\"}"),
      withBytes("{\"v\":{\"k\":\"", b(0xC0, 0xAF), "\"}}"),
      withBytes("{\"v\":{\"", b(0xC0, 0xAF), "\":\"x\"}}"),
      // a byte-order mark, and valid multi-byte sequences at each length
      withBytes("", b(0xEF, 0xBB, 0xBF), "{\"v\":1}"),
      withBytes("{\"v\":\"", b(0xC3, 0xA9, 0xE6, 0x97, 0xA5, 0xF0, 0x9F, 0x98, 0x80), "\"}"))
    val df = frame(bytes)
    assert(assertParity(df, scalarSpecs ++ containerSpecs) > 20)
    // the invalid sequences parse, as U+FFFD
    val rows = df.select(decoder(Seq(Spec("s", "v", ChTypeInfo(ChKind.Str), utc)))).collect()
    assert(rows.count(r => !r.isNullAt(0) && r.getStruct(0).getString(0).contains("�")) >= 4)
  }

  test("a key written with escapes reads its dim; every decoded dim shares one pass") {
    val msgs = Seq("{\"\\u0040message\":\"hi\",\"@lineno\":3,\"bytes\":\"5\"}",
      """{"@message":{"a":1},"@lineno":"x","bytes":7}""")
    val specs = Seq(Spec("@message", "@message", ChTypeInfo(ChKind.Str), utc),
      Spec("@lineno", "@lineno", ChTypeInfo(ChKind.Int64), utc),
      Spec("bytes str", "bytes", ChTypeInfo(ChKind.Str), utc),
      Spec("bytes int", "bytes", ChTypeInfo(ChKind.Int64, nullable = true), utc),
      Spec("bytes map", "bytes", ChType.whichType("Map(String, String)"), utc))
    assertParity(frame(texts(msgs)), specs)
    val r = frame(texts(msgs)).select(decoder(specs)).collect().map(_.getStruct(0))
    assert(r(0).getString(0) === "hi" && r(0).getLong(1) === 3L && r(0).getString(2) === "5")
    assert(r(1).getString(0) === """{"a":1}""" && r(1).getLong(3) === 7L)
  }

  test("a DateTime layout cache is set only by messages that parse") {
    // the corrupt first message carries a layout-22 date; the variant path
    // never reads it, so the second message's RFC 3339 value caches layout 0
    val msgs = Seq("""{"v":"2009-07-13","x":""", """{"v":"2009-07-13T09:07:13Z"}""",
      """{"v":"2009-07-14"}""", """{"v":"2009-07-15T01:02:03.5+08:00"}""")
    val dt = targets.collect { case (t, n) if t.kind == ChKind.DateTime =>
      Spec(t.name, "v", t.ti(n), t.opts) }
    assertParity(frame(texts(msgs)), dt)
    val r = frame(texts(msgs)).select(decoder(dt.take(1))).collect()
    assert(r(0).isNullAt(0))
    assert(r(2).getStruct(0).getTimestamp(0).getTime === 0L) // layout 0 cached
  }

  test("projectJson keeps exactly the messages try_parse_json keeps") {
    val msgs = generated(300, seed = 99L) ++ Seq("{", "", "[1] x", """{"v":1,"v":1}""")
    val df = frame(texts(msgs))
    val dims = Seq(Dim("v", ChType.whichType("String")), Dim("n", ChType.whichType("Int64"),
      sourceName = Some("k00")))
    val corrupt = spark.sparkContext.longAccumulator("corrupt")
    val kept = Projector.projectJson(df, dims, utc, parseErrors = Some(corrupt)).count()
    val want = df.filter(try_parse_json(col("value")).isNotNull).count()
    assert(kept === want)
    assert(corrupt.value === msgs.size - want)
  }

  // ---- AutoTimestamp's layout-0 fast path -------------------------------

  private val utcZone = java.time.ZoneId.of("UTC")

  /** Layout 0 through `java.time`, as the cache-less detection reads it. */
  private def javaTime(s: String): java.lang.Long = GoLayouts.parseWith(0, s, utcZone)

  test("the RFC 3339 fast path reads layout 0 exactly as java.time does, or defers") {
    val plain = Seq("2024-02-29T10:00:00Z", "2000-02-29T00:00:00Z", "1970-01-01T00:00:00Z",
      "0000-01-01T00:00:00Z", "9999-12-31T23:59:59.999999999Z", "1969-12-31T23:59:59.5Z",
      "2024-01-01T10:00:00.1Z", "2024-01-01T10:00:00.123456789Z", "2024-01-01T10:00:00+14:00",
      "2024-01-01T10:00:00-00:00", "2024-01-01T10:00:00+18:00", "2024-01-01T10:00:00-18:00",
      "2024-03-01T10:00:00-09:30", "2009-07-13T09:07:13+08:00", "2024-04-30T23:59:59Z")
    plain.foreach { s =>
      val fast = Rfc3339.micros(UTF8String.fromString(s))
      assert(fast != Rfc3339.NotPlain, s)
      assert(fast === javaTime(s).longValue, s)
    }
    // left to java.time: some it resolves (SMART: Feb 30 -> Feb 29, 24:00
    // -> next day), some it rejects
    val deferred = Seq("2023-02-29T10:00:00Z", "2024-02-30T10:00:00Z", "2024-04-31T10:00:00Z",
      "2024-01-01T24:00:00Z", "2024-01-01T23:59:60Z", "2024-01-01t10:00:00Z",
      "2024-01-01T10:00:00z", "2024-01-01T10:00:00.1234567891Z", "2024-01-01T10:00:00.Z",
      "2024-01-01T10:00:00+24:00", "2024-01-01T10:00:00+18:01", "2024-01-01T10:00:00+00:60",
      "2024-01-01T10:00:00+0000", "2024-01-01T10:00:00", "2024-13-01T10:00:00Z",
      "2024-01-00T10:00:00Z", " 2024-01-01T10:00:00Z", "2024-01-01T10:00:00Z ",
      "2024-01-01 10:00:00Z", "+2024-01-01T10:00:00Z", "2024-1-01T10:00:00Z", "")
    deferred.foreach(s => assert(Rfc3339.micros(UTF8String.fromString(s)) === Rfc3339.NotPlain, s))
    assert(javaTime("2024-02-30T10:00:00Z") === javaTime("2024-02-29T10:00:00Z"))
    assert(javaTime("2024-01-01T24:00:00Z") === javaTime("2024-01-02T00:00:00Z"))
    assert(javaTime("2024-01-01T23:59:60Z") === null)
    // the whole read, fast path or not, equals the java.time detection
    (plain ++ deferred).foreach { s =>
      val fresh = AutoTimestamp(org.apache.spark.sql.catalyst.expressions.Literal(null), "UTC")
      val (want, _) = GoLayouts.detect(s, utcZone)
      assert(fresh.parseMicros(UTF8String.fromString(s)) === want, s)
    }
  }

  test("a value read by the fast path caches layout 0 as the java.time path does") {
    def read(values: Seq[String]): Seq[java.lang.Long] = {
      val a = AutoTimestamp(org.apache.spark.sql.catalyst.expressions.Literal(null), "UTC")
      values.map(v => a.parseMicros(UTF8String.fromString(v)))
    }
    // first value plain layout 0 (fast path); then another layout: the
    // cached layout 0 rejects it, as after a java.time read of layout 0
    val viaFast = read(Seq("2024-01-01T10:00:00Z", "2024-01-01 10:00:00", "2024-01-02T10:00:00Z"))
    val viaJava = read(Seq("2024-02-30T10:00:00Z", "2024-01-01 10:00:00", "2024-01-02T10:00:00Z"))
    assert(viaFast(1) === null && viaJava(1) === null)
    assert(viaFast(2) === javaTime("2024-01-02T10:00:00Z") && viaJava(2) === viaFast(2))
    // a first value in another layout caches that one: layout 0 then misses
    val other = read(Seq("2024-01-01 10:00:00", "2024-01-02T10:00:00Z"))
    assert(other(0) != null && other(1) === null)
    // the decoder gives DateTime dims the same reads
    val msgs = Seq("2024-01-01T10:00:00Z", "2024-01-01 10:00:00", "2024-02-30T10:00:00Z")
      .map(v => s"""{"v":${quote(v)}}""")
    assertParity(frame(texts(msgs)), Seq(Spec("DateTime", "v", ChTypeInfo(ChKind.DateTime), utc)))
  }

  test("validUtf8 agrees with Java's decoder on every 1-4 byte sequence class") {
    def javaValid(bs: Array[Byte]): Boolean =
      java.util.Arrays.equals(new String(bs, UTF_8).getBytes(UTF_8), bs)
    val rnd = new scala.util.Random(5L)
    val leads = Seq(0x00, 0x41, 0x7F, 0x80, 0xBF, 0xC0, 0xC1, 0xC2, 0xDF, 0xE0, 0xE1, 0xEC, 0xED,
      0xEE, 0xEF, 0xF0, 0xF1, 0xF3, 0xF4, 0xF5, 0xFF)
    val conts = Seq(0x00, 0x7F, 0x80, 0x8F, 0x90, 0x9F, 0xA0, 0xBF, 0xC0)
    var checked = 0
    for (l <- leads; c1 <- conts; c2 <- conts.take(4); c3 <- conts.take(3)) {
      val pad = Array.fill(rnd.nextInt(10))('a'.toByte)
      val bs = pad ++ Array(l, c1, c2, c3).map(_.toByte) ++ pad
      assert(JsonDecoder.validUtf8(bs, 0, bs.length) === javaValid(bs), bs.map(b => f"$b%02x").mkString)
      checked += 1
    }
    assert(checked > 2000)
  }
}
