package graft

import java.nio.charset.{Charset, StandardCharsets}
import java.time.ZoneId

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{GoLayouts, VariantAccess}
import graft.functions.ChGetters.ParseOpts
import graft.types.{ChKind, ChType, ChTypeInfo}

/** The typed reads ([[graft.functions.ValueRead]]) agree with the
  * Column-composed getters they replaced ([[ColumnGetters]]). For every
  * scalar kind, Nullable or not: keyed (`VariantAccess.read` at top-level
  * key `v` of the message), at the root of the bound field, and as array
  * elements inside `transform` (interpreted evaluation, where the
  * projection itself is generated code). For maps, arrays and
  * Object('json'): keyed and at the root, over each edge value itself, as
  * a map value and as array elements, and over typed map keys wherever
  * the oracle does not throw. The values cover a missing key
  * and a JSON null, bools, every target's clamp edges and one past them,
  * 2^63 and 2^64 +- 1, big and fractional decimals with their ".0" forms,
  * doubles up to +-max in exponent form and past it (+-Infinity), empty,
  * 63/64-byte, 10 KB and non-ASCII strings, nested objects and arrays,
  * valid and invalid IPs, epoch numbers around 0 and 2^32 under a
  * millisecond timeUnit and DateTime64(3), and a sample of each of the
  * 27 date layouts.
  *
  * Both sides decode strings and object keys the same way, so non-ASCII
  * values are compared under whatever default charset the JVM has. The
  * container oracle is the exception: its `map<string,variant>` cast
  * decodes a map's keys with the default charset (the reads take their
  * UTF-8 bytes) and re-encodes them into every member it rebuilds. So
  * under a non-UTF-8 default the container cases leave out the messages
  * with a non-ASCII object key.
  */
class VariantReadSpec extends AnyFunSuite with LocalSpark {
  import ReadCorpus._

  /** Oracle, keyed read, root read, oracle and root read per array element. */
  private def reads(t: Target, nullable: Boolean, msg: Column, key: String): Seq[Column] = {
    def mine(v: Column, k: Option[String]) = VariantAccess.read(v, k, t.ti(nullable), t.opts)
    def oracle(v: Column) = ColumnGetters.getScalar(v, t.kind, nullable, t.opts, t.dt64)
    val f = ColumnGetters.field(msg, key)
    val arr = try_variant_get(ColumnGetters.field(msg, "a"), "$", "array<variant>")
    Seq(oracle(f), mine(msg, Some(key)), mine(f, None),
      transform(arr, e => oracle(e)), transform(arr, e => mine(e, None)))
  }

  /** One message per row, in one partition. */
  private def frame(texts: Seq[String]) = {
    val schema = StructType(Seq(StructField("value", StringType)))
    spark.createDataFrame(texts.map(Row(_)).asJava, schema).coalesce(1)
  }

  /** Compares every target's reads over `texts` (one message each). */
  private def assertAgree(texts: Seq[String]): Unit = {
    val df = frame(texts)
    val msg = parse_json(col("value"))
    targets.grouped(6).foreach { chunk =>
      val rows = df.select(col("value") +: chunk.flatMap { case (t, n) =>
        reads(t, n, msg, "v") }: _*).collect()
      rows.foreach { r =>
        chunk.zipWithIndex.foreach { case ((t, n), j) =>
          val Seq(want, keyed, root, wantArr, rootArr) = (1 to 5).map(i => r.get(1 + 5 * j + i - 1))
          val clue = s"${t.name}${if (n) " nullable" else ""} on ${String.valueOf(r.getString(0)).take(200)}"
          assert(keyed === want, s"keyed read: $clue")
          assert(root === want, s"root read: $clue")
          assert(rootArr === wantArr, s"array element read: $clue")
        }
      }
    }
  }

  test("each scalar kind reads every edge value like the Column getter") {
    val texts = edges.map(message(_)) ++ Seq(
      """{"w": 1}""", """{"v": null, "a": [null]}""", """{}""", "[1]", "5", "\"s\"",
      """{"a": 7}""", null)
    assertAgree(texts)
  }

  test("each scalar kind agrees with the Column getter on generated messages") {
    val texts = ReadCorpus.generated(400, seed = 42L)
    assert(texts.count(_.contains("\"v\":")) > 300)
    assertAgree(texts)
  }

  test("each of the 27 date layouts, and the per-field layout cache") {
    val zone = ZoneId.of("UTC")
    assert(layoutSamples.size === GoLayouts.goLayouts.size)
    layoutSamples.zipWithIndex.foreach { case (s, i) =>
      assert(GoLayouts.parseWith(i, s, zone) != null, s"sample $i does not fit its layout: $s")
    }
    // one column per layout; the second row gives each column the next
    // layout's sample, which its cached layout then rejects
    val n = layoutSamples.size
    val texts = Seq(0, 1, 0).map(shift => (0 until n)
      .map(i => f"${quote(f"d$i%02d")}:${quote(layoutSamples((i + shift) % n))}")
      .mkString("{", ",", "}"))
    val df = frame(texts)
    val msg = parse_json(col("value"))
    for (opts <- Seq(utc, ParseOpts("Asia/Shanghai")); nullable <- Seq(false, true)) {
      val t = Target("DateTime", ChKind.DateTime, opts, 0)
      val rows = df.select((0 until n).flatMap(i =>
        reads(t, nullable, msg, f"d$i%02d").take(3)): _*).collect()
      rows.zipWithIndex.foreach { case (r, row) =>
        (0 until n).foreach { i =>
          val want = r.get(3 * i)
          assert(r.get(3 * i + 1) === want, s"keyed read, layout $i, row $row")
          assert(r.get(3 * i + 2) === want, s"root read, layout $i, row $row")
        }
      }
      // every sample parses in the first and third rows; in the second,
      // the cached layouts reject most of the next layout's samples
      def parsed(row: Int, i: Int) =
        !rows(row).isNullAt(3 * i) && rows(row).getTimestamp(3 * i).getTime != 0L
      assert((0 until n).forall(i => parsed(0, i) && parsed(2, i)))
      assert((0 until n).count(i => !parsed(1, i)) > n / 2)
    }
  }

  // ---- maps, arrays and Object('json') ----------------------------------

  /** Typed map keys, each converted as the oracle's `transform_keys` does. */
  private val keyed: Seq[Container] = Seq("Int64", "Int8", "UInt8", "UInt64", "IPv4")
    .map(k => Container(s"Map($k, String)", ChType.whichType(s"Map($k, String)"), utc)) ++ Seq(
      Container("Map(DateTime, String)", ChType.whichType("Map(DateTime, String)"), utc),
      Container("Map(DateTime, String) ms", ChType.whichType("Map(DateTime, String)"),
        ParseOpts("Asia/Shanghai", 0.001)),
      Container("Map(UInt32, Nullable(Int16))", ChType.whichType("Map(UInt32, Nullable(Int16))"),
        utc))

  /** Oracle, keyed read, root read. */
  private def containerReads(c: Container, msg: Column): Seq[Column] = {
    val f = ColumnGetters.field(msg, "v")
    Seq(ColumnGetters.get(f, c.ti, c.opts),
      VariantAccess.read(msg, Some("v"), c.ti, c.opts),
      VariantAccess.read(f, None, c.ti, c.opts))
  }

  private val jackson = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Whether a container case can compare `text` (see the class comment). */
  private def comparable(text: String): Boolean = {
    def asciiKeys(n: com.fasterxml.jackson.databind.JsonNode): Boolean =
      n.fieldNames.asScala.forall(_.forall(_ < 0x80)) && n.elements.asScala.forall(asciiKeys)
    Charset.defaultCharset == StandardCharsets.UTF_8 || text == null ||
      Try(jackson.readTree(text)).toOption.forall(asciiKeys)
  }

  private def assertContainerRow(c: Container, text: String, r: Row, from: Int): Unit = {
    val Seq(want, keyedRead, root) = (0 until 3).map(i => r.get(from + i))
    val clue = s"${c.name} on ${String.valueOf(text).take(200)}"
    assert(keyedRead === want, s"keyed read: $clue")
    assert(root === want, s"root read: $clue")
  }

  test("maps, arrays and Object('json') read every edge value like the Column getters") {
    val wide = (0 until 300).map(i => f""""f$i%04d":${edges(i % edges.size)}""")
      .mkString("{", ",", "}")
    val long = ((0 until 300).map(i => edges(i % edges.size)) :+ quote("z" * 70000))
      .mkString("[", ",", "]")
    val values = edges ++ Seq(wide, long)
    // each value itself, as a map value and as array elements
    val texts = values.flatMap(e => Seq(s"""{"v":$e}""", s"""{"v":{"k":$e,"z":$e}}""",
      s"""{"v":[$e,$e]}""")) ++
      Seq("""{"w": 1}""", """{"v": null}""", """{}""", "[1]", "5", "\"s\"", null)
    val df = frame(texts.filter(comparable))
    val msg = parse_json(col("value"))
    containers.grouped(8).foreach { chunk =>
      val rows = df.select(col("value") +: chunk.flatMap(containerReads(_, msg)): _*).collect()
      rows.foreach(r => chunk.zipWithIndex.foreach { case (c, j) =>
        assertContainerRow(c, r.getString(0), r, 1 + 3 * j) })
    }
  }

  test("typed map keys convert like the Column getter wherever it does not throw") {
    val keys = Seq("0", "1", "01", "-1", "+1", " 1", "1 ", "1.5", "-1.5", "1e2", "x", "",
      "127", "128", "-129", "255", "256", "65535", "65536", "4294967296",
      "9223372036854775807", "9223372036854775808", "18446744073709551615",
      "18446744073709551616", "true", "2009-07-13", "2009-07-13 09:07:13",
      "13/Jul/2009", "1500000000", "1500000000123", "1500000000.5", "-5", "é", "0x10",
      "192.168.1.1")
    val texts = keys.zipWithIndex.map { case (k, i) =>
      s"""{"v":{${quote(k)}:${edges(i * 7 % edges.size)}}}""" } ++ Seq(
      """{"v":{"1":1,"2":"two","3":null,"40":[4]}}""",
      """{"v":{"2009-07-13":"a","2009-07-14 01:02:03":"b","1500000000":"c"}}""",
      """{"v":{"1":"a","01":"b"}}""",
      keys.map(k => s"${quote(k)}:${quote(k)}").mkString("""{"v":{""", ",", "}}"),
      """{"v":[1]}""", """{"v":7}""", """{"w":{}}""")
    val msg = parse_json(col("value"))
    var compared = 0
    for (c <- keyed; text <- texts.filter(comparable)) {
      val df = frame(Seq(text))
      val Seq(want, mine, root) = containerReads(c, msg)
      Try(df.select(want, mine, root).head()).toOption match {
        case Some(r) => assertContainerRow(c, text, r, 0); compared += 1
        // the oracle threw (NULL_MAP_KEY, DUPLICATED_MAP_KEY): the reads
        // still give a map
        case None    => assert(df.select(mine, root).head().toSeq.forall(_ != null),
          s"${c.name} on $text")
      }
    }
    assert(compared > keyed.size * 10)
  }
}
