package graft

import java.time.ZoneId

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{GoLayouts, VariantAccess}
import graft.functions.ChGetters.ParseOpts
import graft.types.ChKind

/** The typed reads ([[graft.functions.ScalarRead]]) agree with the
  * Column-composed getters they replaced ([[ColumnGetters]]) for every
  * scalar kind, Nullable or not: keyed (`VariantAccess.read` at top-level
  * key `v` of the message), at the root of the bound field, and as array
  * elements inside `transform` (interpreted evaluation, where the
  * projection itself is generated code). The values cover a missing key
  * and a JSON null, bools, every target's clamp edges and one past them,
  * 2^63 and 2^64 +- 1, big and fractional decimals with their ".0" forms,
  * doubles up to +-max in exponent form and past it (+-Infinity), empty,
  * 63/64-byte, 10 KB and non-ASCII strings, nested objects and arrays,
  * valid and invalid IPs, epoch numbers around 0 and 2^32 under a
  * millisecond timeUnit and DateTime64(3), and a sample of each of the
  * 27 date layouts.
  *
  * Both sides decode strings and object keys the same way, so non-ASCII
  * values are compared under whatever default charset the JVM has.
  */
class VariantReadSpec extends AnyFunSuite with LocalSpark {

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** One sample per Go layout, in `GoLayouts.goLayouts` order. */
  private val layoutSamples: IndexedSeq[String] = IndexedSeq(
    "2009-07-13T09:07:13+08:00", "2009-07-13T09:07:13+0800", "2009-07-13T09:07:13",
    "2009-07-13 09:07:13+08:00", "2009-07-13 09:07:13+0800", "2009-07-13 09:07:13.123",
    "Mon Jul  6 09:07:13 2009", "Mon Jul  6 09:07:13 UTC 2009",
    "Mon Jul 13 09:07:13 -0700 2009", "13 Jul 09 09:07 UTC", "13 Jul 09 09:07 -0700",
    "Monday, 13-Jul-09 09:07:13 UTC", "Mon, 13 Jul 2009 09:07:13 UTC",
    "Mon, 13 Jul 2009 09:07:13 -0700", "Mon Jul 13 09:07:13 UTC 2009",
    "Mon 13 Jul 2009 09:07:13 AM UTC", "Jul 13, 2009 09:07:13+08:00",
    "Jul 13, 2009 09:07:13+0800", "Jul 13, 2009 09:07:13", "13/Jul/2009 09:07:13 +08:00",
    "13/Jul/2009 09:07:13 +0800", "13/Jul/2009 09:07:13", "2009-07-13", "13/07/2009",
    "13/Jul/2009", "Jul 13, 2009", "Mon Jul 13, 2009")

  private val strings: Seq[String] = Seq("", "x" * 63, "y" * 64, "z" * 10000, "é" * 40,
    "日本語テキスト", "😀 emoji", "quote \" back \\ nl \n tab \t ctl \u0001", "123", "true",
    "192.168.1.1", "256.1.1.1", "2001:db8::1", "::", "::ffff:1.2.3.4", "01.2.3.4",
    "fe80::1%eth0", "1.2.3", "abc", "0.0.0.0", "not a date") ++ layoutSamples

  /** JSON value texts at every edge the getters branch on. */
  private val edges: Seq[String] = Seq(
    "true", "false", "null", "0", "-1", "1",
    "-129", "-128", "-127", "126", "127", "128", "254", "255", "256",
    "-32769", "-32768", "-32767", "32766", "32767", "32768", "65534", "65535", "65536",
    "-2147483649", "-2147483648", "-2147483647", "2147483646", "2147483647", "2147483648",
    "4294967294", "4294967295", "4294967296",
    "-9223372036854775809", "-9223372036854775808", "-9223372036854775807",
    "9223372036854775806", "9223372036854775807", "9223372036854775808", "9223372036854775809",
    "18446744073709551614", "18446744073709551615", "18446744073709551616",
    "18446744073709551617", "99999999999999999999999999999999999999",
    // decimals: fractional, ".0" forms beside the same digits without
    // one, rounding and overflow edges of DECIMAL(38, 9)
    "28.0", "-3.0", "28.00", "123.321", "0.5", "-0.5", "1.0000000005", "1.00000000049",
    "9223372036854775807.0", "9223372036854775808.0", "9223372036854775808.00",
    "18446744073709551615.0", "18446744073709551615.00", "18446744073709551616.0",
    "-9223372036854775809.0", "12345678901234567890.123456789",
    "99999999999999999999999999999.9999999994", "99999999999999999999999999999.9999999995",
    "100000000000000000000000000000.0",
    // doubles
    "1.7976931348623157e308", "-1.7976931348623157e308", "1.7976931348623157E+308",
    "3.4028234663852886e38", "3.5e38", "-3.5e38", "1e-300", "4.9e-324", "1.5e300",
    "-0.0", "1E2", "2.5e-3", "1e19", "1.8446744073709552e19", "-1e19",
    // past the double range: parsed as a DOUBLE of +-Infinity
    "1e400", "-1e400", "9" * 400,
    // epoch numbers around 0 and 2^32, in seconds and in milliseconds
    "1500000000", "1500000000123", "4294967295999", "4294967296000", "4294967295.5",
    "1500000000.5", "-0.001", "0.0",
    // nested values
    "{}", "[]", """{"a":1,"b":[1,2,{"c":"d"}]}""", """[1,"x",null,true]""",
    """{"é":"ü","k":{"z":null}}""") ++ strings.map(quote)

  private final case class Target(name: String, kind: ChKind, opts: ParseOpts, dt64: Int)

  private val utc = ParseOpts()
  private val targets: Seq[(Target, Boolean)] = Seq(
    Target("Bool", ChKind.Bool, utc, 0),
    Target("Int8", ChKind.Int8, utc, 0), Target("Int16", ChKind.Int16, utc, 0),
    Target("Int32", ChKind.Int32, utc, 0), Target("Int64", ChKind.Int64, utc, 0),
    Target("UInt8", ChKind.UInt8, utc, 0), Target("UInt16", ChKind.UInt16, utc, 0),
    Target("UInt32", ChKind.UInt32, utc, 0), Target("UInt64", ChKind.UInt64, utc, 0),
    Target("Float32", ChKind.Float32, utc, 0), Target("Float64", ChKind.Float64, utc, 0),
    Target("Decimal", ChKind.Decimal, utc, 0), Target("DateTime", ChKind.DateTime, utc, 0),
    Target("DateTime ms", ChKind.DateTime, ParseOpts("Asia/Shanghai", 0.001), 0),
    Target("DateTime64(3)", ChKind.DateTime, utc, 3), Target("String", ChKind.Str, utc, 0),
    Target("IPv4", ChKind.IPv4, utc, 0), Target("IPv6", ChKind.IPv6, utc, 0)
  ).flatMap(t => Seq(t -> false, t -> true))

  /** Oracle, keyed read, root read, oracle and root read per array element. */
  private def reads(t: Target, nullable: Boolean, msg: Column, key: String): Seq[Column] = {
    def mine(v: Column, k: Option[String]) =
      VariantAccess.read(v, k, t.kind, nullable, t.opts, t.dt64)
    def oracle(v: Column) = ColumnGetters.getScalar(v, t.kind, nullable, t.opts, t.dt64)
    val f = VariantAccess.field(msg, key)
    val arr = try_variant_get(VariantAccess.field(msg, "a"), "$", "array<variant>")
    Seq(oracle(f), mine(msg, Some(key)), mine(f, None),
      transform(arr, e => oracle(e)), transform(arr, e => mine(e, None)))
  }

  /** Compares every target's reads over `texts` (one message each). */
  private def assertAgree(texts: Seq[String]): Unit = {
    val schema = StructType(Seq(StructField("value", StringType)))
    val df = spark.createDataFrame(texts.map(Row(_)).asJava, schema).coalesce(1)
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

  private def message(v: String, fillers: Seq[(String, String)] = Nil): String =
    (fillers ++ Seq("v" -> v, "a" -> s"[$v]"))
      .map { case (k, x) => s"${quote(k)}:$x" }.mkString("{", ",", "}")

  test("each scalar kind reads every edge value like the Column getter") {
    val texts = edges.map(message(_)) ++ Seq(
      """{"w": 1}""", """{"v": null, "a": [null]}""", """{}""", "[1]", "5", "\"s\"",
      """{"a": 7}""", null)
    assertAgree(texts)
  }

  test("each scalar kind agrees with the Column getter on generated messages") {
    val values: Gen[String] = Gen.frequency(
      4 -> Gen.oneOf(edges),
      2 -> Gen.choose(Long.MinValue, Long.MaxValue).map(_.toString),
      2 -> Gen.choose(-70000L, 70000L).map(_.toString),
      1 -> Gen.choose(-1e20, 1e20).map(_.toString),
      1 -> Gen.choose(0.0, 5e9).map(d => f"$d%.3f"),
      1 -> Gen.alphaNumStr.map(quote),
      1 -> Gen.oneOf(layoutSamples).map(quote))
    val fillers: Gen[Seq[(String, String)]] = Gen.choose(0, 40).flatMap(n =>
      Gen.listOfN(n, values).map(_.zipWithIndex.map { case (x, i) => f"k$i%02d" -> x }))
    val msgs: Gen[String] = Gen.frequency(
      8 -> (for { v <- values; f <- fillers } yield message(v, f)),
      1 -> fillers.map(f => f.map { case (k, x) => s"${quote(k)}:$x" }.mkString("{", ",", "}")),
      1 -> values)
    val texts = Gen.listOfN(400, msgs).pureApply(Gen.Parameters.default, Seed(42L))
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
    val schema = StructType(Seq(StructField("value", StringType)))
    val df = spark.createDataFrame(texts.map(Row(_)).asJava, schema).coalesce(1)
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
}
