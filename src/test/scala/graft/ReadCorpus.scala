package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.ChGetters.ParseOpts
import graft.types.{ChKind, ChType, ChTypeInfo}

/** The message corpus the typed-read specs share: JSON values at every
  * edge the getters branch on, a sample of each of the 27 date layouts,
  * every scalar target (Nullable or not) and container target, and a
  * ScalaCheck generator of messages (`VariantReadSpec`, `JsonDecodeSpec`).
  */
object ReadCorpus {

  def quote(s: String): String = {
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
  val layoutSamples: IndexedSeq[String] = IndexedSeq(
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

  val strings: Seq[String] = Seq("", "x" * 63, "y" * 64, "z" * 10000, "é" * 40,
    "日本語テキスト", "😀 emoji", "quote \" back \\ nl \n tab \t ctl \u0001", "123", "true",
    "192.168.1.1", "256.1.1.1", "2001:db8::1", "::", "::ffff:1.2.3.4", "01.2.3.4",
    "fe80::1%eth0", "1.2.3", "abc", "0.0.0.0", "not a date") ++ layoutSamples

  /** JSON value texts at every edge the getters branch on. */
  val edges: Seq[String] = Seq(
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

  final case class Target(name: String, kind: ChKind, opts: ParseOpts, dt64: Int) {
    def ti(nullable: Boolean): ChTypeInfo =
      ChTypeInfo(kind, nullable = nullable, dateTime64Precision = dt64)
  }

  val utc = ParseOpts()
  val targets: Seq[(Target, Boolean)] = Seq(
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

  def message(v: String, fillers: Seq[(String, String)] = Nil): String =
    (fillers ++ Seq("v" -> v, "a" -> s"[$v]"))
      .map { case (k, x) => s"${quote(k)}:$x" }.mkString("{", ",", "}")

  /** `count` generated messages: most with key `v` (and `a`, its array) among
    * up to 40 filler keys, some with fillers only, some a bare value.
    */
  def generated(count: Int, seed: Long): Seq[String] = {
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
    Gen.listOfN(count, msgs).pureApply(Gen.Parameters.default, Seed(seed))
  }

  /** A container read's target: its type and the options its reads use. */
  final case class Container(name: String, ti: ChTypeInfo, opts: ParseOpts)

  def mapOf(t: Target, nullable: Boolean): Container =
    Container(s"Map(String, ${if (nullable) s"Nullable(${t.name})" else t.name})",
      ChTypeInfo(ChKind.MapK, mapKey = Some(ChTypeInfo(ChKind.Str)),
        mapValue = Some(t.ti(nullable))), t.opts)

  val containers: Seq[Container] =
    targets.map { case (t, n) => mapOf(t, n) } ++
      targets.collect { case (t, false) =>
        Container(s"Array(${t.name})", t.ti(nullable = false).copy(array = true), t.opts) } ++
      Seq(Container("Object('json')", ChTypeInfo(ChKind.Obj), utc),
        Container("Map(String, Map(String, UInt32))",
          ChType.whichType("Map(String, Map(String, UInt32))"), utc))
}
