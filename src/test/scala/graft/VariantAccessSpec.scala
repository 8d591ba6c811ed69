package graft

import java.nio.charset.{Charset, StandardCharsets}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.dynamic.SchemaEvolution
import graft.functions.{ChGetters, VariantKindOps}
import graft.types.ChKind

/** The in-place variant walk that every typed read stands on
  * ([[graft.functions.VariantAccessOps]]: `locate`, `stringAt`, and
  * `kindAt` for the kind tag), exposed as Columns by
  * [[ColumnGetters]]' `field`, `string` and `kind`, agrees with the
  * built-ins it replaces: a field with `try_variant_get(msg, path,
  * "variant")` and a string with `try_variant_get(f, "$", "string")` (on
  * strings; NULL elsewhere), compared by `to_json`, kind tag and string
  * over generated messages that cover every byte layout the walk decodes:
  * 1- and 4-byte object sizes, 1- and 2-byte field ids, value offsets and
  * dictionary offsets, short and long strings, objects wide enough for
  * the built-in's binary search, keys whose UTF-8 and UTF-16 orders
  * differ, and non-object roots.
  *
  * Spark decodes dictionary keys and strings with the platform default
  * charset (`VariantUtil.getMetadataKey`, the string cast), so under a
  * non-UTF-8 default the built-in misses every non-ASCII key and mangles
  * every non-ASCII string. There the built-in is compared on ASCII only;
  * every read is also compared with an oracle that needs no key lookup:
  * the member's own value text, parsed (and, for strings, decoded by
  * Jackson).
  */
class VariantAccessSpec extends AnyFunSuite with LocalSpark {

  import spark.implicits._

  // ---- JSON text generation -------------------------------------------

  /** A message's text and, when its root is an object, the value text of
    * each top-level member.
    */
  private final case class Msg(text: String, members: Option[Seq[(String, String)]])

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

  private def obj(members: Seq[(String, String)]): String =
    members.map { case (k, v) => s"${quote(k)}:$v" }.mkString("{", ",", "}")

  private def objMsg(members: Seq[(String, String)]): Msg = Msg(obj(members), Some(members))

  private val asciiKeys: IndexedSeq[String] = IndexedSeq(
    "id", "name", "a", "ab", "abc", "b", "Z", "x_1", "key with space", "dot.key",
    "br[0]", "dash-key", "time", "value", "price", "app.kubernetes.io/name", "",
    "longkey_" + "q" * 40) ++ (0 until 20).map(i => f"k$i%02d")

  /** 2-, 3- and 4-byte UTF-8, and U+E000..U+FFFF next to supplementary
    * characters: the pair whose UTF-8 byte order and Java String order
    * (the builder's field order) disagree.
    */
  private val unicodeKeys: IndexedSeq[String] = IndexedSeq(
    "é", "ÿ", "ä", "ö", "ü", "\u0800",
    "ключ", "日本語", "\ud7ff", "\ue000", "Ａ", "\uffff",
    "😀", "𝄞", "a😀", "a\ue000", "a\uffff", "z😀z")

  private val pool = asciiKeys ++ unicodeKeys

  private val strings: Gen[String] = Gen.oneOf(
    Gen.const(""), Gen.const("x" * 63), Gen.const("y" * 64), Gen.const("w" * 255),
    Gen.const("v" * 256), Gen.const("z" * 10000), Gen.const("é" * 40),
    Gen.const("日本語テキスト"), Gen.const("😀 emoji"),
    Gen.const("quote \" back \\ nl \n tab \t ctl \u0001"),
    Gen.const("2009-07-13 09:07:13"), Gen.alphaNumStr)

  private val scalars: Gen[String] = Gen.oneOf(
    Gen.const("null"), Gen.const("true"), Gen.const("false"),
    Gen.choose(-1000L, 1000L).map(_.toString), Gen.const("9223372036854775807"),
    Gen.const("-9223372036854775808"), Gen.const("18446744073709551615"),
    Gen.const("123.321"), Gen.const("1.5e300"), Gen.const("12.340"), Gen.const("-0.0"),
    strings.map(quote))

  // nested objects use ASCII keys: the built-in rebuilds a nested object
  // through the charset-decoded keys, so two same-length non-ASCII keys
  // there would collide
  private def values(depth: Int): Gen[String] =
    if (depth <= 0) scalars
    else Gen.frequency(
      6 -> scalars,
      1 -> Gen.listOfN(3, values(depth - 1)).map(_.mkString("[", ",", "]")),
      1 -> Gen.const("[]"),
      1 -> Gen.const("{}"),
      1 -> (for {
        ks <- Gen.pick(3, asciiKeys)
        vs <- Gen.listOfN(3, values(depth - 1))
      } yield obj(ks.toSeq.zip(vs))))

  private def members(keys: Gen[Seq[String]]): Gen[Seq[(String, String)]] =
    for {
      ks <- keys
      vs <- Gen.listOfN(ks.size, values(2))
    } yield ks.zip(vs)

  private def subset(keys: IndexedSeq[String], lo: Int, hi: Int): Gen[Seq[String]] =
    Gen.choose(lo, math.min(hi, keys.size)).flatMap(n => Gen.pick(n, keys)).map(_.toSeq)

  private val fillers: Gen[Seq[(String, String)]] =
    Gen.choose(256, 320).flatMap(n =>
      Gen.listOfN(n, scalars).map(vs => vs.zipWithIndex.map { case (v, i) => f"f$i%04d" -> v }))

  /** One message per layout family, top-level keys drawn from `keys`. */
  private def messages(keys: IndexedSeq[String]): Gen[Msg] = Gen.frequency(
    // small objects: 1-byte size, ids and offsets
    4 -> members(subset(keys, 0, 12)).map(objMsg),
    // >= 32 fields: where the built-in switches to a binary search
    2 -> members(subset(keys, 32, keys.size)).map(objMsg),
    // > 255 fields and > 256 keys: 4-byte size, 2-byte ids, long metadata
    1 -> (for { p <- members(subset(keys, 1, 20)); f <- fillers } yield objMsg(f ++ p)),
    // a small top-level object whose keys get ids > 255 (a nested object
    // fills the dictionary first) and long values (2-byte offsets)
    1 -> (for {
      f <- fillers
      p <- members(subset(keys, 1, 10))
      s <- Gen.oneOf("v" * 300, "z" * 10000)
    } yield objMsg(Seq("nested" -> obj(f), "long" -> quote(s)) ++ p)),
    // non-object roots
    1 -> values(2).map(v => Msg(if (v.startsWith("{")) s"[$v]" else v, None)))

  private def generated(n: Int, seed: Long, keys: IndexedSeq[String] = pool): Seq[Msg] =
    Gen.listOfN(n, messages(keys)).pureApply(Gen.Parameters.default, Seed(seed))

  // ---- in-place vs built-in vs the parsed member text ------------------

  private val probes = pool ++ Seq("f0000", "f0255", "nested", "long", "absent")

  private val builtinKeys: Set[String] =
    if (Charset.defaultCharset == StandardCharsets.UTF_8) probes.toSet
    else probes.filter(_.forall(_ < 0x80)).toSet

  /** Row: the message text, then one expected-value-text column per probe. */
  private def frame(msgs: Seq[Msg]): DataFrame = {
    val schema = StructType(StructField("value", StringType) +:
      probes.indices.map(i => StructField(s"e$i", StringType)))
    val rows = msgs.map { m =>
      val byKey = m.members.getOrElse(Nil).toMap
      Row.fromSeq(m.text +: probes.map(k => byKey.getOrElse(k, null)))
    }
    spark.createDataFrame(rows.asJava, schema)
  }

  private def read(f: Column, str: Column): Column =
    struct(to_json(f).as("json"), ColumnGetters.kind(f).as("kind"), str.as("str"))

  private def builtinStr(f: Column): Column = try_variant_get(f, "$", "string")

  private val utf8Default = Charset.defaultCharset == StandardCharsets.UTF_8
  private val jackson = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Compares every probe read three ways; returns the string reads seen.
    * The expected string comes from the member text (Jackson), since
    * Spark's string cast also decodes with the default charset.
    */
  private def assertAgree(msgs: Seq[Msg]): Int = {
    val df = frame(msgs)
    val msg = parse_json(col("value"))
    var strs = 0
    probes.indices.grouped(8).foreach { chunk =>
      val cols = chunk.flatMap { i =>
        val k = probes(i)
        val mine = ColumnGetters.field(msg, k)
        val want = parse_json(col(s"e$i"))
        val builtin = try_variant_get(msg, "$['" + k + "']", "variant")
        Seq(read(mine, ColumnGetters.string(mine)), read(want, lit(null)),
          if (builtinKeys(k)) read(builtin, builtinStr(builtin)) else lit(null))
      }
      df.select(cols: _*).collect().zip(msgs).foreach { case (r, m) =>
        val byKey = m.members.getOrElse(Nil).toMap
        chunk.zipWithIndex.foreach { case (i, j) =>
          val k = probes(i)
          val str = byKey.get(k).map(t => jackson.readTree(t).textValue()).orNull
          val mine = r.getStruct(3 * j)
          Seq(Option(r.getStruct(3 * j + 1)), Option(r.getStruct(3 * j + 2))).flatten
            .foreach { want =>
              assert(mine.get(0) === want.get(0), s"to_json differs for key '$k'")
              assert(mine.get(1) === want.get(1), s"kind differs for key '$k'")
            }
          assert(mine.getString(2) === str, s"string differs for key '$k'")
          Option(r.getStruct(3 * j + 2)).filter(_ => str != null)
            .filter(_ => utf8Default || str.forall(_ < 0x80))
            .foreach(b => assert(b.getString(2) === str, s"built-in string differs for '$k'"))
          if (str != null) strs += 1
        }
      }
    }
    strs
  }

  test("field and string reads agree with try_variant_get on generated messages") {
    val msgs = generated(240, seed = 7L)
    // every layout family showed up
    assert(msgs.exists(_.members.isEmpty))
    assert(msgs.exists(_.members.exists(_.size > 300)))
    assert(msgs.exists(_.members.exists(m => m.size >= 32 && m.size < 256)))
    assert(msgs.exists(_.text.startsWith("{\"nested\"")))
    assert(assertAgree(msgs) > 100)
  }

  test("each layout boundary, one message at a time") {
    val wide = (0 until 300).map(i => f"f$i%04d" -> i.toString) :+
      ("é" -> quote("x" * 64))
    val idsOver255 = Seq("nested" -> obj((0 until 300).map(i => s"q$i" -> "1")),
      "id" -> "7", "😀" -> quote("ok"))
    val longValues = Seq("a" -> quote("v" * 300), "b" -> quote(""), "long" -> "null")
    val longMeta = Seq(("k00" + "k" * 300) -> "1", "id" -> quote("y" * 63))
    val everyKey = pool.map(k => k -> quote(k))
    val msgs = Seq(wide, idsOver255, longValues, longMeta, everyKey).map(objMsg) ++
      Seq("[1,2]", "\"s\"", "42", "null", "true", "{}").map(Msg(_, None)) :+ Msg(null, None)
    assertAgree(msgs)
    // a long-string payload is read without a rebuild, byte for byte
    val s = frame(msgs).select(ColumnGetters.string(
      ColumnGetters.field(parse_json(col("value")), "a"))).collect().map(_.getString(0))
    assert(s.toSeq.contains("v" * 300))
  }

  test("NULL message, missing key and non-object root give NULL; JSON null a variant null") {
    val df = Seq("""{"a": null, "b": 1}""", "[1]", "not json").toDF("value")
    val msg = ChGetters.parsed(col("value"))
    val r = df.select(
      ColumnGetters.kind(ColumnGetters.field(msg, "a")),
      ColumnGetters.field(msg, "zz").isNull,
      ColumnGetters.field(msg, "b").isNull).collect()
    assert(r(0).getInt(0) === VariantKindOps.NullK)
    assert(r(0).getBoolean(1) && !r(0).getBoolean(2))
    assert(r(1).isNullAt(0) && r(1).getBoolean(1) && r(1).getBoolean(2))
    assert(r(2).isNullAt(0) && r(2).getBoolean(1) && r(2).getBoolean(2))
  }

  test("keys the JSON-path syntax cannot spell are still found") {
    val df = Seq("""{"it's": 1, "back\\slash": "b", "say \"hi\"": [2], "$.a": true}""")
      .toDF("value")
    val msg = parse_json(col("value"))
    val r = df.select(Seq("it's", "back\\slash", "say \"hi\"", "$.a")
      .map(k => to_json(ColumnGetters.field(msg, k))): _*).head()
    assert(r.toSeq === Seq("1", "\"b\"", "[2]", "true"))
  }

  // ---- detectNewKeys ---------------------------------------------------

  /** Per new key: the kinds of its values and its string values. */
  private type Seen = Map[String, (Set[Int], Set[String])]

  /** What the built-in map path shows of each key outside `known`
    * (keys decoded with the default charset; strings read by their bytes).
    */
  private def builtinSeen(batch: DataFrame, known: Set[String]): Seen =
    batch
      .select(explode(try_variant_get(try_parse_json(col("value")), "$",
        "map<string,variant>")).as(Seq("k", "v")))
      .filter(!col("k").isin(known.toSeq: _*))
      .groupBy(col("k"))
      .agg(collect_set(ColumnGetters.kind(col("v"))), collect_set(ColumnGetters.string(col("v"))))
      .collect()
      .map(r => r.getString(0) -> ((r.getSeq[Int](1).toSet, r.getSeq[String](2).toSet)))
      .toMap

  /** The same from the members' own value texts: parsed for the kind,
    * decoded by Jackson for the string; no key is decoded by Spark.
    */
  private def memberSeen(msgs: Seq[Msg], known: Set[String]): Seen = {
    val pairs = msgs.flatMap(_.members.getOrElse(Nil)).filterNot(p => known(p._1))
    val kinds = pairs.map(_._2).distinct.toDF("t")
      .select(col("t"), ColumnGetters.kind(parse_json(col("t")))).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    pairs.groupBy(_._1).map { case (k, ps) =>
      k -> ((ps.map(p => kinds(p._2)).toSet,
        ps.flatMap(p => Option(jackson.readTree(p._2).textValue())).toSet))
    }
  }

  /** The fold's kind bits are the set of the key's value kinds, and its
    * sample one of the key's string values (null when it has none).
    */
  private def assertFolds(got: Map[String, SchemaEvolution.KeyFold], want: Seen): Unit = {
    assert(want.nonEmpty)
    assert(got.keySet === want.keySet)
    want.foreach { case (k, (kinds, strs)) =>
      val f = got(k)
      assert(f.kinds === kinds.foldLeft(0)((bits, kind) => bits | (1 << kind)),
        s"kinds differ for key '$k'")
      if (strs.isEmpty) assert(f.sample === null, s"sample for string-less key '$k'")
      else assert(strs.contains(f.sample), s"sample '${f.sample}' is not a value of '$k'")
    }
  }

  private def cohorts: DataFrame = {
    val now = "2023-05-01T12:34:56.789Z"
    (1 to 100000).map { i =>
      val base = s""""time": "$now", "name": "name$i", "value": $i, "price": ${i / 1000.0}"""
      val extra =
        if (i <= 10000) ""
        else if (i <= 30000) s""", "newkey00": false, "newkey01": $i"""
        else if (i <= 50000)
          s""", "newkey02": $i.123, "newkey03": "name$i", "newkey04": "$now", "newkey05": {"k1":1,"k2":2}"""
        else if (i <= 70000)
          s""", "newkey06": [$i], "newkey07": [$i.123], "newkey08": ["name$i"], "newkey09": ["$now"], "newkey10": [{"k":1},{"k":2}]"""
        else ""
      s"{$base$extra}"
    }.toDF("value").repartition(4)
  }

  private val mixed: Seq[String] = Seq(
    """{"id": 1, "int_str": 5, "int_float": 1, "dec": 1.5, "maybe": null, "when": "2009-07-13", "flag": true, "obj_str": {"a": 1}, "dec2": 1.5, "": 1}""",
    """{"id": "x", "int_str": "five", "int_float": 1.25, "dec": 2, "maybe": 3, "when": "2010-01-02 03:04:05", "flag": 0, "obj_str": "s", "dec2": 123456.789, "big": 18446744073709551615}""",
    """{"id": 3, "maybe": 4, "only_null": null, "arr": [1], "empty": {}, "long": """ +
      quote("L" * 300) + "}",
    """[1, 2]""", """"root string"""", """not json""", """{}""")

  test("detectNewKeys: the in-place walk keeps the rebuild path's keys, tags and samples") {
    val known = Set("time", "name", "value", "price", "id")
    def fold(b: DataFrame) =
      SchemaEvolution.foldNewKeys(b, known)
    val ascii = generated(200, seed = 11L, keys = asciiKeys)
    val unicode = generated(200, seed = 13L)
    assert(unicode.exists(_.members.exists(_.exists(!_._1.forall(_ < 0x80)))))
    // the built-in map path, on every corpus whose keys it decodes
    (Seq(cohorts, mixed.toDF("value"), ascii.map(_.text).toDF("value")) ++
      (if (utf8Default) Seq(unicode.map(_.text).toDF("value")) else Nil)).foreach { b =>
      assertFolds(fold(b), builtinSeen(b, known))
    }
    // the members' own value texts, whatever the default charset
    Seq(ascii, unicode).foreach { msgs =>
      assertFolds(fold(msgs.map(_.text).toDF("value")), memberSeen(msgs, known))
    }
  }

  test("detectNewKeys: go.test.sh cohorts and a mixed-type batch") {
    val known = Set("time", "name", "value", "price")
    assert(SchemaEvolution.detectNewKeys(cohorts, known) === Seq(
      "newkey00" -> ChKind.Bool, "newkey01" -> ChKind.Int64, "newkey02" -> ChKind.Float64,
      "newkey03" -> ChKind.Str, "newkey04" -> ChKind.DateTime))
    assert(SchemaEvolution.detectNewKeys(mixed.toDF("value"), Set("id")) === Seq(
      "" -> ChKind.Int64, "big" -> ChKind.Float64, "dec2" -> ChKind.Float64,
      "long" -> ChKind.Str, "maybe" -> ChKind.Int64, "when" -> ChKind.DateTime))
  }

  test("detectNewKeys: non-ASCII keys come back as written, whatever the default charset") {
    val df = Seq(obj(Seq("id" -> "1", "ключ" -> quote("x"),
      "😀" -> "1.5", "\ue000" -> "2", "é" -> "true"))).toDF("value")
    assert(SchemaEvolution.detectNewKeys(df, Set("id")) === Seq(
      "é" -> ChKind.Bool, "ключ" -> ChKind.Str,
      "😀" -> ChKind.Float64, "\ue000" -> ChKind.Int64))
  }
}
