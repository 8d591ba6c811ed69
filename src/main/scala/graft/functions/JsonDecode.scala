package graft.functions

import java.io.IOException

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import org.apache.spark.types.variant.{VariantBuilder, VariantSizeLimitException}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.{UTF8String, VariantVal}
import org.apache.spark.util.LongAccumulator

import com.fasterxml.jackson.core.{JsonFactory, JsonParseException, JsonParser, JsonToken, ObjectCodec}
import com.fasterxml.jackson.core.JsonToken._
import com.fasterxml.jackson.core.exc.InputCoercionException
import com.fasterxml.jackson.core.io.IOContext
import com.fasterxml.jackson.core.json.UTF8StreamJsonParser
import com.fasterxml.jackson.core.sym.ByteQuadsCanonicalizer

import graft.functions.VariantKindOps.{ArrK, BoolK, Dec0K, DecFracK, FloatK, IntK, NullK, ObjK, StrK}

/** One Jackson pass over a JSON message, with the acceptance rules of
  * `try_parse_json` (`VariantBuilder.parseJson` over `UTF8String.toString`):
  *
  *   - Jackson's default `JsonFactory` and its limits;
  *   - a duplicate key at any depth, an empty message or any syntax error
  *     rejects the message;
  *   - anything after the root value is ignored;
  *   - a message of valid UTF-8 is parsed from its own bytes, with no
  *     copy and no encoding detection (a byte-order mark is a syntax
  *     error, as in a `String`); bytes that are not valid UTF-8 as Java
  *     decodes it are parsed from the `String` that `UTF8String.toString`
  *     gives (each bad sequence a U+FFFD), since Jackson's byte parser
  *     rejects some of them and decodes others (overlong forms) to other
  *     characters;
  *   - a message the byte parser rejects is parsed again from its
  *     `String`, whose verdict stands: the byte parser also rejects some
  *     text the `String` parser takes (a key escaping a lone surrogate);
  *   - a value decodes to the kind `VariantBuilder.buildJson` gives it
  *     ([[decode]]).
  *
  * A message whose variant would pass Spark's 16 MiB size limit gets the
  * same result; one that would not is read here, where `try_parse_json`
  * gives NULL.
  */
object JsonDecoder {
  private val factory = new Parsers

  /** The default factory, plus a parser over a byte range of valid UTF-8. */
  private final class Parsers extends JsonFactory {
    def overBytes(data: Array[Byte], off: Int, len: Int): JsonParser = {
      val ctxt = _createContext(_createContentReference(data, off, len), false)
      new ByteParser(ctxt, _parserFeatures, _objectCodec,
        _byteSymbolCanonicalizer.makeChild(_factoryFeatures), data, off, off + len)
    }
  }

  /** A byte parser that reads a string value with no escape straight from
    * its input bytes.
    */
  private final class ByteParser(ctxt: IOContext, features: Int, codec: ObjectCodec,
      sym: ByteQuadsCanonicalizer, data: Array[Byte], start: Int, end: Int)
      extends UTF8StreamJsonParser(ctxt, features, null, codec, sym, data, start, end, 0, false) {
    private val maxString = ctxt.streamReadConstraints.getMaxStringLength

    /** The current string value's bytes, when they hold no escape and no
      * control character (the input is valid UTF-8, so they are what
      * `getText.getBytes(UTF_8)` gives); else null.
      */
    def rawString(): UTF8String = {
      if (!_tokenIncomplete) return null
      val from = _inputPtr
      var i = from
      while (i < _inputEnd && i - from <= maxString) {
        val b = _inputBuffer(i)
        if (b == '"') {
          _inputPtr = i + 1
          _tokenIncomplete = false
          return UTF8String.fromBytes(java.util.Arrays.copyOfRange(_inputBuffer, from, i))
        }
        if (b == '\\' || (b >= 0 && b < 0x20)) return null
        i += 1
      }
      null
    }
  }

  /** A parser over message `s`'s own bytes; null when they are not valid
    * UTF-8.
    */
  def overBytes(s: UTF8String): JsonParser = {
    val len = s.numBytes
    val (a, off) = s.getBaseObject match {
      case a: Array[Byte] => (a, (s.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt)
      case _              => (s.getBytes, 0)
    }
    if (validUtf8(a, off, len)) factory.overBytes(a, off, len) else null
  }

  /** A parser over `s.toString`, as `try_parse_json` parses. */
  def overString(s: UTF8String): JsonParser = factory.createParser(s.toString)

  /** Whether `b[off, off+len)` is well-formed UTF-8 (Unicode table 3-7:
    * no overlong form, no surrogate, nothing past U+10FFFF), which is
    * what Java's decoder keeps as is.
    */
  def validUtf8(b: Array[Byte], off: Int, len: Int): Boolean = {
    val end = off + len
    var i = off
    // ASCII, eight bytes at a time
    while (i + 8 <= end &&
      (Platform.getLong(b, Platform.BYTE_ARRAY_OFFSET + i) & 0x8080808080808080L) == 0L) i += 8
    def cont(j: Int): Boolean = j < end && (b(j) & 0xC0) == 0x80
    while (i < end) {
      val c = b(i) & 0xFF
      if (c < 0x80) i += 1
      else if (c >= 0xC2 && c <= 0xDF) { if (!cont(i + 1)) return false; i += 2 }
      else if (c >= 0xE0 && c <= 0xEF) {
        if (i + 1 >= end) return false
        val c1 = b(i + 1) & 0xFF
        val lo = if (c == 0xE0) 0xA0 else 0x80
        val hi = if (c == 0xED) 0x9F else 0xBF
        if (c1 < lo || c1 > hi || !cont(i + 2)) return false
        i += 3
      } else if (c >= 0xF0 && c <= 0xF4) {
        if (i + 1 >= end) return false
        val c1 = b(i + 1) & 0xFF
        val lo = if (c == 0xF0) 0x90 else 0x80
        val hi = if (c == 0xF4) 0x8F else 0xBF
        if (c1 < lo || c1 > hi || !cont(i + 2) || !cont(i + 3)) return false
        i += 4
      } else return false
    }
    true
  }

  /** Whether `e` means the message does not parse (`try_parse_json`'s NULL). */
  def rejects(e: Throwable): Boolean = e match {
    case _: IOException | _: VariantSizeLimitException => true
    case e: org.apache.spark.SparkThrowable => e.getCondition == "VARIANT_DUPLICATE_KEY"
    case _ => false
  }

  private def tokenKinds(t: JsonToken): Int = t match {
    case START_OBJECT => 1 << ObjK
    case START_ARRAY  => 1 << ArrK
    case VALUE_STRING => 1 << StrK
    case VALUE_NUMBER_INT | VALUE_NUMBER_FLOAT =>
      (1 << IntK) | (1 << FloatK) | (1 << Dec0K) | (1 << DecFracK)
    case VALUE_TRUE | VALUE_FALSE => 1 << BoolK
    case _ => 1 << NullK
  }

  /** Decodes the value at token `t` into `d`, as `VariantBuilder.buildJson`
    * types it: an integer that fits in int64 is IntK; other numbers made
    * only of `-`, `.` and digits, with precision and scale up to 38, are a
    * decimal (Dec0K at scale 0, else DecFracK); any other number is a
    * double. A value of a kind in `treeKinds` is built as a variant
    * (`Decoded.tree`); any other object or array is skipped, checked for
    * duplicate keys. Leaves the parser at the value's last token.
    */
  def decode(p: JsonParser, t: JsonToken, d: Decoded, treeKinds: Int): Unit =
    if ((tokenKinds(t) & treeKinds) != 0) {
      val v = VariantBuilder.parseJson(p, false)
      d.load(new VariantVal(v.getValue, v.getMetadata), 0)
    } else {
      d.tree = null
      d.at = -1
      t match {
        case VALUE_STRING =>
          d.kind = StrK
          d.string = p match {
            case b: ByteParser => b.rawString() match {
              case null => UTF8String.fromString(p.getText)
              case raw  => raw
            }
            case _ => UTF8String.fromString(p.getText)
          }
        case VALUE_NUMBER_INT =>
          try { d.long = p.getLongValue; d.kind = IntK }
          catch { case _: InputCoercionException => floating(p, d) }
        case VALUE_NUMBER_FLOAT => floating(p, d)
        case VALUE_TRUE  => d.kind = BoolK; d.long = 1L
        case VALUE_FALSE => d.kind = BoolK; d.long = 0L
        case START_OBJECT => skip(p); d.kind = ObjK
        case START_ARRAY  => skip(p); d.kind = ArrK
        case _ => d.kind = NullK
      }
    }

  private def floating(p: JsonParser, d: Decoded): Unit = {
    val text = p.getText
    if (text.forall(c => c == '-' || c == '.' || (c >= '0' && c <= '9'))) {
      val dec = new java.math.BigDecimal(text)
      if (dec.scale <= 38 && dec.precision <= 38) {
        d.decimal = dec
        d.kind = if (dec.scale == 0) Dec0K else DecFracK
        return
      }
    }
    d.double = p.getDoubleValue
    d.kind = FloatK
  }

  /** Skips the value at the current token, rejecting a duplicate key in
    * any object inside it.
    */
  def skip(p: JsonParser): Unit = p.currentToken match {
    case START_OBJECT =>
      var names: java.util.HashSet[String] = null
      while (p.nextToken() != END_OBJECT) {
        if (names == null) names = new java.util.HashSet[String]()
        if (!names.add(p.currentName)) duplicate(p)
        p.nextToken()
        skip(p)
      }
    case START_ARRAY => while (p.nextToken() != END_ARRAY) skip(p)
    case _ =>
  }

  def duplicate(p: JsonParser): Nothing =
    throw new JsonParseException(p, s"duplicate key '${p.currentName}'")
}

/** A walk over one message's top-level members. `member` is called at
  * each member's value token and must consume the value ([[JsonDecoder]]'s
  * `decode` or `skip`); it rejects a repeated key with [[once]] or its own
  * bookkeeping. A message is walked again, from the start, when the byte
  * parser rejects it ([[JsonDecoder]]); `start` resets what an attempt
  * keeps.
  */
abstract class MemberWalk {
  protected def member(name: String, p: JsonParser, t: JsonToken): Unit
  protected def start(): Unit

  private var names: java.util.HashSet[String] = null

  /** Rejects the message when `name` was already a member. */
  protected final def once(name: String, p: JsonParser): Unit = {
    if (names == null) names = new java.util.HashSet[String]()
    if (!names.add(name)) JsonDecoder.duplicate(p)
  }

  /** Whether message `s` parses; its members were visited (by the last
    * attempt) when it is an object. Throws only what
    * [[JsonDecoder.rejects]] does not cover.
    */
  final def walk(s: UTF8String): Boolean = {
    val bytes = JsonDecoder.overBytes(s)
    (bytes != null && attempt(bytes)) || attempt(JsonDecoder.overString(s))
  }

  private def attempt(p: JsonParser): Boolean = {
    if (names != null) names.clear()
    start()
    try {
      val t = p.nextToken()
      if (t == null) false
      else {
        if (t == START_OBJECT) {
          var name = p.nextFieldName()
          while (name != null) {
            member(name, p, p.nextToken())
            name = p.nextFieldName()
          }
        } else if (t == VALUE_STRING) p.finishToken() // read to its end, as getText
        else JsonDecoder.skip(p)
        true
      }
    } catch {
      case e: Exception if JsonDecoder.rejects(e) => false
    } finally p.close()
  }
}

/** Decodes a message into its typed row: read `i` of `reads` reads
  * top-level key `keys(i)`. Each key's value is decoded once and handed
  * to every read of that key, once the whole message has parsed (a read
  * can keep state, such as a DateTime layout cache, that a corrupt
  * message must not touch); a missing key is "no value". Not
  * thread-safe: each task has its own.
  */
final class RowDecoder(keys: Seq[String], reads: Seq[ValueRead]) extends MemberWalk {
  private val distinct = keys.distinct.toArray
  private val slotOf = new java.util.HashMap[String, Integer]()
  distinct.indices.foreach(i => slotOf.put(distinct(i), i))
  /** The reads of each distinct key. */
  private val slotReads: Array[Array[Int]] =
    distinct.map(k => keys.indices.filter(keys(_) == k).toArray)
  private val slotTree: Array[Int] =
    slotReads.map(_.foldLeft(0)((bits, i) => bits | reads(i).treeKinds))
  private val readArr = reads.toArray
  private val values = Array.fill(distinct.length)(new Decoded)
  private val missing = new Decoded
  /** The message count at which each key was last seen. */
  private val seen = new Array[Int](distinct.length)
  private var gen = 0

  protected def member(name: String, p: JsonParser, t: JsonToken): Unit = {
    val slot = slotOf.get(name)
    if (slot == null) { once(name, p); JsonDecoder.skip(p) }
    else {
      val k = slot.intValue
      if (seen(k) == gen) JsonDecoder.duplicate(p)
      seen(k) = gen
      JsonDecoder.decode(p, t, values(k), slotTree(k))
    }
  }

  protected def start(): Unit = gen += 1

  /** The typed row of message `s`; null when it does not parse. */
  def decode(s: UTF8String): InternalRow = {
    if (!walk(s)) return null
    val row = new Array[Any](readArr.length)
    var k = 0
    while (k < distinct.length) {
      val v = if (seen(k) == gen) values(k) else missing
      val rs = slotReads(k)
      var j = 0
      while (j < rs.length) { row(rs(j)) = readArr(rs(j)).evalDecoded(v); j += 1 }
      k += 1
    }
    new GenericInternalRow(row)
  }
}

/** The typed row of a JSON message column: one [[RowDecoder]] pass, read
  * `i` of `reads` at top-level key `keys(i)` giving field `_i`. NULL for
  * a message that does not parse, counted in `parseErrors`. Codegen is
  * one call: the decoder (with the accumulator) is a reference object, so
  * the generated code is the same in every batch.
  */
case class JsonDecode(child: Expression, keys: Seq[String], reads: Seq[ValueRead],
    parseErrors: Option[LongAccumulator]) extends UnaryExpression {
  require(keys.size == reads.size)
  override def dataType: DataType = StructType(reads.indices.map(i =>
    StructField(s"_$i", reads(i).dataType, nullable = true)))
  override def nullable: Boolean = true
  override def prettyName: String = "json_decode"

  @transient private lazy val decoder = new RowDecoder(keys, reads)

  /** The typed row of message `s`, or null (counted) when it does not parse. */
  def decode(s: UTF8String): InternalRow = {
    val r = decoder.decode(s)
    if (r == null) parseErrors.foreach(_.add(1L))
    r
  }

  override def eval(input: InternalRow): Any = {
    val s = child.eval(input)
    if (s == null) null else decode(s.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("decoder", this, classOf[JsonDecode].getName)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |InternalRow ${ev.value} = ${c.isNull} ? null : $ref.decode(${c.value});
      |boolean ${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): JsonDecode =
    copy(child = newChild)
}
