package graft.functions

import java.time._
import java.time.format.{DateTimeFormatter, DateTimeFormatterBuilder, TextStyle}
import java.time.temporal.{ChronoField, TemporalAccessor, TemporalQueries}
import java.util.Locale

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** Multi-layout timestamp auto-detection (SURVEY F8).
  *
  * The reference tries 27 date layouts in order and caches the first
  * successful layout per field forever; once cached, ONLY that layout is
  * used and a value that doesn't match it becomes the default
  * (`/root/reference/parser/parser.go:31-65,157-202`). This expression
  * replicates that: the layout list below is the same list converted from
  * Go reference-time notation, the per-field cache becomes a per-expression-
  * instance cache (one instance == one projected column == one field), and
  * Go's "fractional seconds are accepted after the seconds element even if
  * the layout doesn't mention them" rule is encoded as an optional
  * nano-fraction in every layout that has seconds.
  *
  * Strings without a zone offset are interpreted in `zone` (the task
  * timezone) and the result is UTC micros, like the reference.
  */
object GoLayouts {

  /** Go reference-time layouts, in the reference's order. */
  val goLayouts: Seq[String] = Seq(
    "2006-01-02T15:04:05Z07:00",
    "2006-01-02T15:04:05Z0700",
    "2006-01-02T15:04:05",
    "2006-01-02 15:04:05Z07:00",
    "2006-01-02 15:04:05Z0700",
    "2006-01-02 15:04:05",
    "Mon Jan _2 15:04:05 2006",
    "Mon Jan _2 15:04:05 MST 2006",
    "Mon Jan 02 15:04:05 -0700 2006",
    "02 Jan 06 15:04 MST",
    "02 Jan 06 15:04 -0700",
    "Monday, 02-Jan-06 15:04:05 MST",
    "Mon, 02 Jan 2006 15:04:05 MST",
    "Mon, 02 Jan 2006 15:04:05 -0700",
    "Mon Jan 02 15:04:05 MST 2006",
    "Mon 02 Jan 2006 03:04:05 PM MST",
    "Jan 02, 2006 15:04:05Z07:00",
    "Jan 02, 2006 15:04:05Z0700",
    "Jan 02, 2006 15:04:05",
    "02/Jan/2006 15:04:05 Z07:00",
    "02/Jan/2006 15:04:05 Z0700",
    "02/Jan/2006 15:04:05",
    "2006-01-02",
    "02/01/2006",
    "02/Jan/2006",
    "Jan 02, 2006",
    "Mon Jan 02, 2006"
  )

  /** Convert one Go layout into a strict Java formatter. */
  private def toFormatter(go: String): DateTimeFormatter = {
    val b = new DateTimeFormatterBuilder()
    var i = 0
    def at(tok: String): Boolean = go.startsWith(tok, i)
    while (i < go.length) {
      if (at("2006")) { b.appendValue(ChronoField.YEAR, 4); i += 4 }
      else if (at("01")) { b.appendValue(ChronoField.MONTH_OF_YEAR, 2); i += 2 }
      else if (at("02")) { b.appendValue(ChronoField.DAY_OF_MONTH, 2); i += 2 }
      else if (at("_2")) { b.padNext(2); b.appendValue(ChronoField.DAY_OF_MONTH); i += 2 }
      else if (at("15")) { b.appendValue(ChronoField.HOUR_OF_DAY, 2); i += 2 }
      else if (at("03")) { b.appendValue(ChronoField.CLOCK_HOUR_OF_AMPM, 2); i += 2 }
      else if (at("04")) { b.appendValue(ChronoField.MINUTE_OF_HOUR, 2); i += 2 }
      else if (at("05")) {
        b.appendValue(ChronoField.SECOND_OF_MINUTE, 2)
        // Go Parse: fraction allowed after seconds even if not in layout
        b.optionalStart().appendFraction(ChronoField.NANO_OF_SECOND, 1, 9, true).optionalEnd()
        i += 2
      }
      else if (at("06")) { b.appendValueReduced(ChronoField.YEAR, 2, 2, 1969); i += 2 }
      else if (at("Monday")) { b.appendText(ChronoField.DAY_OF_WEEK, TextStyle.FULL); i += 6 }
      else if (at("Mon")) { b.appendText(ChronoField.DAY_OF_WEEK, TextStyle.SHORT); i += 3 }
      else if (at("Jan")) { b.appendText(ChronoField.MONTH_OF_YEAR, TextStyle.SHORT); i += 3 }
      else if (at("PM")) { b.appendText(ChronoField.AMPM_OF_DAY, TextStyle.SHORT); i += 2 }
      else if (at("MST")) { b.appendZoneText(TextStyle.SHORT); i += 3 }
      else if (at("Z07:00")) { b.appendOffset("+HH:MM", "Z"); i += 6 }
      else if (at("Z0700")) { b.appendOffset("+HHMM", "Z"); i += 5 }
      else if (at("-0700")) { b.appendOffset("+HHMM", "+0000"); i += 5 }
      else { b.appendLiteral(go.charAt(i)); i += 1 }
    }
    b.toFormatter(Locale.US)
  }

  lazy val formatters: Array[DateTimeFormatter] = goLayouts.map(toFormatter).toArray

  /** Parse with layout `idx`; UTC micros, or null. Offset-less layouts are
    * interpreted in `zone`.
    */
  def parseWith(idx: Int, s: String, zone: ZoneId): java.lang.Long = {
    try {
      val ta: TemporalAccessor = formatters(idx).parse(s)
      val instant =
        if (ta.isSupported(ChronoField.INSTANT_SECONDS)) Instant.from(ta)
        else {
          val date = LocalDate.from(ta)
          val time = {
            val t = ta.query(TemporalQueries.localTime())
            if (t == null) LocalTime.MIDNIGHT else t
          }
          ZonedDateTime.of(date, time, zone).toInstant
        }
      java.lang.Long.valueOf(instant.getEpochSecond * 1000000L + instant.getNano / 1000L)
    } catch { case _: Exception => null }
  }

  /** Try all layouts in order; (micros, matched index) or null. */
  def detect(s: String, zone: ZoneId): (java.lang.Long, Int) = {
    var i = 0
    while (i < formatters.length) {
      val r = parseWith(i, s, zone)
      if (r != null) return (r, i)
      i += 1
    }
    (null, -1)
  }
}

/** Layout 0, `2006-01-02T15:04:05Z07:00`, read from a string's bytes
  * without `java.time`: `yyyy-MM-ddTHH:mm:ss`, an optional `.` and 1-9
  * fraction digits, then `Z` or `+hh:mm`/`-hh:mm`. Only a plainly valid
  * value is read here: a real day of its month, hour 0-23, minute and
  * second 0-59, an offset within 18:00. Anything else (lowercase `t` or
  * `z`, Feb 30, `24:00:00`, second 60, ten fraction digits) is
  * [[Rfc3339.NotPlain]] and left to `java.time`, whose SMART resolver
  * accepts some of it (Feb 30 reads as Feb 29; 24:00 as the next day).
  */
object Rfc3339 {
  final val NotPlain = Long.MinValue

  /** UTC micros, or NotPlain. */
  def micros(s: UTF8String): Long = {
    val n = s.numBytes
    if (n < 20) return NotPlain
    def digit(i: Int): Int = {
      val c = s.getByte(i) - '0'
      if (c >= 0 && c <= 9) c else -100000
    }
    def two(i: Int): Int = digit(i) * 10 + digit(i + 1)
    def is(i: Int, c: Char): Boolean = s.getByte(i) == c
    val year = two(0) * 100 + two(2)
    val month = two(5)
    val day = two(8)
    val hour = two(11)
    val minute = two(14)
    val second = two(17)
    if (year < 0 || !is(4, '-') || !is(7, '-') || !is(10, 'T') || !is(13, ':') ||
      !is(16, ':') || month < 1 || month > 12 || day < 1 || day > daysIn(year, month) ||
      hour < 0 || hour > 23 || minute < 0 || minute > 59 || second < 0 || second > 59)
      return NotPlain
    var i = 19
    var nanos = 0L
    if (is(i, '.')) {
      i += 1
      val start = i
      while (i < n && digit(i) >= 0) { nanos = nanos * 10 + digit(i); i += 1 }
      val digits = i - start
      if (digits < 1 || digits > 9) return NotPlain
      nanos *= math.pow(10, 9 - digits).toLong
    }
    val offset =
      if (i == n - 1 && is(i, 'Z')) 0
      else if (i == n - 6 && (is(i, '+') || is(i, '-')) && is(i + 3, ':')) {
        val hh = two(i + 1)
        val mm = two(i + 4)
        if (hh < 0 || mm < 0 || mm > 59 || hh * 60 + mm > 18 * 60) return NotPlain
        (if (is(i, '-')) -60 else 60) * (hh * 60 + mm)
      } else return NotPlain
    val sec = epochDay(year, month, day) * 86400L + hour * 3600 + minute * 60 + second - offset
    sec * 1000000L + nanos / 1000L
  }

  private def leap(y: Int): Boolean = y % 4 == 0 && (y % 100 != 0 || y % 400 == 0)

  private def daysIn(y: Int, m: Int): Int =
    if (m == 2) { if (leap(y)) 29 else 28 }
    else if (m == 4 || m == 6 || m == 9 || m == 11) 30 else 31

  /** Days from 1970-01-01 of a proleptic Gregorian date (the ISO
    * chronology's; H. Hinnant's days_from_civil).
    */
  private def epochDay(year: Int, m: Int, d: Int): Long = {
    val y = if (m <= 2) year - 1 else year
    val era = (if (y >= 0) y else y - 399) / 400
    val yoe = y - era * 400
    val doy = (153 * (if (m > 2) m - 3 else m + 9) + 2) / 5 + d - 1
    val doe = yoe * 365 + yoe / 4 - yoe / 100 + doy
    era * 146097L + doe - 719468L
  }
}

case class AutoTimestamp(child: Expression, zone: String)
    extends UnaryExpression {

  override def dataType: DataType = TimestampType
  override def nullable: Boolean = true
  override def prettyName: String = "auto_timestamp"

  @transient private lazy val zoneId = ZoneId.of(zone)
  // Reference-parity per-field layout cache: first successful layout wins
  // and is then the only one tried (parser.go:157-189).
  // Stored as layoutIdx+1 with 0 = "unset": a @transient primitive resets
  // to 0 on task deserialization, so 0 MUST mean uncached (a -1 sentinel
  // silently became "layout 0 cached" on executors).
  @transient private var cachedLayoutPlus1: Int = 0

  /** Parse to UTC micros, or null. Called from both interpreted eval and
    * generated code. While no layout or layout 0 is cached, a plainly
    * valid layout-0 string is read straight from its bytes
    * ([[Rfc3339.micros]]); any other string goes through `java.time`.
    */
  def parseMicros(s: UTF8String): java.lang.Long = {
    if (s.numBytes == 0) return null
    val cached = cachedLayoutPlus1 - 1
    if (cached <= 0) {
      val fast = Rfc3339.micros(s)
      if (fast != Rfc3339.NotPlain) {
        cachedLayoutPlus1 = 1
        return fast
      }
    }
    val str = s.toString
    if (cached >= 0) {
      GoLayouts.parseWith(cached, str, zoneId)
    } else {
      val (micros, idx) = GoLayouts.detect(str, zoneId)
      if (idx >= 0) cachedLayoutPlus1 = idx + 1
      micros
    }
  }

  override def nullSafeEval(input: Any): Any =
    parseMicros(input.asInstanceOf[UTF8String])

  // real codegen (not CodegenFallback): a CodegenFallback expression would
  // evict the WHOLE projection from whole-stage codegen, which costs ~10x
  // on the ingest hot path
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("autoTs", this, classOf[AutoTimestamp].getName)
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("micros")
      s"""
         |java.lang.Long $tmp = $ref.parseMicros($c);
         |if ($tmp == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $tmp.longValue();
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): AutoTimestamp =
    copy(child = newChild)
}
