package graft.xml

import java.math.{BigDecimal => JBigDecimal}
import java.sql.{Date, Timestamp}
import java.text.{NumberFormat, ParsePosition}
import java.time._
import java.time.format.{DateTimeFormatter, DateTimeFormatterBuilder}
import java.time.temporal.ChronoField
import java.util.Locale

import scala.util.control.NonFatal

import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types._

/**
 * String → typed-value conversion for XML leaf values.
 *
 * Re-expresses the cast semantics of the reference
 * (reference: src/main/scala/com/databricks/spark/xml/util/TypeCast.scala:44-318):
 * XML booleans accept 1/0, decimals tolerate grouping commas, numerics accept
 * an explicit leading '+', dates/timestamps try ISO formats before the
 * user-configured pattern, and the configured `nullValue` maps to null.
 * Catalyst's `Cast` is deliberately NOT used: its semantics differ on all of
 * the above.
 *
 * Every XML read casts and probes each leaf here, so the common shapes take
 * a direct path: a plain `yyyy-MM-dd` is scanned by [[plainDate]] instead of
 * parsed by java.time, casts to the internal form go from the parsed
 * `Instant`/`LocalDate` straight to micros/epoch days (Spark's own
 * conversions, which refuse a value out of range instead of wrapping it),
 * and failures are caught by plain `try`, not a `Try` or `Catch` per value.
 */
private[graft] object TypeCast {

  /**
   * Cast to Catalyst *internal* representation: UTF8String for strings,
   * microseconds for timestamps, epoch days for dates. Primitive/decimal
   * results are shared with [[castTo]].
   */
  def castToInternal(rawDatum: String, castType: DataType, options: XmlOptions): Any = {
    val datum =
      if (options.ignoreSurroundingSpaces) rawDatum.trim
      else rawDatum
    if (datum == options.nullValue || datum == null) {
      null
    } else {
      castType match {
        case _: StringType => org.apache.spark.unsafe.types.UTF8String.fromString(datum)
        case _: TimestampType => DateTimeUtils.instantToMicros(parseXmlInstant(datum, options))
        case _: TimestampNTZType =>
          DateTimeUtils.localDateTimeToMicros(parseXmlLocalDateTime(datum))
        case _: DateType => DateTimeUtils.localDateToDays(parseXmlLocalDate(datum, options))
        case other => castTo(datum, other, options)
      }
    }
  }

  def castTo(rawDatum: String, castType: DataType, options: XmlOptions): Any = {
    val datum =
      if (options.ignoreSurroundingSpaces) rawDatum.trim
      else rawDatum
    if (datum == options.nullValue || datum == null) {
      null
    } else {
      castType match {
        case _: ByteType => datum.toByte
        case _: ShortType => datum.toShort
        case _: IntegerType => signSafe(datum, _.toInt)
        case _: LongType => signSafe(datum, _.toLong)
        case _: FloatType =>
          try datum.toFloat
          catch { case _: NumberFormatException => parseLocaleNumber(datum).floatValue() }
        case _: DoubleType =>
          try datum.toDouble
          catch { case _: NumberFormatException => parseLocaleNumber(datum).doubleValue() }
        case _: BooleanType => parseXmlBoolean(datum)
        case dt: DecimalType =>
          Decimal(new JBigDecimal(datum.replace(",", "")), dt.precision, dt.scale)
        case _: TimestampType => parseXmlTimestamp(datum, options)
        case _: TimestampNTZType => parseXmlLocalDateTime(datum)
        case _: DateType => parseXmlDate(datum, options)
        case _: StringType => datum
        case other => throw new IllegalArgumentException(s"Unsupported type: ${other.typeName}")
      }
    }
  }

  private def signSafe[T](value: String, f: String => T): T =
    if (value.startsWith("+")) f(value.substring(1)) else f(value)

  private def parseLocaleNumber(s: String): Number = {
    val pos = new ParsePosition(0)
    val result = NumberFormat.getInstance(Locale.getDefault).parse(s, pos)
    if (result == null || pos.getIndex != s.length) {
      throw new NumberFormatException(s"cannot parse number: '$s'")
    }
    result
  }

  private def parseXmlBoolean(s: String): Boolean = s match {
    case "true" | "1" => true
    case "false" | "0" => false
    case other => throw new IllegalArgumentException(s"For input string: '$other'")
  }

  private val localSpaceTimestamp: DateTimeFormatter = new DateTimeFormatterBuilder()
    .appendPattern("yyyy-MM-dd HH:mm:ss")
    .appendFraction(ChronoField.NANO_OF_SECOND, 0, 9, true)
    .toFormatter

  // ISO-ish timestamp formats accepted out of the box.
  private val builtInTimestampFormats: Seq[DateTimeFormatter] = Seq(
    DateTimeFormatter.ISO_INSTANT,
    DateTimeFormatter.ISO_OFFSET_DATE_TIME,
    DateTimeFormatter.RFC_1123_DATE_TIME,
    // Local timestamp, no zone: interpreted in UTC (Verify pins session TZ=UTC).
    new DateTimeFormatterBuilder()
      .appendPattern("yyyy-MM-dd'T'HH:mm:ss")
      .appendFraction(ChronoField.NANO_OF_SECOND, 0, 9, true)
      .toFormatter,
    localSpaceTimestamp
  )

  /** Index of the last built-in format that matched. A corpus uses one
   *  timestamp shape in practice; starting at the format that worked last
   *  saves the other formats' attempts after the first row (a thrown
   *  exception each in a cast, an unresolved parse each in a probe). Safe to share racily across tasks (any stale value only
   *  costs extra attempts), and safe for correctness: the built-in formats
   *  are mutually exclusive except ISO_INSTANT/ISO_OFFSET on `...Z` values,
   *  where both yield the same instant. */
  private val lastHitTimestampFormat = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Whether `fmt` matches all of `value`. `parseUnresolved` reports a
   *  mismatch through the position instead of throwing, and `parse` fails
   *  whenever this does, so gating `parse` on it changes no decision; it
   *  only stops non-matching values from paying a thrown exception. */
  private def fitsWhole(fmt: DateTimeFormatter, value: String): Boolean = {
    val pos = new ParsePosition(0)
    fmt.parseUnresolved(value, pos) != null && pos.getErrorIndex < 0 &&
      pos.getIndex == value.length
  }

  /** `value` under `fmt` as an instant, or null. With `gate`, a value that
   *  does not fit `fmt` is turned away by [[fitsWhole]] instead of by a
   *  thrown exception: for probes, which mostly miss. Casts mostly hit and
   *  skip it, since a match then costs a second parse. A full match can
   *  still fail to resolve (30 February), which the caught `parse` rejects. */
  private def instantOrNull(
      fmt: DateTimeFormatter, value: String, zone: ZoneId, gate: Boolean): Instant =
    try {
      if (gate && !fitsWhole(fmt, value)) null
      else {
        val parsed = fmt.parse(value)
        if (parsed.isSupported(ChronoField.OFFSET_SECONDS)) Instant.from(parsed)
        else LocalDateTime.from(parsed).atZone(zone).toInstant
      }
    } catch { case NonFatal(_) => null }

  /** The built-in formats, then the user `timestampFormat`; null if none
   *  matches. Throws only for an invalid `timezone` or `timestampFormat`. */
  private def xmlInstantOrNull(value: String, options: XmlOptions, gate: Boolean): Instant = {
    val zone = options.timezone.map(ZoneId.of).getOrElse(ZoneOffset.UTC)
    val n = builtInTimestampFormats.length
    val start = lastHitTimestampFormat.get()
    var ts: Instant = null
    var i = 0
    while (i < n && ts == null) {
      val idx = (start + i) % n
      ts = instantOrNull(builtInTimestampFormats(idx), value, zone, gate)
      if (ts != null && idx != start) lastHitTimestampFormat.lazySet(idx)
      i += 1
    }
    if (ts != null) ts
    else options.timestampFormatter.map(instantOrNull(_, value, zone, gate)).orNull
  }

  private def parseXmlInstant(value: String, options: XmlOptions): Instant = {
    val ts = xmlInstantOrNull(value, options, gate = false)
    if (ts == null) throw new IllegalArgumentException(s"cannot parse timestamp: '$value'")
    ts
  }

  private[xml] def parseXmlTimestamp(value: String, options: XmlOptions): Timestamp =
    Timestamp.from(parseXmlInstant(value, options))

  /** Zone-less timestamps (TIMESTAMP_NTZ): ISO local date-time or `yyyy-MM-dd HH:mm:ss[.S]`. */
  private[xml] def parseXmlLocalDateTime(value: String): LocalDateTime =
    try LocalDateTime.parse(value, DateTimeFormatter.ISO_LOCAL_DATE_TIME)
    catch {
      case NonFatal(_) =>
        try LocalDateTime.parse(value, localSpaceTimestamp)
        catch {
          case NonFatal(_) =>
            throw new IllegalArgumentException(s"cannot parse local timestamp: '$value'")
        }
    }

  /** `v` as a plain `yyyy-MM-dd` (a four-digit year, ASCII digits only),
   *  packed as `year * 10000 + month * 100 + day`, or -1 for any other shape.
   *  Month and day are not checked here: see [[isRealDay]]. */
  private def plainDate(v: String): Int =
    if (v.length != 10 || v.charAt(4) != '-' || v.charAt(7) != '-') -1
    else {
      val y = digits(v, 0, 4)
      val m = digits(v, 5, 7)
      val d = digits(v, 8, 10)
      if ((y | m | d) < 0) -1 else y * 10000 + m * 100 + d
    }

  /** The ASCII digits `v(from until until)` as a number, or -1. */
  private def digits(v: String, from: Int, until: Int): Int = {
    var n = 0
    var i = from
    while (i < until) {
      val c = v.charAt(i)
      if (!isAsciiDigit(c)) return -1
      n = n * 10 + (c - '0')
      i += 1
    }
    n
  }

  /** Whether a [[plainDate]] names a day of the proleptic Gregorian
   *  calendar, exactly as `ISO_DATE`'s strict resolver decides it. */
  private def isRealDay(ymd: Int): Boolean = {
    val m = ymd / 100 % 100
    val d = ymd % 100
    m >= 1 && m <= 12 && d >= 1 && d <= Month.of(m).length(Year.isLeap(ymd / 10000))
  }

  /** As [[instantOrNull]], for dates. */
  private def localDateOrNull(fmt: DateTimeFormatter, value: String, gate: Boolean): LocalDate =
    try {
      if (gate && !fitsWhole(fmt, value)) null else LocalDate.parse(value, fmt)
    } catch { case NonFatal(_) => null }

  /** ISO, then the user `dateFormat`; null if neither matches (an invalid
   *  `dateFormat` matches nothing). A real plain `yyyy-MM-dd` day is the
   *  day ISO parses it to, so it skips the parse. */
  private def xmlDateOrNull(value: String, options: XmlOptions, gate: Boolean): LocalDate = {
    val ymd = plainDate(value)
    if (ymd >= 0 && isRealDay(ymd)) return LocalDate.of(ymd / 10000, ymd / 100 % 100, ymd % 100)
    val iso = localDateOrNull(DateTimeFormatter.ISO_DATE, value, gate)
    if (iso != null) iso
    else {
      val user = try options.dateFormatter.orNull catch { case NonFatal(_) => null }
      if (user == null) null else localDateOrNull(user, value, gate)
    }
  }

  private def parseXmlLocalDate(value: String, options: XmlOptions): LocalDate = {
    val d = xmlDateOrNull(value, options, gate = false)
    if (d == null) throw new IllegalArgumentException(s"cannot parse date: '$value'")
    d
  }

  private[xml] def parseXmlDate(value: String, options: XmlOptions): Date =
    Date.valueOf(parseXmlLocalDate(value, options))

  // ---- inference predicates (used by InferSchema) ----

  def isBoolean(value: String): Boolean =
    value == "true" || value == "false"

  // The inference predicates run once per leaf per record, so a corpus-scale
  // inference pass calls them hundreds of millions of times. They must reject
  // non-matching values WITHOUT throwing: an exception-per-probe turns a
  // string-heavy corpus into an exception storm (measured: the storm, not the
  // parse or the lattice merge, dominated full-corpus inference cost).

  def isLong(value: String): Boolean = {
    val len = value.length
    if (len == 0) return false
    val c0 = value.charAt(0)
    val start = if (c0 == '+' || c0 == '-') 1 else 0
    if (len == start) return false
    var i = start
    while (i < len && value.charAt(i).isDigit) i += 1
    if (i < len) false // non-digit present: reject with no exception
    else if (len - start <= 18) true // within Long range by construction
    else { // 19+ digits: only the boundary needs a real parse
      val v = if (c0 == '+') value.substring(1) else value
      try { v.toLong; true }
      catch { case _: NumberFormatException => false }
    }
  }

  /** `Double.parseDouble`'s decimal grammar minus its letters (`NaN`,
   *  `Infinity`, hex, `f`/`d` suffixes), which the XML data model does not
   *  infer as numbers: `[ws][+-]?(d+[.d*]|.d+)([eE][+-]?d+)?[ws]`, where
   *  `ws` is any char <= U+0020 (what `parseDouble` trims). Scans; never
   *  throws. */
  private def looksDecimal(v: String): Boolean = {
    val len = v.length
    var i = 0
    while (i < len && v.charAt(i) <= ' ') i += 1
    if (i < len && (v.charAt(i) == '+' || v.charAt(i) == '-')) i += 1
    val intStart = i
    while (i < len && isAsciiDigit(v.charAt(i))) i += 1
    var digits = i - intStart
    if (i < len && v.charAt(i) == '.') {
      i += 1
      val fracStart = i
      while (i < len && isAsciiDigit(v.charAt(i))) i += 1
      digits += i - fracStart
    }
    if (digits == 0) return false
    if (i < len && (v.charAt(i) == 'e' || v.charAt(i) == 'E')) {
      i += 1
      if (i < len && (v.charAt(i) == '+' || v.charAt(i) == '-')) i += 1
      val expStart = i
      while (i < len && isAsciiDigit(v.charAt(i))) i += 1
      if (i == expStart) return false
    }
    while (i < len && v.charAt(i) <= ' ') i += 1
    i == len
  }

  private def isAsciiDigit(c: Char): Boolean = c >= '0' && c <= '9'

  // The scan is a necessary condition only; `toDouble` (which accepts one
  // leading sign itself) has the last word, as in `castTo`.
  def isDouble(value: String): Boolean =
    looksDecimal(value) && {
      try { value.toDouble; true }
      catch { case _: NumberFormatException => false }
    }

  /** The ISO-family built-in formats (instant/offset/local, `yyyy-MM-dd
   *  [HH:mm:ss]`) all start with a year — optionally `+`/`-`-signed, 4 or
   *  more digits (ISO-8601 writes years beyond 9999 with a mandatory `+`) —
   *  followed by `-`; values without that head can only parse as RFC 1123
   *  or under a user-supplied format. */
  private def maybeIsoTemporal(v: String): Boolean = {
    val len = v.length
    if (len < 8) return false
    val c0 = v.charAt(0)
    val s = if (c0 == '-' || c0 == '+') 1 else 0
    var i = s
    while (i < len && v.charAt(i).isDigit) i += 1
    i - s >= 4 && i < len && v.charAt(i) == '-'
  }

  /** RFC 1123 heads: `EEE, d MMM yyyy …` (3-letter day + comma) or, with
   *  the optional day-of-week omitted, a 1-2 digit day then a space. Admits
   *  some non-temporal strings (they just pay the parse attempt); rejects
   *  plain words and ordinary sentences without throwing. */
  private def maybeRfc1123(v: String): Boolean =
    v.length >= 14 && {
      val c0 = v.charAt(0)
      (c0.isLetter && v.charAt(3) == ',') ||
        (c0.isDigit && (v.charAt(1) == ' ' ||
          (v.charAt(1).isDigit && v.charAt(2) == ' ')))
    }

  /** No built-in timestamp format matches a plain `yyyy-MM-dd` (each needs
   *  a time or a day name), so that shape is rejected without a parse
   *  unless a user `timestampFormat` could match it. */
  def isTimestamp(value: String, options: XmlOptions): Boolean =
    if (options.timestampFormat.isEmpty && plainDate(value) >= 0) false
    else
      (maybeIsoTemporal(value) || maybeRfc1123(value) || options.timestampFormat.isDefined) &&
        (try xmlInstantOrNull(value, options, gate = true) != null
        catch { case NonFatal(_) => false })

  def isDate(value: String, options: XmlOptions): Boolean = {
    val ymd = plainDate(value)
    if (ymd >= 0 && options.dateFormat.isEmpty) isRealDay(ymd)
    else
      (maybeIsoTemporal(value) || options.dateFormat.isDefined) &&
        xmlDateOrNull(value, options, gate = true) != null
  }
}
