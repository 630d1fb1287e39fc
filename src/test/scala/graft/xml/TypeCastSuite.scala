package graft.xml

import java.sql.{Date, Timestamp}
import java.time.{Instant, LocalDate, LocalDateTime, ZoneId, ZoneOffset}
import java.time.format.{DateTimeFormatter, DateTimeFormatterBuilder}
import java.time.temporal.ChronoField
import java.util.Locale

import scala.util.control.Exception.allCatch

import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

class TypeCastSuite extends AnyFunSuite {

  private val opts = XmlOptions()

  test("numeric casts with explicit plus sign") {
    assert(TypeCast.castTo("+123", LongType, opts) === 123L)
    assert(TypeCast.castTo("-123", LongType, opts) === -123L)
    assert(TypeCast.castTo("+12", IntegerType, opts) === 12)
    assert(TypeCast.castTo("1.5", DoubleType, opts) === 1.5)
    assert(TypeCast.castTo("44.95", DoubleType, opts) === 44.95)
  }

  test("xml booleans accept 1/0") {
    assert(TypeCast.castTo("true", BooleanType, opts) === true)
    assert(TypeCast.castTo("1", BooleanType, opts) === true)
    assert(TypeCast.castTo("false", BooleanType, opts) === false)
    assert(TypeCast.castTo("0", BooleanType, opts) === false)
    intercept[IllegalArgumentException] { TypeCast.castTo("yes", BooleanType, opts) }
  }

  test("decimal strips grouping commas") {
    val d = TypeCast.castTo("1,234,567.89", DecimalType(18, 2), opts)
    assert(d === Decimal(BigDecimal("1234567.89"), 18, 2))
  }

  test("timestamps: ISO instant, offset, and local formats") {
    assert(TypeCast.castTo("2024-01-02T03:04:05Z", TimestampType, opts) ===
      Timestamp.from(java.time.Instant.parse("2024-01-02T03:04:05Z")))
    assert(TypeCast.castTo("2024-01-02T03:04:05+02:00", TimestampType, opts) ===
      Timestamp.from(java.time.Instant.parse("2024-01-02T01:04:05Z")))
    assert(TypeCast.castTo("2024-01-02T03:04:05.123Z", TimestampType, opts) ===
      Timestamp.from(java.time.Instant.parse("2024-01-02T03:04:05.123Z")))
    // zone-less local interpreted as UTC by default
    assert(TypeCast.castTo("2024-01-02T03:04:05", TimestampType, opts) ===
      Timestamp.from(java.time.Instant.parse("2024-01-02T03:04:05Z")))
  }

  test("custom timestampFormat and timezone") {
    val o = XmlOptions(Map(
      "timestampFormat" -> "dd/MM/yyyy HH:mm", "timezone" -> "UTC"))
    assert(TypeCast.castTo("02/01/2024 03:04", TimestampType, o) ===
      Timestamp.from(java.time.Instant.parse("2024-01-02T03:04:00Z")))
  }

  test("dates: ISO and custom format") {
    assert(TypeCast.castTo("2020-06-07", DateType, opts) === Date.valueOf("2020-06-07"))
    val o = XmlOptions(Map("dateFormat" -> "dd.MM.yyyy"))
    assert(TypeCast.castTo("07.06.2020", DateType, o) === Date.valueOf("2020-06-07"))
    intercept[IllegalArgumentException] { TypeCast.castTo("junk", DateType, opts) }
  }

  test("nullValue mapping") {
    val o = XmlOptions(Map("nullValue" -> "N/A"))
    assert(TypeCast.castTo("N/A", StringType, o) === null)
    assert(TypeCast.castTo("N/A", LongType, o) === null)
    assert(TypeCast.castTo("x", StringType, o) === "x")
  }

  test("inference predicates") {
    assert(TypeCast.isLong("123") && TypeCast.isLong("+4") && !TypeCast.isLong("1.2"))
    assert(TypeCast.isDouble("1.5e3") && !TypeCast.isDouble("1.5d") && !TypeCast.isDouble("abc"))
    assert(TypeCast.isBoolean("true") && !TypeCast.isBoolean("1"))
    assert(TypeCast.isDate("2020-01-01", opts) && !TypeCast.isDate("20200101x", opts))
    assert(TypeCast.isTimestamp("2020-01-01T00:00:00Z", opts))
  }

  test("inference predicates: exception-free reject paths keep exact boundaries") {
    // Long boundary: 19-digit values take the real parse, overflow rejects
    assert(TypeCast.isLong("-42") && TypeCast.isLong(Long.MaxValue.toString))
    assert(TypeCast.isLong(Long.MinValue.toString))
    assert(!TypeCast.isLong("9223372036854775808")) // MaxValue + 1
    assert(!TypeCast.isLong("") && !TypeCast.isLong("+") && !TypeCast.isLong("-"))
    assert(!TypeCast.isLong("12 3") && !TypeCast.isLong("0x10"))
    // digit-less fragments reject without a parse attempt
    assert(!TypeCast.isDouble("-") && !TypeCast.isDouble(".") && !TypeCast.isDouble("e"))
    assert(TypeCast.isDouble("-.5") && TypeCast.isDouble("1e5"))
    // one sign only, as castTo(DoubleType) accepts; padding as toDouble trims
    for (v <- Seq("++1", "+-5", "-+5", "+ 1", "--1")) {
      assert(!TypeCast.isDouble(v), v)
      intercept[NumberFormatException] { TypeCast.castTo(v, DoubleType, opts) }
    }
    assert(TypeCast.isDouble("+1.5") && TypeCast.isDouble(" -2e3 ") && TypeCast.isDouble("5."))
    assert(!TypeCast.isDouble("1e") && !TypeCast.isDouble("1,234") && !TypeCast.isDouble("NaN"))
    // the structural yyyy- gate does not lose signed years or space format
    assert(TypeCast.isTimestamp("2020-01-01 10:15:30", opts))
    assert(!TypeCast.isTimestamp("N", opts) && !TypeCast.isTimestamp("10:15:30", opts))
    assert(TypeCast.isDate("-0044-03-15", opts)) // negative year keeps parsing
    // RFC 1123 is a built-in format whose head is NOT yyyy-: both shapes
    // (with and without the optional day-of-week) must survive the gate
    assert(TypeCast.isTimestamp("Tue, 3 Jun 2008 11:05:30 GMT", opts))
    assert(TypeCast.isTimestamp("3 Jun 2008 11:05:30 GMT", opts))
    assert(TypeCast.isTimestamp("13 Jun 2008 11:05:30 GMT", opts))
    // a plain sentence neither matches nor pays a parse attempt
    assert(!TypeCast.isTimestamp("the quick brown fox jumps", opts))
    // a user format without the yyyy- head still takes the full parse path
    val userFmt = XmlOptions(Map(
      "timestampFormat" -> "dd/MM/yyyy HH:mm", "dateFormat" -> "dd.MM.yyyy"))
    assert(TypeCast.isTimestamp("03/12/2011 10:15", userFmt))
    assert(TypeCast.isDate("07.06.2020", userFmt))
    assert(!TypeCast.isTimestamp("03/12/2011 10:15", opts)) // no format, no match
  }

  test("probe cost stays far below parse-attempt cost on a string-heavy corpus (budget)") {
    // Regression pin for the exception-free probe rework (6.2 -> 1.07 s
    // full-corpus inference): the predicates must reject non-matching
    // values by SCANNING, not by throwing-and-catching inside a parser.
    // The gate is relative — probe passes vs the pre-rework control flow
    // (blind parse attempts under allCatch) measured in the same JVM — so
    // host speed and JIT state cancel out. If exception-driven rejection
    // sneaks back into the predicates, the two sides converge and the 4x
    // margin fails. (Both sides warm up first; min-of-3 discards pauses.)
    val corpus: Array[String] = Array.tabulate(20000) { i =>
      (i % 5) match {
        case 0 => s"word soup value number $i"
        case 1 => s"SKU-$i-ALPHA"
        case 2 => s"https://example.com/path/$i"
        case 3 => s"mixed${i}text"
        case _ => "NULL"
      }
    }
    assertProbesBeat(corpus) { v =>
      allCatch.opt(TypeCast.parseXmlTimestamp(v, opts))
      allCatch.opt(TypeCast.parseXmlDate(v, opts))
    }
  }

  test("probe cost stays far below parse-attempt cost on dates and numbers (budget)") {
    // The temporal probes must reject by an unresolved parse, which reports
    // a mismatch by position, and isDouble by a scan: ISO dates pass the
    // yyyy- gate and used to throw once per built-in timestamp format.
    // Same relative gate as above, against the old blind parse attempts
    // (the test-local `OldProbes`).
    val corpus: Array[String] = Array.tabulate(20000) { i =>
      val d = 1 + i % 28
      (i % 5) match {
        case 0 => f"1997-08-$d%02d"
        case 1 => f"1997-08-$d%02d and then some"
        case 2 => f"$d%02d-989-741-${i % 10000}%04d"
        case 3 => f"${i % 10},${i % 1000}%03d"
        case _ => f"1997/08/$d%02d"
      }
    }
    assertProbesBeat(corpus) { v => OldProbes.timestamp(v, opts); OldProbes.date(v, opts) }
  }

  /** The budget gate: all five probes over `corpus` must cost under a
   *  quarter of `stormReference` over it, timed in this JVM. */
  private def assertProbesBeat(corpus: Array[String])(stormReference: String => Unit): Unit = {
    def timeNs(f: => Unit): Long = {
      val t0 = System.nanoTime(); f; System.nanoTime() - t0
    }
    def probes(): Unit = corpus.foreach { v =>
      TypeCast.isBoolean(v); TypeCast.isLong(v); TypeCast.isDouble(v)
      TypeCast.isTimestamp(v, opts); TypeCast.isDate(v, opts)
    }
    def reference(): Unit = corpus.foreach(stormReference)
    probes(); reference() // JIT warmup for both sides
    val probeNs = (1 to 3).map(_ => timeNs(probes())).min
    val stormNs = (1 to 3).map(_ => timeNs(reference())).min
    assert(probeNs * 4 < stormNs,
      f"probe pass ${probeNs / 1e6}%.1f ms is not well under the " +
        f"exception-storm reference ${stormNs / 1e6}%.1f ms — " +
        "exception-driven rejection has crept back into the predicates")
  }

  test("gated probes decide exactly as the old parse-attempt control flow (property)") {
    def d2(lo: Int, hi: Int): Gen[String] = Gen.choose(lo, hi).map(i => f"$i%02d")
    val year = Gen.oneOf(Gen.choose(1000, 9999).map(_.toString),
      Gen.choose(0, 999).map(y => f"$y%04d"), Gen.oneOf("-0044", "+10000", "10000", "99"))
    val date = for (y <- year; m <- d2(0, 13); d <- d2(0, 32)) yield s"$y-$m-$d"
    val time = for (h <- d2(0, 25); mi <- d2(0, 60); sec <- d2(0, 61)) yield s"$h:$mi:$sec"
    val frac = Gen.oneOf("", ".1", ".123", ".123456789", ".1234567890", ".")
    val iso = for {
      dt <- date; sep <- Gen.oneOf("T", " ", "t"); t <- time; f <- frac
      zone <- Gen.oneOf("", "Z", "+02:00", "-05:30", "+2", "[UTC]", "+02:00[Europe/Paris]")
    } yield s"$dt$sep$t$f$zone"
    val dateWithZone = for (dt <- date; z <- Gen.oneOf("", "Z", "+01:00")) yield dt + z
    val rfc1123 = for {
      dow <- Gen.oneOf("Mon, ", "Tue, ", "", "Xyz, ", "mon, ")
      d <- Gen.choose(0, 32); mon <- Gen.oneOf("Jan", "Jun", "Dec", "Foo", "jun")
      y <- Gen.oneOf("2008", "1999", "08"); t <- time
      zone <- Gen.oneOf("GMT", "+0200", "-0000", "UT", "")
    } yield s"$dow$d $mon $y $t $zone"
    val number = for {
      pad <- Gen.oneOf("", " ", "\t", "\n ", "\u0000")
      sign <- Gen.oneOf("", "+", "-", "++", "+-", "- ")
      int <- Gen.oneOf("", "0", "12", "007", "123456789012345678901")
      dot <- Gen.oneOf("", ".")
      fr <- Gen.oneOf("", "5", "25")
      exp <- Gen.oneOf("", "e5", "E-3", "e+07", "e+", "e", "e1.5")
      suffix <- Gen.oneOf("", "", "", "d", "f", ",234", "x", "\u0663")
      pad2 <- Gen.oneOf("", " ", "\r")
    } yield s"$pad$sign$int$dot$fr$exp$suffix$pad2"
    val fixed = Gen.oneOf("NaN", "Infinity", "-Infinity", "0x1p3", "1,234", "25-989-741-2988",
      "1997/08/13", "\u0661\u0662\u0663", "", " ", "true", "2020-02-29", "2021-02-29")
    val userShaped = for {
      d <- d2(0, 32); m <- d2(0, 13); y <- year; h <- d2(0, 25); mi <- d2(0, 60)
      s <- Gen.oneOf(s"$d/$m/$y $h:$mi", s"$d.$m.$y", s"$d/$m/$y")
    } yield s
    // Calendar edges: 29 February on leap, common and century years, the
    // ten days the Julian-to-Gregorian switch skipped, year 0000 and signed
    // years, years of five or more digits (past the microsecond range from
    // about 294,000 on), 0-9 fraction digits, and either separator.
    val edgeYear = Gen.oneOf("0000", "9999", "1582", "2000", "1900", "2100", "2024", "2023",
      "-0001", "-0044", "+10000", "+294248", "+300000", "-300000", "+999999999")
    val edgeDate = for {
      y <- edgeYear
      md <- Gen.oneOf(Gen.const("02-29"), Gen.choose(1, 31).map(d => f"10-$d%02d"),
        for (m <- d2(1, 12); d <- d2(28, 32)) yield s"$m-$d")
    } yield s"$y-$md"
    val edgeTimestamp = for {
      dt <- edgeDate; sep <- Gen.oneOf("T", " "); t <- time
      digits <- Gen.choose(0, 9)
      zone <- Gen.oneOf("", "Z", "+02:00", "-05:30", "+14:00")
    } yield s"$dt$sep$t${if (digits == 0) "" else "." + "987654321".take(digits)}$zone"
    val unpadded = Gen.frequency(3 -> iso, 2 -> date, 1 -> dateWithZone, 2 -> rfc1123,
      3 -> number, 1 -> fixed, 2 -> userShaped, 2 -> edgeDate, 3 -> edgeTimestamp)
    val base = for {
      v <- unpadded; l <- Gen.oneOf("", "", "", " ", "\t "); r <- Gen.oneOf("", "", "", " ", "\n")
    } yield l + v + r
    // Near misses: a valid-looking value cut short, extended or with one
    // character replaced.
    val value = for {
      v <- base
      edit <- Gen.choose(0, 5)
      at <- Gen.choose(0, math.max(0, v.length - 1))
      c <- Gen.oneOf("0-:T Z.+x/,".toSeq)
    } yield edit match {
      case 0 if v.nonEmpty => v.dropRight(1)
      case 1 => v + Seq(" ", "x", "Z", "0", ".5")(at % 5)
      case 2 if v.nonEmpty => v.updated(at, c)
      case _ => v
    }
    val userFmt = XmlOptions(Map(
      "timestampFormat" -> "dd/MM/yyyy HH:mm", "dateFormat" -> "dd.MM.yyyy"))
    // User formats that read the plain yyyy-MM-dd shape: as a timestamp
    // (`2020-01-01` is 20:00 on 2020-01-01), and as a date where ISO cannot.
    val plainShaped = Map("timestampFormat" -> "yyHH-MM-dd", "dateFormat" -> "yyyy-dd-MM")
    val spaced = Map("ignoreSurroundingSpaces" -> "true")
    for (o <- Seq(opts, userFmt, XmlOptions(plainShaped), XmlOptions(spaced),
        XmlOptions(spaced ++ plainShaped))) {
      val prop = Prop.forAll(value) { v =>
        val ts = allCatch.opt(TypeCast.parseXmlTimestamp(v, o))
        val date = allCatch.opt(TypeCast.parseXmlDate(v, o))
        val casts = Seq(TimestampType, TimestampNTZType, DateType).map { dt =>
          val cast = allCatch.opt(TypeCast.castToInternal(v, dt, o))
          val exact = OldCasts.exact(v, dt, o)
          val old = OldCasts.castToInternal(v, dt, o)
          ((cast == exact) :| s"castToInternal('$v', $dt) = $cast, not $exact") &&
            ((old == exact || OldCasts.knownWrong(v, dt, o)) :|
              s"the old cast of '$v' to $dt is ${old.orNull}, not ${exact.orNull}, unexplained")
        }
        Prop.all(Seq(
          (TypeCast.isDouble(v) == OldProbes.isDouble(v)) :| s"isDouble('$v')",
          (TypeCast.isTimestamp(v, o) == OldProbes.isTimestamp(v, o)) :| s"isTimestamp('$v')",
          (TypeCast.isDate(v, o) == OldProbes.isDate(v, o)) :| s"isDate('$v')",
          (ts == OldProbes.timestamp(v, o)) :| s"parseXmlTimestamp('$v') = $ts",
          (date == OldProbes.date(v, o)) :| s"parseXmlDate('$v') = $date") ++ casts: _*)
      }
      val result = Check.check(Check.Parameters.default.withMinSuccessfulTests(20000), prop)
      assert(result.passed, Pretty.pretty(result))
    }
  }

  /** `castToInternal`'s temporal branches as they were before the direct
   *  paths: each value parsed as [[OldProbes]] parses it, then taken through
   *  `java.sql.Timestamp`/`java.sql.Date` and converted with unchecked
   *  arithmetic, beside the exact value of the same parse. */
  private object OldCasts {
    private val localSpace = new DateTimeFormatterBuilder()
      .appendPattern("yyyy-MM-dd HH:mm:ss")
      .appendFraction(ChronoField.NANO_OF_SECOND, 0, 9, true)
      .toFormatter

    private def trimmed(v: String, o: XmlOptions): String =
      if (o.ignoreSurroundingSpaces) v.trim else v

    private def localDateTime(v: String): Option[LocalDateTime] =
      allCatch.opt(LocalDateTime.parse(v, DateTimeFormatter.ISO_LOCAL_DATE_TIME))
        .orElse(allCatch.opt(LocalDateTime.parse(v, localSpace)))

    def castToInternal(raw: String, dt: DataType, o: XmlOptions): Option[Any] = {
      val v = trimmed(raw, o)
      dt match {
        case TimestampType => OldProbes.timestamp(v, o).map { t =>
          val i = t.toInstant
          i.getEpochSecond * 1000000L + i.getNano / 1000L
        }
        case TimestampNTZType => localDateTime(v).map { ldt =>
          ldt.toEpochSecond(ZoneOffset.UTC) * 1000000L + ldt.getNano / 1000L
        }
        case DateType =>
          OldProbes.date(v, o).flatMap(d => allCatch.opt(d.toLocalDate.toEpochDay.toInt))
      }
    }

    /** Micros or epoch days computed exactly; None where the value does not
     *  parse or its result does not fit the internal type. */
    def exact(raw: String, dt: DataType, o: XmlOptions): Option[Any] = {
      val v = trimmed(raw, o)
      def micros(seconds: Long, nanos: Int): Option[Long] = {
        val m = BigInt(seconds) * 1000000 + nanos / 1000
        if (m.isValidLong) Some(m.toLong) else None
      }
      dt match {
        case TimestampType =>
          OldProbes.instant(v, o).flatMap(i => micros(i.getEpochSecond, i.getNano))
        case TimestampNTZType =>
          localDateTime(v).flatMap(t => micros(t.toEpochSecond(ZoneOffset.UTC), t.getNano))
        case DateType => OldProbes.localDate(v, o).map(_.toEpochDay).collect {
          case d if d.isValidInt => d.toInt
        }
      }
    }

    /** The values the old path got wrong: a date in the ten days the hybrid
     *  calendar of `java.sql.Date` skips (1582-10-05..14), in year 0 or
     *  before (the hybrid calendar has no year 0), or past the `Int` range
     *  of epoch days; a timestamp whose micros overflow a `Long`. */
    def knownWrong(raw: String, dt: DataType, o: XmlOptions): Boolean = {
      val v = trimmed(raw, o)
      dt match {
        case DateType => OldProbes.localDate(v, o).exists { d =>
          d.getYear <= 0 || !d.toEpochDay.isValidInt ||
            (d.getYear == 1582 && d.getMonthValue == 10 && d.getDayOfMonth >= 5 &&
              d.getDayOfMonth <= 14)
        }
        case _ => exact(raw, dt, o).isEmpty && castToInternal(raw, dt, o).isDefined
      }
    }
  }

  /** The probes as they were before the unresolved-parse gate: each format
   *  attempted by a resolving parse under `allCatch`, so every non-matching
   *  format costs a thrown exception. isDouble is the old one with the sign
   *  fix (`toDouble` on the raw value). */
  private object OldProbes {
    private val timestampFormats = Seq(
      DateTimeFormatter.ISO_INSTANT,
      DateTimeFormatter.ISO_OFFSET_DATE_TIME,
      DateTimeFormatter.RFC_1123_DATE_TIME,
      new DateTimeFormatterBuilder()
        .appendPattern("yyyy-MM-dd'T'HH:mm:ss")
        .appendFraction(ChronoField.NANO_OF_SECOND, 0, 9, true)
        .toFormatter,
      new DateTimeFormatterBuilder()
        .appendPattern("yyyy-MM-dd HH:mm:ss")
        .appendFraction(ChronoField.NANO_OF_SECOND, 0, 9, true)
        .toFormatter)

    // `Timestamp.from` never throws (it multiplies without a check), so
    // taking it after the attempts decides as taking it inside each did.
    def timestamp(value: String, options: XmlOptions): Option[Timestamp] =
      instant(value, options).map(Timestamp.from)

    def instant(value: String, options: XmlOptions): Option[Instant] = allCatch.opt {
      val zone = options.timezone.map(ZoneId.of).getOrElse(ZoneOffset.UTC)
      def attempt(fmt: DateTimeFormatter): Option[Instant] = allCatch.opt {
        val parsed = fmt.parse(value)
        if (parsed.isSupported(ChronoField.OFFSET_SECONDS)) Instant.from(parsed)
        else LocalDateTime.from(parsed).atZone(zone).toInstant
      }
      timestampFormats.iterator.map(attempt).collectFirst { case Some(t) => t }.orElse {
        options.timestampFormat.flatMap(p => attempt(DateTimeFormatter.ofPattern(p, Locale.US)))
      }
    }.flatten

    def localDate(value: String, options: XmlOptions): Option[LocalDate] =
      allCatch.opt(LocalDate.parse(value, DateTimeFormatter.ISO_DATE)).orElse {
        options.dateFormat.flatMap { p =>
          allCatch.opt(LocalDate.parse(value, DateTimeFormatter.ofPattern(p, Locale.US)))
        }
      }

    def date(value: String, options: XmlOptions): Option[Date] =
      localDate(value, options).map(Date.valueOf)

    def isDouble(v: String): Boolean =
      v.nonEmpty && !v.exists(c => c.isLetter && c != 'E' && c != 'e') &&
        v.exists(_.isDigit) && allCatch.opt(v.toDouble).isDefined

    private def maybeIsoTemporal(v: String): Boolean = {
      val len = v.length
      if (len < 8) return false
      val c0 = v.charAt(0)
      val s = if (c0 == '-' || c0 == '+') 1 else 0
      var i = s
      while (i < len && v.charAt(i).isDigit) i += 1
      i - s >= 4 && i < len && v.charAt(i) == '-'
    }

    private def maybeRfc1123(v: String): Boolean =
      v.length >= 14 && {
        val c0 = v.charAt(0)
        (c0.isLetter && v.charAt(3) == ',') ||
          (c0.isDigit && (v.charAt(1) == ' ' ||
            (v.charAt(1).isDigit && v.charAt(2) == ' ')))
      }

    def isTimestamp(v: String, options: XmlOptions): Boolean =
      (maybeIsoTemporal(v) || maybeRfc1123(v) || options.timestampFormat.isDefined) &&
        timestamp(v, options).isDefined

    def isDate(v: String, options: XmlOptions): Boolean =
      (maybeIsoTemporal(v) || options.dateFormat.isDefined) && date(v, options).isDefined
  }
}
