package graft.functions

import org.apache.spark.sql.functions.udf

/** Date/time compatibility layer (SURVEY §2.9 date/time gap-fill):
  *
  * 1. `format_datetime(ts, joda_pattern)` — the reference formats with
  *    Joda-Time patterns (`DateTimeFunctions.java` format_datetime);
  *    Spark's `date_format` speaks java.time. [[translateJodaPattern]]
  *    maps the divergent pattern letters so reference-dialect format
  *    strings keep working.
  *
  * 2. TIME-type emulation (SURVEY §1.3: Spark has no TIME type): a
  *    time-of-day is carried as nanos-of-day BIGINT with
  *    `time_of_day_nanos(ts)` / `nanos_to_time_string(n)` helpers —
  *    lossless for the reference's TIME(0..9), ordering- and
  *    equality-compatible.
  */
object DateTimeCompat {

  /** Translate a Joda-Time format pattern to a java.time
    * (DateTimeFormatter) pattern. Divergent letters:
    * Joda Y (year-of-era)       → java y
    * Joda x (weekyear)          → java Y
    * Joda e (day-of-week num)   → java e (compatible)
    * Joda Z (tz offset)         → java XX
    * Joda ZZ                    → java XXX
    * Literals in single quotes pass through untouched.
    */
  def translateJodaPattern(joda: String): String = {
    val out = new StringBuilder
    var i = 0
    var inQuote = false
    while (i < joda.length) {
      val c = joda.charAt(i)
      if (c == '\'') { inQuote = !inQuote; out += c; i += 1 }
      else if (inQuote) { out += c; i += 1 }
      else {
        var run = 1
        while (i + run < joda.length && joda.charAt(i + run) == c) run += 1
        c match {
          case 'Y' => out ++= "y" * run
          case 'x' => out ++= "Y" * run
          case 'Z' => out ++= (if (run >= 2) "XXX" else "XX")
          case _ => out ++= c.toString * run
        }
        i += run
      }
    }
    out.toString
  }

  /** Nanos-of-day of a timestamp's local time (UTC session). */
  def timeOfDayNanos(epochMicros: Long): Long = {
    val microsPerDay = 86400000000L
    val m = ((epochMicros % microsPerDay) + microsPerDay) % microsPerDay
    m * 1000L
  }

  /** Render nanos-of-day as HH:mm:ss.fffffffff (TIME literal form). */
  def nanosToTimeString(nanos: Long): String = {
    val sec = nanos / 1000000000L
    val frac = nanos % 1000000000L
    val h = sec / 3600
    val m = (sec % 3600) / 60
    val s2 = sec % 60
    if (frac == 0) f"$h%02d:$m%02d:$s2%02d"
    else f"$h%02d:$m%02d:$s2%02d.${frac}%09d".replaceAll("0+$", "")
  }

  /** Parse a string with a Joda-Time pattern (reference
    * `DateTimeFunctions.java` parse_datetime) — the inverse of
    * `format_datetime`, through the same pattern translator. A parsed
    * zone/offset is honored; otherwise the local datetime is taken as
    * UTC (the session zone); a bare date parses to midnight. */
  def parseDatetime(s: String, jodaPattern: String): java.sql.Timestamp = {
    import java.time._
    import java.time.temporal.TemporalQuery
    val f = java.time.format.DateTimeFormatter
      .ofPattern(translateJodaPattern(jodaPattern))
    val best = f.parseBest(s,
      ((t: java.time.temporal.TemporalAccessor) => ZonedDateTime.from(t)):
        TemporalQuery[AnyRef],
      ((t: java.time.temporal.TemporalAccessor) => LocalDateTime.from(t)):
        TemporalQuery[AnyRef],
      ((t: java.time.temporal.TemporalAccessor) => LocalDate.from(t)):
        TemporalQuery[AnyRef])
    val instant = best match {
      case z: ZonedDateTime => z.toInstant
      case ldt: LocalDateTime => ldt.toInstant(ZoneOffset.UTC)
      case ld: LocalDate => ld.atStartOfDay.toInstant(ZoneOffset.UTC)
      case other => throw new IllegalArgumentException(s"unparseable: $other")
    }
    java.sql.Timestamp.from(instant)
  }

  /** ISO-8601 rendering of a timestamp (reference
    * `DateTimeFunctions.java:199` to_iso8601): seconds always printed,
    * millis only when non-zero — `2001-08-22T03:04:05[.321]`. */
  def toIso8601(ts: java.sql.Timestamp): String = {
    val ldt = java.time.LocalDateTime.ofInstant(
      ts.toInstant, java.time.ZoneOffset.UTC)
    val base = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd'T'HH:mm:ss").format(ldt)
    val millis = ldt.getNano / 1000000
    if (millis == 0) base else f"$base.$millis%03d"
  }

  /** Flexible ISO-8601 timestamp parse (reference
    * `DateTimeFunctions.java` from_iso8601_timestamp): offset and
    * fractional seconds optional, bare dates parse to midnight; a
    * missing offset means the session zone (UTC). */
  def fromIso8601Timestamp(s: String): java.sql.Timestamp = {
    import java.time._
    import java.time.temporal.TemporalQuery
    val instant =
      if (s.contains("T")) {
        java.time.format.DateTimeFormatter.ISO_DATE_TIME.parseBest(s,
          ((t: java.time.temporal.TemporalAccessor) => ZonedDateTime.from(t)):
            TemporalQuery[AnyRef],
          ((t: java.time.temporal.TemporalAccessor) => LocalDateTime.from(t)):
            TemporalQuery[AnyRef]) match {
          case z: ZonedDateTime => z.toInstant
          case l: LocalDateTime => l.toInstant(ZoneOffset.UTC)
          case other => throw new IllegalArgumentException(s"unparseable: $other")
        }
      } else LocalDate.parse(s).atStartOfDay.toInstant(ZoneOffset.UTC)
    java.sql.Timestamp.from(instant)
  }

  /** MySQL-style %-pattern → java.time pattern (reference date_format /
    * date_parse, `DateTimeFunctions.java` DateFormat translation).
    * Codes the reference rejects (%D %U %u %V %X %x) raise; unknown
    * %-codes fall through as literal characters, literal runs are
    * quoted so alphabetic text can't collide with pattern letters. */
  private val mysqlUnsupported = Set('D', 'U', 'u', 'V', 'X', 'x')

  def mysqlToJavaPattern(p: String): String = mysqlToJavaPattern(p, false)

  /** forParse=true emits minimum-width field letters (M, d, H...) so
    * one-digit inputs parse, matching MySQL's lenient field widths;
    * formatting keeps the zero-padded variants. */
  def mysqlToJavaPattern(p: String, forParse: Boolean): String = {
    def w(wide: String, narrow: String): String =
      if (forParse) narrow else wide
    val sb = new StringBuilder
    val lit = new StringBuilder
    def flush(): Unit = if (lit.nonEmpty) {
      sb.append('\'').append(lit.toString.replace("'", "''")).append('\'')
      lit.clear()
    }
    var i = 0
    while (i < p.length) {
      val c = p.charAt(i)
      if (c == '%' && i + 1 < p.length) {
        val d = p.charAt(i + 1)
        d match {
          case 'a' => flush(); sb.append("EEE")
          case 'b' => flush(); sb.append("MMM")
          case 'c' => flush(); sb.append("M")
          case 'd' => flush(); sb.append(w("dd", "d"))
          case 'e' => flush(); sb.append("d")
          case 'f' => flush(); sb.append("SSSSSS")
          case 'H' => flush(); sb.append(w("HH", "H"))
          case 'h' | 'I' => flush(); sb.append(w("hh", "h"))
          case 'i' => flush(); sb.append(w("mm", "m"))
          case 'j' => flush(); sb.append(w("DDD", "D"))
          case 'k' => flush(); sb.append("H")
          case 'l' => flush(); sb.append("h")
          case 'M' => flush(); sb.append("MMMM")
          case 'm' => flush(); sb.append(w("MM", "M"))
          case 'p' => flush(); sb.append("a")
          case 'r' => flush(); sb.append("hh:mm:ss a")
          case 'S' | 's' => flush(); sb.append(w("ss", "s"))
          case 'T' => flush(); sb.append("HH:mm:ss")
          case 'v' => flush(); sb.append("ww")
          case 'W' => flush(); sb.append("EEEE")
          case 'Y' => flush(); sb.append("yyyy")
          case 'y' => flush(); sb.append("yy")
          case '%' => lit.append('%')
          case x if mysqlUnsupported(x) => throw new IllegalArgumentException(
            s"%$x not supported in date format string")
          case x => lit.append(x)
        }
        i += 2
      } else { lit.append(c); i += 1 }
    }
    flush()
    sb.toString
  }

  def dateFormatMysql(ts: java.sql.Timestamp, p: String): String =
    java.time.format.DateTimeFormatter
      .ofPattern(mysqlToJavaPattern(p), java.util.Locale.ENGLISH)
      .withZone(java.time.ZoneOffset.UTC)
      .format(ts.toInstant)

  /** date_parse: missing fields default like the reference (year 1970,
    * month/day 1, time 0; a 12-hour clock with no %p reads as AM —
    * TestDateTimeFunctions testDateParse '12:35:10' → 00:35:10). */
  def dateParseMysql(s: String, p: String): java.sql.Timestamp = {
    import java.time.temporal.ChronoField._
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern(mysqlToJavaPattern(p, true), java.util.Locale.ENGLISH)
    val ta = fmt.parse(s)
    def get(f: java.time.temporal.ChronoField, dflt: Int): Int =
      if (ta.isSupported(f)) ta.get(f) else dflt
    val year = if (ta.isSupported(YEAR)) ta.get(YEAR)
      else get(YEAR_OF_ERA, 1970)
    val date =
      if (ta.isSupported(DAY_OF_YEAR) && !ta.isSupported(MONTH_OF_YEAR))
        java.time.LocalDate.ofYearDay(year, ta.get(DAY_OF_YEAR))
      else java.time.LocalDate.of(year, get(MONTH_OF_YEAR, 1),
        get(DAY_OF_MONTH, 1))
    // the resolver folds hh+a into HOUR_OF_DAY; bare hh stays AM
    val hour = if (ta.isSupported(HOUR_OF_DAY)) ta.get(HOUR_OF_DAY)
      else get(HOUR_OF_AMPM, 0)
    val ldt = date.atTime(hour, get(MINUTE_OF_HOUR, 0),
      get(SECOND_OF_MINUTE, 0), get(NANO_OF_SECOND, 0))
    java.sql.Timestamp.from(ldt.toInstant(java.time.ZoneOffset.UTC))
  }

  def define(t: FunctionTable): Unit = {
    // date_format / date_parse (MySQL %-patterns in the reference).
    // DUAL-MODE guard: a pattern WITHOUT any '%' is interpreted as a
    // Spark/java.time pattern (the reference would render it as
    // literal text, which no real query wants) so native Spark
    // queries that used the builtin keep working.
    t.udf("date_format", udf((ts: java.sql.Timestamp, p: String) =>
      if (ts == null || p == null) null
      else if (p.contains('%')) dateFormatMysql(ts, p)
      else try java.time.format.DateTimeFormatter
        .ofPattern(p, java.util.Locale.ENGLISH)
        .withZone(java.time.ZoneOffset.UTC).format(ts.toInstant)
      catch {
        // not a java pattern either → the reference renders a
        // %-free pattern as literal text
        case _: IllegalArgumentException => p
      }))
    t.udf("date_parse", udf((s: String, p: String) =>
      if (s == null || p == null) null else dateParseMysql(s, p)))
    t.udf("format_datetime", udf((ts: java.sql.Timestamp, jodaPattern: String) =>
      if (ts == null || jodaPattern == null) null
      else java.time.format.DateTimeFormatter
        .ofPattern(translateJodaPattern(jodaPattern))
        .withZone(java.time.ZoneOffset.UTC)
        .format(ts.toInstant)))
    t.udf("parse_datetime", udf((s: String, jodaPattern: String) =>
      if (s == null || jodaPattern == null) null
      else parseDatetime(s, jodaPattern)))
    // to_iso8601 is a type-dispatching expression in CompatAliases
    // (DATE → 'yyyy-MM-dd', timestamp → 'T'-form): a UDF can't see the
    // static input type once Date has been coerced.
    t.udf("from_iso8601_timestamp", udf((s: String) =>
      if (s == null) null else fromIso8601Timestamp(s)))
    t.udf("from_iso8601_date", udf((s: String) =>
      if (s == null) null
      else java.sql.Date.valueOf(java.time.LocalDate.parse(s))))
    t.udf("time_of_day_nanos", udf((ts: java.sql.Timestamp) =>
      if (ts == null) null.asInstanceOf[java.lang.Long]
      else java.lang.Long.valueOf(timeOfDayNanos(
        ts.getTime * 1000L + (ts.getNanos / 1000 % 1000)))))
    t.udf("nanos_to_time_string", udf((n: java.lang.Long) =>
      if (n == null) null else nanosToTimeString(n)))
  }
}
