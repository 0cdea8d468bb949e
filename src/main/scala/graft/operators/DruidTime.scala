package graft.operators

import java.time.{LocalDateTime, ZoneOffset}
import java.util.Locale
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.lit
import org.json4s._
import graft.functions.TimeFunctions

/** Druid's time grammar, read in one place: granularities, intervals and
  * instants. The reference reads every granularity through one Jackson
  * `Granularity` type and every interval through `Intervals.of` (Joda's
  * ISO parser), so a spelling one query type accepts means the same on
  * every other; every native path here (NativeQuery, MovingAverageQuery,
  * the façade's result envelope, the rollup admin resource) reads time
  * through this object for the same reason.
  *
  * Instants are UTC epoch millis, the reference's Joda resolution: an
  * endpoint without an offset is UTC wall time (the engine's session zone).
  */
object DruidTime {

  /** A half-open UTC interval [startMs, endMs) (Joda's `Interval`). */
  final case class Interval(startMs: Long, endMs: Long) {
    def start: LocalDateTime = wallClock(startMs)
    def end: LocalDateTime = wallClock(endMs)
    /** Predicate on a timestamp column (timestamp_ntz literals: the session
      * zone is UTC, so the bounds compare as UTC wall time). */
    def containsTime(c: Column): Column = c >= lit(start) && c < lit(end)
    /** Predicate on an epoch-millis long column (IntervalDimFilter's long
      * range). */
    def containsMillis(c: Column): Column = c >= lit(startMs) && c < lit(endMs)
    /** ISO spelling that [[interval]] reads back unchanged. */
    def iso: String = s"${start}Z/${end}Z"
  }

  /** The named granularities (Granularities.java) as ISO periods. */
  private val NamedPeriods = Map(
    "second" -> "PT1S", "minute" -> "PT1M", "fifteen_minute" -> "PT15M",
    "thirty_minute" -> "PT30M", "hour" -> "PT1H", "day" -> "P1D",
    "week" -> "P1W", "month" -> "P1M", "quarter" -> "P3M", "year" -> "P1Y")

  /** A granularity JSON value. Names resolve case-insensitively, `all` and
    * `none` included (Granularity.fromString upper-cases before valueOf);
    * any other string is an ISO period; the object forms are `period`
    * (with optional origin and timeZone; a typeless object with a `period`
    * reads as one), `duration` (millis, numeric or ISO origin), `all` and
    * `none`. An absent value is `all`. A period that
    * [[TimeFunctions.periodParts]] rejects fails here. */
  def granularity(j: JValue): Granularity = j match {
    case JNothing | JNull => AllGranularity
    case JString(s) => s.toLowerCase(Locale.ENGLISH) match {
      case "all" => AllGranularity
      case "none" => NoneGranularity
      case name => PeriodGranularity(period(NamedPeriods.getOrElse(name, s)))
    }
    case o: JObject => (o \ "type") match {
      case JString("period") | JNothing if (o \ "period") != JNothing =>
        def opt(f: String): String = o \ f match { case JString(s) => s; case _ => null }
        PeriodGranularity(period(o \ "period" match {
            case JString(p) => p
            case x => throw new IllegalArgumentException(s"granularity period: $x")
          }),
          Option(opt("origin")).map(_.replace("T", " ")).orNull, opt("timeZone"))
      // DurationGranularity.java:41-47
      case JString("duration") =>
        DurationGranularity(
          o \ "duration" match {
            case JInt(n) => n.toLong; case JLong(n) => n
            case x => throw new IllegalArgumentException(s"duration: $x")
          },
          o \ "origin" match { case JNothing | JNull => 0L; case x => millis(x) })
      case JString("all") => AllGranularity
      case JString("none") => NoneGranularity
      case _ => throw new IllegalArgumentException(s"granularity: $j")
    }
    case x => throw new IllegalArgumentException(s"granularity: $x")
  }

  private def period(p: String): String = { TimeFunctions.periodParts(p); p }

  /** The JSON form of a granularity; [[granularity]] reads it back. */
  def render(g: Granularity): JValue = g match {
    case AllGranularity => JString("all")
    case NoneGranularity => JString("none")
    case PeriodGranularity(p, origin, tz) => JObject(
      "type" -> JString("period"), "period" -> JString(p),
      "origin" -> (if (origin == null) JNull else JString(origin)),
      "timeZone" -> (if (tz == null) JNull else JString(tz)))
    case DurationGranularity(ms, origin) => JObject(
      "type" -> JString("duration"), "duration" -> JLong(ms), "origin" -> JLong(origin))
  }

  /** Query `intervals`: an array of interval strings, one string, or the
    * QuerySegmentSpec object form {"type": "intervals", "intervals": [...]}
    * (MultipleIntervalSegmentSpec / LegacySegmentSpec). Absent is empty. */
  def intervals(j: JValue): Seq[Interval] = j match {
    case JArray(is) => is.map {
      case JString(s) => interval(s)
      case x => throw new IllegalArgumentException(s"expected string, got $x")
    }
    case JString(s) => Seq(interval(s))
    case o: JObject => intervals(o \ "intervals")
    case _ => Nil
  }

  /** One Joda interval string: `start/end`, `start/period` or
    * `period/end` (Intervals.of("2020-04-02T00:00:00.000Z/P1D")). */
  private def interval(s: String): Interval = s.split("/") match {
    case Array(a, b) if b.trim.startsWith("P") =>
      val t = instant(a); Interval(t, plus(t, b, 1))
    case Array(a, b) if a.trim.startsWith("P") =>
      val t = instant(b); Interval(plus(t, a, -1), t)
    case Array(a, b) => Interval(instant(a), instant(b))
    case _ => throw new IllegalArgumentException(s"Unparseable interval: $s")
  }

  /** Epoch millis of a number or an ISO instant. */
  def millis(j: JValue): Long = j match {
    case JInt(n) => n.toLong
    case JLong(n) => n
    case JString(s) => instant(s)
    case x => throw new IllegalArgumentException(s"timestamp: $x")
  }

  // Joda's ISO date-opt-time: reduced precision (yyyy, yyyy-MM), a time of
  // hours[:minutes[:seconds[.fraction]]] after T (or a space), and an
  // offset Z / ±hh:mm / ±hhmm / ±hh after the time. Fields may drop their
  // leading zero, as Joda's parser allows.
  private val InstantRe = ("""(\d{4})(?:-(\d{1,2})(?:-(\d{1,2})""" +
    """(?:[T ](\d{1,2})(?::(\d{1,2})(?::(\d{1,2})(?:[.,](\d+))?)?)?""" +
    """(Z|[+-]\d{2}(?::?\d{2})?)?)?)?)?""").r

  /** Epoch millis of one ISO instant; fractions below a millisecond
    * truncate, as in Joda. */
  private def instant(s: String): Long = s.trim match {
    case InstantRe(y, mo, d, h, mi, sec, frac, off) =>
      def n(x: String, dflt: Int): Int = if (x == null) dflt else x.toInt
      val local = try LocalDateTime.of(y.toInt, n(mo, 1), n(d, 1), n(h, 0), n(mi, 0), n(sec, 0))
        catch { case e: java.time.DateTimeException =>
          throw new IllegalArgumentException(s"Unparseable interval endpoint: $s", e) }
      val ms = if (frac == null) 0 else (frac + "00").take(3).toInt
      val offsetS = off match {
        case null | "Z" => 0
        case o =>
          val digits = o.substring(1).replace(":", "")
          val secs = digits.take(2).toInt * 3600 + (if (digits.length > 2) digits.drop(2).toInt * 60 else 0)
          if (o.head == '-') -secs else secs
      }
      (local.toEpochSecond(ZoneOffset.UTC) - offsetS) * 1000L + ms
    case _ => throw new IllegalArgumentException(s"Unparseable interval endpoint: $s")
  }

  /** `t` plus `n` times an ISO period, on the UTC calendar: months, then
    * days (weeks fold into days), then the fixed sub-day part — Joda's
    * multiplied-period addition. */
  def plus(t: Long, period: String, n: Int): Long = {
    val p = TimeFunctions.periodParts(period)
    val days = wallClock(t).plusMonths(p.months.toLong * n).plusDays(p.days.toLong * n)
    days.toInstant(ZoneOffset.UTC).toEpochMilli + p.millis * n
  }

  /** UTC wall time of epoch millis. */
  def wallClock(ms: Long): LocalDateTime =
    LocalDateTime.ofEpochSecond(Math.floorDiv(ms, 1000L),
      (Math.floorMod(ms, 1000L) * 1000000L).toInt, ZoneOffset.UTC)
}
