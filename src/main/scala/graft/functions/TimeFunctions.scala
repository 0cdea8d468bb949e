package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Druid time-function surface re-expressed as Spark Column helpers.
  *
  * Reference semantics: Druid's timestamp_floor / timestamp_ceil /
  * timestamp_shift / timestamp_extract expression macros
  * (reference: processing/src/main/java/org/apache/druid/query/expression/
  * TimestampFloorExprMacro.java et al.) and its Granularity model
  * (ISO-8601 periods with optional origin and timezone,
  * core/src/main/java/org/apache/druid/java/util/common/granularity/
  * PeriodGranularity.java).
  *
  * Spark-first design: every helper compiles to built-in, codegen-friendly
  * Catalyst expressions (`date_trunc`, `timestamp_millis`, `unix_millis`,
  * arithmetic) — no UDFs — so filters/projections stay inside
  * whole-stage codegen and pushdown-friendly plans at 100 TB scale.
  */
object TimeFunctions {

  /** An ISO-8601 period split the way Joda's period arithmetic applies it:
    * calendar months (years fold in), days (weeks fold in), then fixed
    * sub-day millis. One field or several (P1M2D): Joda's PeriodGranularity
    * steps compound periods with calendar arithmetic
    * (QueryGranularityTest.testCompoundPeriodTruncate). */
  final case class PeriodParts(months: Int, days: Int, millis: Long) {
    /** Months together with days or sub-day time (P1M2D, P1MT1H). */
    def isCompound: Boolean = months > 0 && (days > 0 || millis > 0)
    /** The fixed-width part in millis: the whole period's width only when
      * `months == 0`. */
    def fixedMillis: Long = days * 86400000L + millis
  }

  // Joda's ISOPeriodFormat.standard(): seconds may carry a fraction
  private val PeriodRe = ("""^P(?:(\d+)Y)?(?:(\d+)M)?(?:(\d+)W)?(?:(\d+)D)?""" +
    """(?:T(?:(\d+)H)?(?:(\d+)M)?(?:(\d+)(?:[.,](\d+))?S)?)?$""").r

  /** The one reader of an ISO period; fractions below a millisecond
    * truncate. An empty or malformed period fails. */
  def periodParts(p: String): PeriodParts = p.trim.toUpperCase match {
    case PeriodRe(y, mo, w, d, h, mi, s, frac) =>
      def l(x: String): Long = if (x == null) 0L else x.toLong
      val months = (l(y) * 12 + l(mo)).toInt
      val days = (l(w) * 7 + l(d)).toInt
      val ms = l(h) * 3600000L + l(mi) * 60000L + l(s) * 1000L +
        (if (frac == null) 0L else (frac + "00").take(3).toLong)
      if (months == 0 && days == 0 && ms == 0)
        throw new IllegalArgumentException(s"empty period: $p")
      PeriodParts(months, days, ms)
    case _ => throw new IllegalArgumentException(s"bad ISO period: $p")
  }
  /** Exactly one week (P1W): the period whose origin-less buckets start
    * on Monday, the ISO week start, instead of the epoch's 7-day grid. */
  def isOneWeek(period: String): Boolean =
    period.trim.toUpperCase(java.util.Locale.ENGLISH).matches("^P0*1W$")

  /** Druid `timestamp_floor(ts, period[, origin])`.
    *
    * Fixed-width path: floor((millis - origin) / width) * width + origin —
    * pure long arithmetic, codegen'd, and monotone in ts so parquet min/max
    * pruning on the underlying column still applies to range predicates.
    * Month path: origin + floor(months_between(ts, origin)/n)*n months.
    */
  /** unix_millis requires TimestampType; tz-naive columns are cast first
    * (identity under the UTC session timezone this engine standardizes on). */
  private def millisOf(ts: Column): Column = unix_millis(ts.cast("timestamp"))

  def timeFloor(ts: Column, period: String, origin: Column = null,
      tz: String = null): Column = {
    // compound month+day/sub-day periods (P1M2D) bucket by CALENDAR
    // arithmetic from the origin — boundary(k) = origin +k months +k·days
    // +k·millis in the zone, exactly Joda's multiplied-period addition
    // (PeriodGranularity.truncate; QueryGranularityTest
    // .testCompoundPeriodTruncate) — via a per-row java.time search
    val p = periodParts(period)
    if (p.isCompound) {
      val bridge = org.apache.spark.sql.graftbridge.CatalystBridge
      val originExpr =
        if (origin == null)
          org.apache.spark.sql.catalyst.expressions.Literal(
            null, org.apache.spark.sql.types.LongType)
        else bridge.expression(millisOf(origin))
      return timestamp_millis(bridge.column(CompoundPeriodFloor(
        bridge.expression(millisOf(ts)), originExpr,
        p.months, p.days, p.millis,
        if (tz == null) "UTC" else tz)))
    }
    // P1W with NO origin floors to the ISO week start — MONDAY
    // (PeriodGranularity.java:295-298, chronology.dayOfWeek().set(t, 1));
    // week MULTIPLES (P2W) and origin-anchored weeks keep the 7-day grid
    // from the (epoch-default) origin like the reference's weeks().add path,
    // which the fixed-width arithmetic below already reproduces.
    if (origin == null && isOneWeek(period))
      return zonedRoundTrip(ts, null, tz)((t, _) =>
        date_trunc("week", t.cast("timestamp")))
    val fastOrigin = fastMonthOrigin(origin, tz)
    // Sub-day fixed periods under an explicit zone floor on LOCAL fields
    // with the instant's own offset preserved (joda hourOfDay().roundFloor
    // semantics) — the wall-clock round trip below cannot distinguish the
    // two 01:xx hours at a DST fall-back, where the reference produces two
    // distinct hourly buckets (QueryGranularityTest.testPeriodDaylightSaving)
    val width = p.fixedMillis
    if (tz != null && origin == null && p.months == 0 &&
        width < 86400000L && 86400000L % width == 0) {
      val bridge = org.apache.spark.sql.graftbridge.CatalystBridge
      return timestamp_millis(bridge.column(ZonedSubDayFloor(
        bridge.expression(millisOf(ts)), width, tz)))
    }
    zonedRoundTrip(ts, origin, tz) { (t, o) =>
      if (p.months == 0) {
        val om = millisOf(o)
        timestamp_millis(floorDiv(millisOf(t) - om, width) * width + om)
      } else fastOrigin match {
        // day-1/midnight origin (incl. the epoch default — the overwhelmingly
        // common case): the grid is month-aligned, so date_trunc covers the
        // calendar-named periods and months_between is exact at bucket
        // boundaries — the correction branches and the interval-preserving
        // monthAdd are elided at plan-build time
        case Some(_) if p.months == 1 => date_trunc("month", t.cast("timestamp"))
        case Some(idx) if p.months == 3 && idx % 3 == 0 =>
          date_trunc("quarter", t.cast("timestamp"))
        case Some(idx) if p.months == 12 && idx % 12 == 0 =>
          date_trunc("year", t.cast("timestamp"))
        case Some(_) =>
          val k = (floor(months_between(t.cast("timestamp"), o) / p.months) * p.months).cast("int")
          add_months(o, k).cast("timestamp")
        case None => monthAdd(o, monthFloorIndex(t, o, p.months))
      }
    }
  }

  /** Druid's TIME_* functions take an optional IANA timezone: bucket/shift
    * boundaries are computed on that zone's WALL CLOCK (DST-aware for day+
    * periods), then mapped back to the engine's UTC timeline
    * (query/expression/TimestampFloorExprMacro.java granularity.bucketStart
    * under the period's chronology). With no explicit origin the buckets
    * anchor to the zone's own calendar (epoch in LOCAL time — Joda
    * chronology semantics), so the default origin stays in the wall frame
    * unconverted; an explicit origin is an instant and converts with ts. A
    * runtime-null origin (CAST(NULL AS TIMESTAMP)) falls back the same way. */
  private def zonedRoundTrip(ts: Column, origin: Column, tz: String)(
      f: (Column, Column) => Column): Column =
    if (tz == null) {
      val o = if (origin == null) defaultOrigin
              else coalesce(origin.cast("timestamp"), defaultOrigin)
      f(ts, o)
    } else {
      // explicit origin = an INSTANT, converted with ts; absent (or
      // runtime-null) origin = the zone's own calendar anchor, wall-frame
      val o = if (origin == null) defaultOrigin
              else coalesce(from_utc_timestamp(origin.cast("timestamp"), tz), defaultOrigin)
      to_utc_timestamp(f(from_utc_timestamp(ts.cast("timestamp"), tz), o), tz)
    }

  /** Wall-clock view only (extract/format: the result is not a timestamp). */
  private[functions] def wallClock(ts: Column, tz: String): Column =
    if (tz == null) ts else from_utc_timestamp(ts.cast("timestamp"), tz)

  /** origin + k calendar months, PRESERVING the origin's time-of-day —
    * add_months returns a DATE and would silently drop a sub-day origin
    * offset (TIME_FLOOR(__time, 'P1M', TIMESTAMP '1970-01-01 01:02:03'),
    * CalciteQueryTest testTimeseriesUsingTimeFloorWithOrigin). */
  private def monthAdd(origin: Column, months: Column): Column =
    origin.cast("timestamp") +
      make_interval(lit(0), months, lit(0), lit(0), lit(0), lit(0), lit(0))

  /** Largest multiple-of-n month count k with origin + k months ≤ ts.
    * months_between IGNORES time-of-day when both sides share a
    * day-of-month, so the estimate is corrected against the actual period
    * boundaries (the error is under one month, i.e. under one period). */
  private def monthFloorIndex(ts: Column, origin: Column, n: Int): Column = {
    val t = ts.cast("timestamp")
    val approx = (floor(months_between(t, origin) / n) * n).cast("int")
    when(monthAdd(origin, approx) > t, approx - n)
      .when(monthAdd(origin, approx + n) <= t, approx + n)
      .otherwise(approx)
  }

  /** Absolute month index (year*12 + month-1) of a literal day-1/midnight
    * origin, or None when the origin is dynamic, not day-1/midnight, or
    * wall-frame-shifted (explicit origin + tz converts before bucketing, so
    * the literal's UTC fields don't describe the frame it buckets in). The
    * epoch default is 1970-01 = 23640 — divisible by 3 and 12, so the
    * quarter/year date_trunc alignments hold. */
  private def fastMonthOrigin(origin: Column, tz: String): Option[Int] =
    if (origin == null) Some(1970 * 12)
    else if (tz != null) None
    else try {
      import org.apache.spark.sql.catalyst.expressions.{Cast, TimeZoneAwareExpression}
      import org.apache.spark.sql.types.TimestampType
      val cast = Cast(
        org.apache.spark.sql.graftbridge.CatalystBridge.expression(origin), TimestampType)
      val resolved = cast.transformUp {
        case tza: TimeZoneAwareExpression if tza.timeZoneId.isEmpty => tza.withTimeZone("UTC")
      }
      if (!resolved.foldable) None
      else resolved.eval(null) match {
        case micros: java.lang.Long =>
          val ldt = java.time.LocalDateTime.ofEpochSecond(
            Math.floorDiv(micros, 1000000L), (Math.floorMod(micros, 1000000L) * 1000).toInt,
            java.time.ZoneOffset.UTC)
          if (ldt.getDayOfMonth == 1 && ldt.toLocalTime == java.time.LocalTime.MIDNIGHT)
            Some(ldt.getYear * 12 + ldt.getMonthValue - 1)
          else None
        case _ => None // runtime-null origins fall back to the corrected path
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** floor-division on longs as a Column (Java-style floorDiv, handles ts < origin). */
  private def floorDiv(a: Column, b: Long): Column = {
    val q = (a / b).cast("long")
    when(a % b < 0, q - 1).otherwise(q)
  }

  /** Java-style truncation-toward-zero long division as a Column. */
  private def truncDiv(a: Column, b: Long): Column = {
    val q = floorDiv(a, b)
    when(a < 0 && a % b =!= 0, q + 1).otherwise(q)
  }

  def defaultOrigin: Column = timestamp_millis(lit(0L))

  /** Druid `timestamp_ceil`. */
  def timeCeil(ts: Column, period: String, origin: Column = null,
      tz: String = null): Column = {
    // compound period: ceil = floor unless t is off-boundary, then the
    // NEXT iterated boundary (TimestampCeilExprMacro over the same
    // granularity increment)
    val p = periodParts(period)
    if (p.isCompound) {
      val flo = timeFloor(ts, period, origin, tz).cast("timestamp")
      return when(flo === ts.cast("timestamp"), flo)
        .otherwise(timeShift(flo, period, 1, tz))
    }
    val fastOrigin = fastMonthOrigin(origin, tz)
    zonedRoundTrip(ts, origin, tz) { (t, o) =>
      if (p.months == 0) {
        val width = p.fixedMillis
        val om = millisOf(o)
        val rel = millisOf(t) - om
        val flo = floorDiv(rel, width) * width
        timestamp_millis(when(rel === flo, rel).otherwise(flo + width) + om)
      } else {
        val n = p.months
        fastOrigin match {
          case Some(_) => // see timeFloor: exact index, midnight grid
            val tt = t.cast("timestamp")
            val flo = (floor(months_between(tt, o) / n) * n).cast("int")
            when(add_months(o, flo).cast("timestamp") === tt, tt)
              .otherwise(add_months(o, flo + n).cast("timestamp"))
          case None =>
            val flo = monthFloorIndex(t, o, n)
            val floTs = monthAdd(o, flo)
            when(floTs === t.cast("timestamp"), t.cast("timestamp"))
              .otherwise(monthAdd(o, flo + n))
        }
      }
    }
  }

  /** Druid `timestamp_shift(ts, period, step)` — preserves time-of-day for
    * month shifts (add_months would truncate to DATE). */
  def timeShift(ts: Column, period: String, step: Int, tz: String = null): Column =
    timeShiftBy(ts, period, lit(step), tz)

  /** Column-stepped variant — the macro's step argument may be a
    * non-literal expression (TimestampShiftMacroTest.testDynamicExpression,
    * TimestampShiftExprMacro.TimestampShiftDynamicExpr). */
  def timeShiftBy(ts: Column, period: String, step0: Column, tz: String = null): Column = {
    val step = step0.cast("int")
    val parts = periodParts(period)
    if (parts.isCompound)
      // TimestampShiftExprMacro: chronology.add(period, t, step) multiplies
      // the period's fields once — calendar month+day+millis interval
      return zonedRoundTrip(ts, defaultOrigin, tz) { (t, _) =>
        t + make_interval(lit(0), lit(parts.months) * step, lit(0),
          lit(parts.days) * step, lit(0), lit(0),
          lit(java.math.BigDecimal.valueOf(parts.millis / 1000.0)) * step)
      }
    if (parts.months == 0) timestamp_millis(millisOf(ts) + lit(parts.fixedMillis) * step)
    else zonedRoundTrip(ts, defaultOrigin, tz) { (t, _) =>
      t + make_interval(lit(0), lit(parts.months) * step, lit(0), lit(0), lit(0), lit(0), lit(0))
    }
  }

  /** Druid `timestamp_extract(ts, unit)` — unit per Druid's
    * TimestampExtractExprMacro (processing/.../TimestampExtractExprMacro.java:
    * MICROSECOND is epoch/1000, ISOYEAR is plain year, DECADE/CENTURY/
    * MILLENNIUM follow the PostgreSQL year arithmetic). */
  def timeExtract(ts0: Column, unit: String, tz: String = null): Column = {
    // EPOCH/MILLIS/MICROSECOND identify the instant — zone-independent
    val ts = if (Set("EPOCH", "MILLIS", "MICROSECOND")(unit.toUpperCase)) ts0
             else wallClock(ts0, tz)
    unit.toUpperCase match {
    // getMillis()/1000 in Java truncates TOWARD ZERO (TimestampExtract
    // ExprMacro.java:113) — unix_timestamp would floor pre-1970 instants
    case "EPOCH"   => truncDiv(unix_millis(ts), 1000L)
    case "MILLIS"  => unix_millis(ts)
    // the reference truncates toward zero TWICE (TimestampExtractExprMacro
    // .java:118-119: getMillis()/1000 then /1000 in Java long division) —
    // floorDiv would diverge for pre-1970 timestamps
    case "MICROSECOND" => truncDiv(truncDiv(unix_millis(ts), 1000L), 1000L)
    case "MILLISECOND" => unix_millis(ts) - floorDiv(unix_millis(ts), 1000L) * 1000L
    case "SECOND"  => second(ts)
    case "MINUTE"  => minute(ts)
    case "HOUR"    => hour(ts)
    case "DAY"     => dayofmonth(ts)
    // the reference's TimestampExtractExprMacro returns ISO day-of-week
    // (1=Monday..7=Sunday) for BOTH DOW and ISODOW
    case "DOW" | "ISODOW" => when(dayofweek(ts) === 1, 7).otherwise(dayofweek(ts) - 1)
    case "DOY"     => dayofyear(ts)
    case "WEEK"    => weekofyear(ts)
    case "MONTH"   => month(ts)
    case "QUARTER" => quarter(ts)
    case "YEAR" | "ISOYEAR" => year(ts)
    case "DECADE"  => (year(ts) / 10).cast("long")
    case "CENTURY" => ceil(year(ts).cast("double") / 100).cast("long")
    case "MILLENNIUM" => ceil(year(ts).cast("double") / 1000).cast("long")
    case u => throw new IllegalArgumentException(s"unknown extract unit: $u")
    }
  }

  /** Druid `timestamp_parse` / `timestamp_format` (optional IANA zone:
    * parse interprets the string as that zone's wall clock; format renders
    * the wall clock of that zone). A null format falls back to the default
    * parser (TimestampParseExprMacro: ISO-or-SQL timestamp forms — Spark's
    * bare to_timestamp accepts the same). */
  def timeParse(s: Column, fmt: String, tz: String = null): Column = {
    // default parse accepts partial ISO forms down to a bare year
    // (TimestampParseExprMacro → DateTimes.ISO_DATE_OPTIONAL_TIME:
    // "2000-02" is Feb 1, "2000" is Jan 1; garbage is null)
    // try_to_timestamp: malformed input is NULL in any ANSI mode, the
    // macro's parse-failure contract
    val parsed =
      if (fmt == null) coalesce(try_to_timestamp(s),
        try_to_timestamp(s, lit("yyyy-MM-dd")), try_to_timestamp(s, lit("yyyy-MM")),
        try_to_timestamp(s, lit("yyyy")))
      else try_to_timestamp(s, lit(fmt))
    if (tz == null) parsed else to_utc_timestamp(parsed, tz)
  }
  /** fmt null = the reference's default ISO8601-with-millis printer
    * (TimestampFormatExprMacro's ISODateTimeFormat.dateTime().withZone(tz):
    * the zone OFFSET always renders — `2000-02-03T04:05:06.000Z` in UTC,
    * `...-08:00` under an explicit zone). The UTC default keeps the
    * codegen'd concat; an explicit zone routes through the zone-aware
    * SSSXXX formatter so the offset (DST-dependent per instant) prints. */
  def timeFormat(ts: Column, fmt: String, tz: String = null): Column =
    if (fmt == null && tz == null)
      concat(date_format(ts.cast("timestamp"), "yyyy-MM-dd'T'HH:mm:ss.SSS"), lit("Z"))
    else if (fmt == null) {
      val bridge = org.apache.spark.sql.graftbridge.CatalystBridge
      bridge.column(DynamicZonedTime("format", bridge.expression(millisOf(ts)),
        bridge.expression(lit(tz)),
        org.apache.spark.sql.catalyst.expressions.Literal(0L), null, null))
    }
    else date_format(wallClock(ts, tz), fmt)

  /** MILLIS_TO_TIMESTAMP / TIMESTAMP_TO_MILLIS (sql/.../expression/builtin).
    * tz-naive columns are cast first (identity under the UTC session TZ). */
  def millisToTimestamp(c: Column): Column = timestamp_millis(c)
  def timestampToMillis(c: Column): Column = millisOf(c)
}

/** Compound-period flooring (months + days + sub-day millis mixed):
  * boundaries are generated by ITERATED single-period calendar addition
  * from the origin — current = add(period, current, ±1) — exactly
  * PeriodGranularity.truncateCompoundPeriod (:402-418); iteration matters
  * because month-end clamping compounds (Jan 31 +1M = Feb 28, then +1M from
  * THERE), so multiplied addition diverges. bucketStart(t) is the greatest
  * boundary ≤ t. Boundaries memoize per expression instance (one java.time
  * walk amortized across the task's rows, then binary search). Origin
  * null → 1970-01-01T00:00 LOCAL wall time in the zone, the reference
  * default. Input/output epoch millis. CodegenFallback: compound
  * granularities are rare.
  */
case class CompoundPeriodFloor(
    ts: org.apache.spark.sql.catalyst.expressions.Expression,
    originTs: org.apache.spark.sql.catalyst.expressions.Expression,
    months: Int, days: Int, millisPart: Long, zoneId: String)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import java.time.{Instant, LocalDateTime, ZoneId}

  override def left: org.apache.spark.sql.catalyst.expressions.Expression = ts
  override def right: org.apache.spark.sql.catalyst.expressions.Expression = originTs
  override def dataType: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.LongType

  @transient private lazy val zone = ZoneId.of(zoneId)
  @transient private lazy val defaultOriginMs =
    LocalDateTime.of(1970, 1, 1, 0, 0).atZone(zone).toInstant.toEpochMilli
  // null ORIGIN means "default", not "null result" — evaluate by hand
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val t = ts.eval(input)
    if (t == null) return null
    val o = originTs.eval(input)
    val originMs = if (o == null) defaultOriginMs else o.asInstanceOf[Long]
    floor(t.asInstanceOf[Long], originMs)
  }

  // boundary memo: fwd ascending from origin (inclusive), bwd strictly
  // descending below it; rebuilt if a dynamic origin changes
  @transient private lazy val fwd = scala.collection.mutable.ArrayBuffer.empty[Long]
  @transient private lazy val bwd = scala.collection.mutable.ArrayBuffer.empty[Long]

  private def step(ms: Long, dir: Int): Long =
    Instant.ofEpochMilli(ms).atZone(zone)
      .plusMonths(dir.toLong * months).plusDays(dir.toLong * days)
      .plus(dir.toLong * millisPart, java.time.temporal.ChronoUnit.MILLIS)
      .toInstant.toEpochMilli

  private def floor(t: Long, originMs: Long): Long = {
    if (fwd.isEmpty || fwd.head != originMs) { fwd.clear(); bwd.clear(); fwd += originMs }
    if (t >= originMs) {
      while (fwd.last <= t) fwd += step(fwd.last, 1)
      // greatest boundary <= t (rightmost, fwd ascending)
      var lo = 0; var hi = fwd.length - 1
      while (lo < hi) {
        val mid = (lo + hi + 1) >>> 1
        if (fwd(mid) <= t) lo = mid else hi = mid - 1
      }
      fwd(lo)
    } else {
      while (bwd.isEmpty || bwd.last > t)
        bwd += step(if (bwd.isEmpty) originMs else bwd.last, -1)
      // first boundary <= t (bwd strictly descending)
      var lo = 0; var hi = bwd.length - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (bwd(mid) <= t) hi = mid else lo = mid + 1
      }
      bwd(lo)
    }
  }

  override protected def withNewChildrenInternal(
      l: org.apache.spark.sql.catalyst.expressions.Expression,
      r: org.apache.spark.sql.catalyst.expressions.Expression): CompoundPeriodFloor =
    copy(ts = l, originTs = r)
  override def prettyName: String = "compound_period_floor"
}

/** Bucket boundaries of a compound-period walk from `lo` to `hi` (epoch
  * millis, both inclusive; `lo` must itself be a boundary — e.g. a
  * [[CompoundPeriodFloor]] result). Boundaries advance by ITERATED
  * single-period stepping — `plusMonths(m).plusDays(d).plus(millis)` from
  * the PREVIOUS boundary — exactly like CompoundPeriodFloor's internal walk,
  * so a zero-fill spine built from this expression can never diverge from
  * the floor function (Spark's `sequence(lo, hi, interval)` computes
  * boundary k as lo + k·step, i.e. MULTIPLIED calendar addition, which
  * drifts from the iterated walk once month-end clamping compounds —
  * P1M15D diverges at the 3rd boundary). Returns ARRAY<LONG>; boundary
  * count is bounded by interval-width / (28·months + days) so the array
  * stays small for any compound (≥ month-wide) period. */
case class CompoundPeriodSpine(
    lo: org.apache.spark.sql.catalyst.expressions.Expression,
    hi: org.apache.spark.sql.catalyst.expressions.Expression,
    months: Int, days: Int, millisPart: Long, zoneId: String)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import java.time.{Instant, ZoneId}

  override def left: org.apache.spark.sql.catalyst.expressions.Expression = lo
  override def right: org.apache.spark.sql.catalyst.expressions.Expression = hi
  override def dataType: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType, false)

  @transient private lazy val zone = ZoneId.of(zoneId)
  private def step(ms: Long): Long =
    Instant.ofEpochMilli(ms).atZone(zone)
      .plusMonths(months.toLong).plusDays(days.toLong)
      .plus(millisPart, java.time.temporal.ChronoUnit.MILLIS)
      .toInstant.toEpochMilli

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val loMs = a.asInstanceOf[Long]
    val hiMs = b.asInstanceOf[Long]
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var cur = loMs
    while (cur <= hiMs) { out += cur; cur = step(cur) }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out.toArray)
  }

  override protected def withNewChildrenInternal(
      l: org.apache.spark.sql.catalyst.expressions.Expression,
      r: org.apache.spark.sql.catalyst.expressions.Expression): CompoundPeriodSpine =
    copy(lo = l, hi = r)
  override def prettyName: String = "compound_period_spine"
}

/** DST-exact sub-day flooring in an explicit zone: floors the LOCAL
  * time-of-day to the period and resolves the floored local time with the
  * instant's own offset preferred — so at a fall-back the repeated local
  * hour yields two distinct buckets, one per offset, exactly like joda
  * field rounding under the zone's chronology (PeriodGranularity.truncate;
  * QueryGranularityTest.testPeriodDaylightSaving's hourly vector).
  * Input/output epoch millis (LongType); period must divide one day.
  */
case class ZonedSubDayFloor(
    child: org.apache.spark.sql.catalyst.expressions.Expression,
    widthMillis: Long, zoneId: String)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import java.time.{Instant, LocalDateTime, LocalTime, ZoneId, ZonedDateTime}

  override def dataType: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.LongType

  @transient private lazy val zone = ZoneId.of(zoneId)

  override protected def nullSafeEval(v: Any): Any = {
    val zdt = Instant.ofEpochMilli(v.asInstanceOf[Long]).atZone(zone)
    val local = zdt.toLocalDateTime
    val periodNanos = widthMillis * 1000000L
    val flooredNanos = (local.toLocalTime.toNanoOfDay / periodNanos) * periodNanos
    val flooredLocal = LocalDateTime.of(local.toLocalDate, LocalTime.ofNanoOfDay(flooredNanos))
    ZonedDateTime.ofLocal(flooredLocal, zone, zdt.getOffset).toInstant.toEpochMilli
  }
  override protected def withNewChildInternal(
      c: org.apache.spark.sql.catalyst.expressions.Expression): ZonedSubDayFloor = copy(child = c)
  override def prettyName: String = "zoned_subday_floor"
}

/** Locale/zone-aware timestamp rendering for the timeFormat extraction fn
  * (TimeFormatExtractionFn.java:38-60 — Joda DateTimeFormat.forPattern
  * .withLocale(..).withZone(..); ISO-8601 millis when the pattern is null).
  * `date_format` covers the no-locale UTC fast path; this CodegenFallback
  * expression handles explicit locales/zones, off the aggregation hot path.
  * Input is epoch millis (LongType).
  */
case class LocaleTimeFormat(
    child: org.apache.spark.sql.catalyst.expressions.Expression,
    fmt: String, localeTag: String, zoneId: String)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import java.time.{Instant, ZoneId, ZoneOffset}
  import java.time.format.DateTimeFormatter
  import java.util.Locale

  override def dataType: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.StringType

  @transient private lazy val formatter: DateTimeFormatter = {
    // Joda's ISODateTimeFormat.dateTime() analog: offset rendered as
    // "+01:00", UTC as "Z" — java.time's XXX
    val pattern = if (fmt == null) "yyyy-MM-dd'T'HH:mm:ss.SSSXXX" else fmt
    val base =
      if (localeTag == null) DateTimeFormatter.ofPattern(pattern)
      else DateTimeFormatter.ofPattern(pattern, Locale.forLanguageTag(localeTag))
    base.withZone(if (zoneId == null) ZoneOffset.UTC else ZoneId.of(zoneId))
  }

  override protected def nullSafeEval(v: Any): Any =
    org.apache.spark.unsafe.types.UTF8String.fromString(
      formatter.format(Instant.ofEpochMilli(v.asInstanceOf[Long])))
  override protected def withNewChildInternal(
      c: org.apache.spark.sql.catalyst.expressions.Expression): LocaleTimeFormat = copy(child = c)
  override def prettyName: String = "locale_time_format"
}
