package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The time family with a PER-ROW timezone argument — the reference's
  * dynamic macro variants (TimestampFloorExprMacro/TimestampCeilExprMacro/
  * TimestampShiftExprMacro build a PeriodGranularity per row when any
  * granularity argument is non-literal; ExprMacroTest exercises it with the
  * `CityOfAngels` binding). The literal-zone fast paths stay pure Catalyst;
  * this CodegenFallback only plans when the zone genuinely varies by row.
  *
  * Semantics per op (period/origin are plan-time literals, zone is not):
  *  - floor: month-bearing or day-bearing periods walk ITERATED calendar
  *    boundaries from the zone-local origin (PeriodGranularity
  *    .truncateCompoundPeriod — the same stepping as CompoundPeriodFloor),
  *    memoized per zone; a day-dividing sub-day width floors on LOCAL
  *    fields with the instant's own offset preferred (joda field rounding —
  *    ZonedSubDayFloor's DST behavior).
  *  - ceil: the floor, or the next boundary when the instant is not itself
  *    a boundary (TimestampCeilExprMacro: bucketStart == t ? t : next).
  *  - shift: single multiplied calendar addition in the zone
  *    (chronology.add(period, t, step)).
  *  - extract: the wall-clock field switch of TimestampExtractExprMacro
  *    (DOW and ISODOW both ISO Monday=1; PostgreSQL decade/century/
  *    millennium arithmetic).
  *  - format: Java DateTimeFormatter of the literal pattern rendered in the
  *    row's zone (null pattern = ISO8601 with millis).
  */
case class DynamicZonedTime(
    op: String,
    ts: Expression,
    zone: Expression,
    step: Expression,
    period: String,
    originMs: java.lang.Long,
    originLocal: String = null)
  extends Expression with CodegenFallback {
  import java.time._

  override def children: Seq[Expression] = Seq(ts, zone, step)
  override def nullable: Boolean = true
  override lazy val deterministic: Boolean =
    ts.deterministic && zone.deterministic && step.deterministic
  override def dataType: DataType = op match {
    case "format" => StringType
    case _ => LongType // epoch millis / extracted field
  }

  @transient private lazy val parts: TimeFunctions.PeriodParts =
    if (op == "floor" || op == "ceil" || op == "shift") TimeFunctions.periodParts(period)
    else null

  /** An offset-less string origin is interpreted in the PER-ROW zone's
    * chronology, exactly like the reference's dynamic path
    * (ExprUtils.toPeriodGranularity: `new DateTime(value,
    * ISOChronology.getInstance(timeZone))`) — `originLocal` carries the
    * parsed local datetime; `originMs` carries a fixed instant (numeric or
    * explicit-offset origins). */
  @transient private lazy val originLocalDt: LocalDateTime =
    if (originLocal == null) null else LocalDateTime.parse(originLocal)

  private def originFor(z: ZoneId): Long =
    if (originMs != null) originMs.longValue()
    else if (originLocalDt != null) originLocalDt.atZone(z).toInstant.toEpochMilli
    else LocalDateTime.of(1970, 1, 1, 0, 0).atZone(z).toInstant.toEpochMilli

  /** Iterated-boundary walker, one per zone (CompoundPeriodFloor's fwd/bwd
    * memo generalized to a dynamic zone). */
  private final class Walker(z: ZoneId) {
    private val origin: Long = originFor(z)
    private val fwd = scala.collection.mutable.ArrayBuffer(origin)
    private val bwd = scala.collection.mutable.ArrayBuffer.empty[Long]
    private def stepFrom(ms: Long, dir: Int): Long =
      Instant.ofEpochMilli(ms).atZone(z)
        .plusMonths(dir.toLong * parts.months).plusDays(dir.toLong * parts.days)
        .plus(dir.toLong * parts.millis, java.time.temporal.ChronoUnit.MILLIS)
        .toInstant.toEpochMilli
    def floor(t: Long): Long =
      if (t >= origin) {
        while (fwd.last <= t) fwd += stepFrom(fwd.last, 1)
        var lo = 0; var hi = fwd.length - 1
        while (lo < hi) {
          val mid = (lo + hi + 1) >>> 1
          if (fwd(mid) <= t) lo = mid else hi = mid - 1
        }
        fwd(lo)
      } else {
        while (bwd.isEmpty || bwd.last > t)
          bwd += stepFrom(if (bwd.isEmpty) origin else bwd.last, -1)
        var lo = 0; var hi = bwd.length - 1
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (bwd(mid) <= t) hi = mid else lo = mid + 1
        }
        bwd(lo)
      }
    def next(boundary: Long): Long = stepFrom(boundary, 1)
  }

  @transient private lazy val walkers =
    scala.collection.mutable.HashMap.empty[String, Walker]
  @transient private lazy val originMemo =
    scala.collection.mutable.HashMap.empty[String, Long]

  /** Pure-millis periods (months==0, days==0) floor with O(1) fixed-width
    * arithmetic from the zone-resolved origin — the reference's
    * PeriodGranularity takes the same non-calendar shortcut
    * (truncateMillisPeriod); the iterated Walker is reserved for
    * calendar-bearing periods, where boundary spacing genuinely varies. */
  private def isPureMillis: Boolean =
    parts.months == 0 && parts.days == 0 && parts.millis > 0

  private def subDayWidth: Long = {
    val w = parts.fixedMillis
    if (parts.months == 0 && parts.days == 0 && parts.millis > 0 &&
        86400000L % parts.millis == 0) parts.millis
    else if (parts.months == 0 && w > 0 && w < 86400000L && 86400000L % w == 0) w
    else -1L
  }

  /** joda-field sub-day floor: local time-of-day floored, the instant's own
    * offset preferred (two distinct buckets across a fall-back). */
  private def localFloor(t: Long, z: ZoneId, w: Long): Long = {
    val zdt = Instant.ofEpochMilli(t).atZone(z)
    val local = zdt.toLocalDateTime
    val periodNanos = w * 1000000L
    val flooredNanos = (local.toLocalTime.toNanoOfDay / periodNanos) * periodNanos
    val flooredLocal = LocalDateTime.of(local.toLocalDate, LocalTime.ofNanoOfDay(flooredNanos))
    ZonedDateTime.ofLocal(flooredLocal, z, zdt.getOffset).toInstant.toEpochMilli
  }

  private def floorMs(t: Long, z: ZoneId): Long = {
    val w = subDayWidth
    if (w > 0 && originMs == null && originLocal == null) localFloor(t, z, w)
    else if (isPureMillis) {
      val o = originMemo.getOrElseUpdate(z.getId, originFor(z))
      o + Math.floorDiv(t - o, parts.millis) * parts.millis
    } else walkers.getOrElseUpdate(z.getId, new Walker(z)).floor(t)
  }

  @transient private lazy val formatter: java.time.format.DateTimeFormatter =
    if (op == "format")
      java.time.format.DateTimeFormatter.ofPattern(
        if (period == null) "yyyy-MM-dd'T'HH:mm:ss.SSSXXX" else period)
    else null

  override def eval(input: InternalRow): Any = {
    val tv = ts.eval(input)
    if (tv == null) return null
    val zv = zone.eval(input)
    val zStr = if (zv == null) "UTC" else {
      val s = zv.asInstanceOf[UTF8String].toString
      if (s.isEmpty) "UTC" else s
    }
    // unknown zone ids fall back to GMT like the reference's
    // DateTimes.inferTzFromString → TimeZone.getTimeZone (DateTimes.java:86)
    val z =
      try ZoneId.of(zStr, ZoneId.SHORT_IDS)
      catch { case _: java.time.DateTimeException => ZoneOffset.UTC }
    val t = tv.asInstanceOf[Long]
    op match {
      case "floor" => floorMs(t, z)
      case "ceil" =>
        val f = floorMs(t, z)
        if (f == t) t
        else {
          val w = subDayWidth
          if (w > 0 && originMs == null && originLocal == null) {
            val zdt = Instant.ofEpochMilli(f).atZone(z)
            zdt.plus(w, java.time.temporal.ChronoUnit.MILLIS).toInstant.toEpochMilli
          } else if (isPureMillis) f + parts.millis
          else walkers.getOrElseUpdate(z.getId, new Walker(z)).next(f)
        }
      case "shift" =>
        val sv = step.eval(input)
        if (sv == null) return null
        val k = sv.asInstanceOf[Number].longValue()
        Instant.ofEpochMilli(t).atZone(z)
          .plusMonths(k * parts.months).plusDays(k * parts.days)
          .plus(k * parts.millis, java.time.temporal.ChronoUnit.MILLIS)
          .toInstant.toEpochMilli
      case "extract" =>
        val u = period.toUpperCase(java.util.Locale.ENGLISH)
        // reference computes dateTime.getMillis() / 1000 — Java truncation
        // TOWARD ZERO, not floor (TimestampExtractExprMacro.java:113)
        if (u == "EPOCH") return t / 1000L
        if (u == "MILLIS") return t
        if (u == "MICROSECOND") return t / 1000L / 1000L // double trunc-toward-zero
        val dt = Instant.ofEpochMilli(t).atZone(z)
        u match {
          case "MILLISECOND" => t - Math.floorDiv(t, 1000L) * 1000L
          case "SECOND" => dt.getSecond.toLong
          case "MINUTE" => dt.getMinute.toLong
          case "HOUR" => dt.getHour.toLong
          case "DAY" => dt.getDayOfMonth.toLong
          case "DOW" | "ISODOW" => dt.getDayOfWeek.getValue.toLong // ISO Monday=1
          case "DOY" => dt.getDayOfYear.toLong
          case "WEEK" => dt.get(java.time.temporal.IsoFields.WEEK_OF_WEEK_BASED_YEAR).toLong
          case "MONTH" => dt.getMonthValue.toLong
          case "QUARTER" => dt.get(java.time.temporal.IsoFields.QUARTER_OF_YEAR).toLong
          case "YEAR" | "ISOYEAR" => dt.getYear.toLong
          case "DECADE" => (dt.getYear / 10).toLong
          case "CENTURY" => math.ceil(dt.getYear / 100.0).toLong
          case "MILLENNIUM" => math.ceil(dt.getYear / 1000.0).toLong
          case other => throw new IllegalArgumentException(s"unknown extract unit: $other")
        }
      case "format" =>
        UTF8String.fromString(
          formatter.withZone(z).format(Instant.ofEpochMilli(t)))
      case other => throw new IllegalStateException(s"DynamicZonedTime op $other")
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): DynamicZonedTime =
    copy(ts = newChildren(0), zone = newChildren(1), step = newChildren(2))
  override def prettyName: String = s"dynamic_zoned_$op"
}
