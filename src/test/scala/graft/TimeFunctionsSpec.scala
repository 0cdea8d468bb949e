package graft

import org.apache.spark.sql.functions._
import graft.functions.TimeFunctions

class TimeFunctionsSpec extends SparkSpecBase {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private def one(col: org.apache.spark.sql.Column): java.sql.Timestamp =
    Seq(1).toDF("x").select(col.cast("timestamp").as("t")).head().getTimestamp(0)

  test("timeFloor fixed periods") {
    val c = lit("2024-03-15 13:47:31").cast("timestamp")
    assert(one(TimeFunctions.timeFloor(c, "PT15M")) == ts("2024-03-15 13:45:00"))
    assert(one(TimeFunctions.timeFloor(c, "PT1H")) == ts("2024-03-15 13:00:00"))
    assert(one(TimeFunctions.timeFloor(c, "P1D")) == ts("2024-03-15 00:00:00"))
    // P1W with no origin is the ISO week — MONDAY-anchored
    // (PeriodGranularity.java:295-298 dayOfWeek().set(t, 1));
    // 2024-03-15 is a Friday, its week starts Monday 03-11
    assert(one(TimeFunctions.timeFloor(c, "P1W")) == ts("2024-03-11 00:00:00"))
    // week MULTIPLES keep the 7-day grid from the epoch-default origin
    // (1970-01-01 was a Thursday): the P2W bucket containing 2024-03-15
    // starts Thursday 2024-03-14
    assert(one(TimeFunctions.timeFloor(c, "P2W")) == ts("2024-03-14 00:00:00"))
  }

  test("timeFloor month/year periods") {
    val c = lit("2024-03-15 13:47:31").cast("timestamp")
    assert(one(TimeFunctions.timeFloor(c, "P1M")) == ts("2024-03-01 00:00:00"))
    assert(one(TimeFunctions.timeFloor(c, "P3M")) == ts("2024-01-01 00:00:00"))
    assert(one(TimeFunctions.timeFloor(c, "P1Y")) == ts("2024-01-01 00:00:00"))
  }

  test("timeFloor with origin anchors buckets") {
    val c = lit("2024-01-01 02:59:00").cast("timestamp")
    val origin = lit("2024-01-01 03:00:00").cast("timestamp")
    // before the origin → previous 6h bucket (floor semantics, not truncate)
    assert(one(TimeFunctions.timeFloor(c, "PT6H", origin)) == ts("2023-12-31 21:00:00"))
  }

  test("timeCeil") {
    val c = lit("2024-03-15 13:47:31").cast("timestamp")
    assert(one(TimeFunctions.timeCeil(c, "P1D")) == ts("2024-03-16 00:00:00"))
    val exact = lit("2024-03-15 00:00:00").cast("timestamp")
    assert(one(TimeFunctions.timeCeil(exact, "P1D")) == ts("2024-03-15 00:00:00"))
  }

  test("timeShift preserves time-of-day on month shifts") {
    val c = lit("2024-01-31 10:30:00").cast("timestamp")
    assert(one(TimeFunctions.timeShift(c, "P1M", 1)) == ts("2024-02-29 10:30:00")) // clamped
    assert(one(TimeFunctions.timeShift(c, "PT1H", -2)) == ts("2024-01-31 08:30:00"))
  }

  test("timeExtract units") {
    val c = lit("2024-03-15 13:47:31").cast("timestamp") // a Friday
    def ex(u: String): Long =
      Seq(1).toDF("x").select(TimeFunctions.timeExtract(c, u).cast("long")).head().getLong(0)
    assert(ex("YEAR") == 2024)
    assert(ex("QUARTER") == 1)
    assert(ex("MONTH") == 3)
    assert(ex("DAY") == 15)
    assert(ex("HOUR") == 13)
    assert(ex("ISODOW") == 5)
    // reference TimestampExtractExprMacro: DOW is ISO (1=Mon..7=Sun), same as ISODOW
    assert(ex("DOW") == 5)
    val sunday = lit("2024-03-17 08:00:00").cast("timestamp")
    assert(Seq(1).toDF("x").select(TimeFunctions.timeExtract(sunday, "DOW").cast("long"))
      .head().getLong(0) == 7)
  }

  test("timeExtract MICROSECOND truncates toward zero twice pre-1970 (TimestampExtractExprMacro.java:118)") {
    import spark.implicits._
    // the reference computes getMillis()/1000 then /1000 in Java long
    // division (truncation toward zero at both steps) — for a pre-1970
    // instant this differs from floor division
    def micro(millis: Long): Long =
      Seq(1).toDF("x")
        .select(TimeFunctions.timeExtract(
          org.apache.spark.sql.functions.timestamp_millis(
            org.apache.spark.sql.functions.lit(millis)), "MICROSECOND").cast("long"))
        .head().getLong(0)
    assert(micro(1500999L) == 1L)    // 1500999/1000=1500, /1000=1
    assert(micro(-1500999L) == -1L)  // Java: -1500, -1 (floorDiv would say -2)
    assert(micro(-999L) == 0L)       // Java: 0, 0 (floorDiv would say -1)
    assert(micro(-1000000L) == -1L)  // exact boundary agrees both ways
  }

  test("periodParts rejects garbage, reads compound and fractional periods") {
    assertThrows[IllegalArgumentException](TimeFunctions.periodParts("banana"))
    assertThrows[IllegalArgumentException](TimeFunctions.periodParts("P"))
    assert(TimeFunctions.periodParts("P1M1D") == TimeFunctions.PeriodParts(1, 1, 0))
    assert(TimeFunctions.periodParts("P1M1D").isCompound)
    assert(TimeFunctions.periodParts("PT0.2S") == TimeFunctions.PeriodParts(0, 0, 200))
    assert(TimeFunctions.periodParts("P1WT1H").fixedMillis == 7 * 86400000L + 3600000L)
  }
}
