package graft

import org.apache.spark.sql.Row

/** Golden tranche over the reference's operator-conversion vectors
  * (sql/.../expression/ExpressionsTest.java — 55 methods exercising the
  * SQL-function → math-expr surface against one fixed binding row,
  * ExpressionsTest.java:BINDINGS). Each test cites its reference method;
  * expected values are the sql-compatible-mode branch. The binding row is
  * reproduced as a one-row table and every expression runs through the
  * registered Druid SQL names. */
class ExpressionsGoldenSpec extends SparkSpecBase {

  // own session, so the suite's temp views stay out of the shared one
  private lazy val druidSql: org.apache.spark.sql.SparkSession =
    GraftSession.configure(spark.newSession())

  private lazy val registered: Unit = {
    val s = druidSql
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("a", LongType), StructField("b", LongType), StructField("p", LongType),
      StructField("x", FloatType), StructField("y", LongType), StructField("z", FloatType),
      StructField("s", StringType), StructField("nan", DoubleType),
      StructField("inf", DoubleType), StructField("ninf", DoubleType),
      StructField("fnan", FloatType), StructField("hexstr", StringType),
      StructField("intstr", StringType), StructField("spacey", StringType),
      StructField("tstr", StringType), StructField("dstr", StringType),
      StructField("t", TimestampType)))
    val row = Row(10L, 25L, 3L, 2.25f, 3L, -2.25f, "foo", Double.NaN,
      Double.PositiveInfinity, Double.NegativeInfinity, Float.NaN, "EF", "-100",
      "  hey there  ", "2000-02-03 04:05:06", "2000-02-03",
      // the binding row's t: 2000-02-03T04:05:06Z = 949550706000 ms
      java.sql.Timestamp.valueOf("2000-02-03 04:05:06"))
    s.createDataFrame(
      new java.util.ArrayList[Row](java.util.List.of(row)), schema)
      .createOrReplaceTempView("exprbindings")
  }

  private def one(exprSql: String): Any = {
    registered
    druidSql.sql(s"SELECT $exprSql FROM exprbindings").head().get(0)
  }

  test("testLeft / testRight (ExpressionsTest.java)") {
    assert(one("LEFT(s, 1)") == "f")
    assert(one("LEFT(s, 2)") == "fo")
    assert(one("LEFT(s, 3)") == "foo")
    assert(one("LEFT(s, 4)") == "foo")
    assert(one("LEFT(tstr, 10)") == "2000-02-03")
    assert(one("RIGHT(s, 1)") == "o")
    assert(one("RIGHT(s, 2)") == "oo")
    assert(one("RIGHT(s, 3)") == "foo")
    assert(one("RIGHT(s, 4)") == "foo")
    assert(one("RIGHT(tstr, 5)") == "05:06")
  }

  test("testAbnormalLeftWithNegativeNumber / testAbnormalRightWithNegativeNumber") {
    registered
    val e1 = intercept[Exception](druidSql.sql("SELECT LEFT(s, -1) FROM exprbindings").collect())
    assert(e1.getMessage.contains("needs a postive integer as second argument"))
    val e2 = intercept[Exception](druidSql.sql("SELECT RIGHT(s, -1) FROM exprbindings").collect())
    assert(e2.getMessage.contains("needs a postive integer as second argument"))
  }

  test("testRepeat — negative count is NULL (ExpressionsTest.java)") {
    assert(one("REPEAT(s, 1)") == "foo")
    assert(one("REPEAT(s, 3)") == "foofoofoo")
    assert(one("REPEAT(s, -1)") == null)
  }

  test("testReverse / testPad (ExpressionsTest.java)") {
    assert(one("REVERSE(s)") == "oof")
    assert(one("REVERSE(spacey)") == "  ereht yeh  ")
    assert(one("REVERSE(tstr)") == "60:50:40 30-20-0002")
    assert(one("REVERSE(dstr)") == "30-20-0002")
    assert(one("LPAD(s, 5, 'x')") == "xxfoo")
    assert(one("RPAD(s, 5, 'x')") == "fooxx")
  }

  test("testRound (ExpressionsTest.java) — LONG stays LONG, HALF_UP") {
    assert(one("ROUND(a)") == 10L)
    assert(one("ROUND(b)") == 25L)
    assert(one("ROUND(b, -1)") == 30L)
    assert(one("ROUND(x)") == 2.0f) // FLOAT column keeps FLOAT (testRoundFuc reads floats)
    assert(one("ROUND(x, 1)") == 2.3f)
    assert(one("ROUND(y)") == 3L) // y is LONG in the binding row
    assert(one("ROUND(z)") == -2.0f)
  }

  test("testRoundWithNanShouldRoundTo0 / testRoundWithInfinityShouldRoundTo0 (Function.java:1530 safeGetFromDouble)") {
    assert(one("ROUND(nan)") == 0.0)
    assert(one("ROUND(fnan)") == 0.0f)
    assert(one("ROUND(inf)") == Double.MaxValue)
    assert(one("ROUND(ninf)") == -Double.MaxValue)
  }

  test("testRoundWithInvalidArgument / testRoundWithInvalidSecondArgument — " +
      "string rounds to null (sql-compatible); bad scale raises the IAE") {
    assert(one("ROUND(s)") == null)
    registered
    val e = intercept[Exception](
      druidSql.sql("SELECT ROUND(x, 'foo') FROM exprbindings").collect())
    assert(e.getMessage.contains(
      "The second argument to the function[round] should be integer type"))
  }

  test("testTruncate (TruncateOperatorConversion expression shape)") {
    assert(one("TRUNCATE(a)") == 10.0)
    assert(one("TRUNCATE(x)") == 2.0)
    assert(one("TRUNCATE(y)") == 3.0)
    assert(one("TRUNCATE(z)") == -2.0)
    assert(one("TRUNCATE(x, 1)") == 2.2)
    assert(one("TRUNCATE(z, 1)") == -2.2)
    assert(one("TRUNCATE(b, -1)") == 20.0)
    assert(one("TRUNCATE(z, -1)") == 0.0)
  }

  test("testParseLong (ExpressionsTest.java) — radix 16 strips 0x; unparseable is null") {
    assert(one("PARSE_LONG(intstr)") == -100L)
    assert(one("PARSE_LONG(hexstr, 16)") == 239L)
    assert(one("PARSE_LONG(CONCAT('0x', hexstr), 16)") == 239L)
    assert(one("PARSE_LONG(hexstr)") == null) // 'EF' at radix 10, sql-compatible
  }

  test("testStringFormat (StringUtils.nonStrictFormat:182) — format errors degrade, extra args drop") {
    assert(one("STRING_FORMAT('%x', b)") == "19")
    assert(one("STRING_FORMAT('%s %,d', s, 1234)") == "foo 1,234")
    assert(one("STRING_FORMAT('%s %,d', s)") == "%s %,d; foo")
    assert(one("STRING_FORMAT('%s %,d', s, 1234, 6789)") == "foo 1,234")
  }

  test("testPosition (ExpressionsTest.java) — 1-based, 0 when absent") {
    assert(one("POSITION('oo' IN s)") == 2)
    assert(one("position('oo', s, 2)") == 2)
    assert(one("position('oo', s, 3)") == 0)
  }

  test("GreatestExpressionTest / LeastExpressionTest — null-skipping, string-coercing compare") {
    // fixture: d=3.1 DOUBLE, l=2 LONG, s='foo' STRING (GreatestExpressionTest.java)
    registered
    druidSql.sql("SELECT CAST(3.1 AS DOUBLE) d, CAST(2 AS BIGINT) l, 'foo' s")
      .createOrReplaceTempView("glbindings")
    def g(e: String): Any = druidSql.sql(s"SELECT $e FROM glbindings").head().get(0)
    // testAllNull → null; testSomeNull skips nulls and string-coerces
    assert(g("GREATEST(CAST(NULL AS STRING), CAST(NULL AS STRING))") == null)
    assert(g("GREATEST(d, CAST(NULL AS STRING), s)") == "foo")
    // testAllDouble / testAllLong / testAllString
    assert(g("GREATEST(34.1, d, 5.2, 767.3)") == 767.3)
    assert(g("GREATEST(0, l, -1)") == 2L)
    assert(g("GREATEST('B', s, 'A')") == "foo")
    // testCoerceString: any string argument → lexicographic ('A' beats -1 and 3.1)
    assert(g("GREATEST(-1, d, 'A')") == "A")
    // testCoerceDouble analog on LEAST; testDecimal
    assert(g("LEAST(-1, d)") == -1.0)
    assert(g("GREATEST(1.2, 3.4)") == 3.4)
    // LEAST mirrors (LeastExpressionTest)
    assert(g("LEAST(d, CAST(NULL AS STRING), s)") == "3.1")
    assert(g("LEAST(34.1, d, 5.2, 767.3)") == 3.1)
    assert(g("LEAST('B', s, 'A')") == "A")
  }

  test("IPv4AddressParseExpressionTest / StringifyExpressionTest — type-dispatched validity") {
    // string form: only dotted-quad parses (192.168.0.1 = 3232235521)
    assert(one("IPV4_PARSE('192.168.0.1')") == 3232235521L)
    assert(one("IPV4_PARSE('druid.apache.org')") == null)
    assert(one("IPV4_PARSE('::192.168.0.1')") == null)
    assert(one("IPV4_PARSE('::ffff:192.168.0.1')") == null)
    assert(one("IPV4_PARSE('3232235521')") == null) // numeric STRING is invalid
    // long form: unsigned-32 range passes through
    assert(one("IPV4_PARSE(0)") == 0L)
    assert(one("IPV4_PARSE(3232235521)") == 3232235521L)
    assert(one("IPV4_PARSE(4294967295)") == 4294967295L)
    assert(one("IPV4_PARSE(4294967296)") == null)
    assert(one("IPV4_PARSE(-1)") == null)
    // stringify mirrors
    assert(one("IPV4_STRINGIFY(0)") == "0.0.0.0")
    assert(one("IPV4_STRINGIFY(3232235521)") == "192.168.0.1")
    assert(one("IPV4_STRINGIFY(4294967295)") == "255.255.255.255")
    assert(one("IPV4_STRINGIFY(4294967296)") == null)
    assert(one("IPV4_STRINGIFY(-1)") == null)
    assert(one("IPV4_STRINGIFY('192.168.0.1')") == "192.168.0.1")
    assert(one("IPV4_STRINGIFY('druid.apache.org')") == null)
  }

  private def ts(v: String) = java.sql.Timestamp.valueOf(v)
  private def millis(exprSql: String): Any = one(s"TIMESTAMP_TO_MILLIS($exprSql)")

  test("testCharacterLength / testStrpos (ExpressionsTest.java)") {
    assert(one("CHARACTER_LENGTH(s)") == 3)
    assert(one("STRPOS(s, 'oo')") == 2L)
    assert(one("STRPOS(s, 'ax')") == 0L)
    assert(one("STRPOS(CAST(NULL AS STRING), 'ax')") == null)
  }

  test("testPower / testFloor / testCeil (ExpressionsTest.java; Spark " +
      "floor/ceil return LONG where Druid keeps the input type — values match)") {
    assert(one("POWER(a, 2)") == 100.0)
    assert(one("FLOOR(a)") == 10L)
    assert(one("FLOOR(x)") == 2L)
    assert(one("FLOOR(y)") == 3L)
    assert(one("FLOOR(z)") == -3L)
    assert(one("CEIL(a)") == 10L)
    assert(one("CEIL(x)") == 3L)
    assert(one("CEIL(y)") == 3L)
    assert(one("CEIL(z)") == -2L)
  }

  test("testContains / testContainsAsFilter / testRegexpLikeAsFilter " +
      "(ExpressionsTest.java — CONTAINS_STRING/ICONTAINS_STRING both as " +
      "expression and as a row filter)") {
    assert(one("CONTAINS_STRING(spacey, 'there')") == true)
    assert(one("CONTAINS_STRING(spacey, 'There')") == false)
    assert(one("ICONTAINS_STRING(spacey, 'There')") == true)
    assert(one("CONTAINS_STRING(CONCAT('what is', spacey), 'what')") == true)
    assert(one("CONTAINS_STRING(CONCAT('what is', spacey), 'there')") == true)
    registered
    assert(druidSql.sql(
      "SELECT COUNT(*) FROM exprbindings WHERE CONTAINS_STRING(spacey, 'there')")
      .head().getLong(0) == 1L)
    assert(druidSql.sql(
      "SELECT COUNT(*) FROM exprbindings WHERE CONTAINS_STRING(spacey, 'nope')")
      .head().getLong(0) == 0L)
    assert(druidSql.sql(
      "SELECT COUNT(*) FROM exprbindings WHERE REGEXP_LIKE(spacey, 'hey\\\\s+there')")
      .head().getLong(0) == 1L)
  }

  test("testDateTrunc (ExpressionsTest.java:1236)") {
    assert(one("DATE_TRUNC('hour', TIMESTAMP '2000-02-03 04:05:06')") ==
      ts("2000-02-03 04:00:00"))
    assert(one("DATE_TRUNC('DAY', TIMESTAMP '2000-02-03 04:05:06')") ==
      ts("2000-02-03 00:00:00"))
  }

  test("testTimeFloor / testOtherTimeFloor / testTimeCeil / testOtherTimeCeil " +
      "(ExpressionsTest.java:1549-1632; FLOOR/CEIL(t TO unit) spelled " +
      "DATE_TRUNC / TIME_CEIL here)") {
    assert(millis("TIME_FLOOR(TIMESTAMP '2000-02-03 04:05:06', 'PT1H')") ==
      949550400000L)
    // P1D floor in Los Angeles lands on 2000-02-02T08:00:00Z
    assert(millis("TIME_FLOOR(t, 'P1D', NULL, 'America/Los_Angeles')") ==
      949478400000L)
    assert(millis("DATE_TRUNC('YEAR', t)") == 946684800000L) // FLOOR(t TO YEAR)
    assert(millis("TIME_CEIL(TIMESTAMP '2000-02-03 04:05:06', 'PT1H')") ==
      949554000000L)
    assert(millis("TIME_CEIL(t, 'P1D', NULL, 'America/Los_Angeles')") ==
      949564800000L) // 2000-02-03T08:00:00Z
    assert(millis("TIME_CEIL(t, 'P1Y')") == 978307200000L) // CEIL(t TO YEAR) → 2001
  }

  test("testTimeShift / testTimeExtract / testExtract (ExpressionsTest.java:1633-1854)") {
    // shift by PT2H × -3 = six hours back
    assert(millis("TIME_SHIFT(t, 'PT2H', -3)") == 949529106000L)
    assert(millis("TIME_SHIFT(t, 'PT2H', -3, 'America/Los_Angeles')") == 949529106000L)
    assert(one("TIME_EXTRACT(t, 'QUARTER')") == 1L)
    assert(one("TIME_EXTRACT(t, 'DAY', 'America/Los_Angeles')") == 2L)
    assert(one("EXTRACT(QUARTER FROM t)") == 1L)
    assert(one("EXTRACT(DAY FROM t)") == 3L)
  }

  test("testTimePlusDayTimeInterval / testTimePlusYearMonthInterval / " +
      "testTimeMinusDayTimeInterval / testTimeMinusYearMonthInterval " +
      "(ExpressionsTest.java:1685-1780)") {
    // P1DT1H1M = 90060000 ms
    assert(one("t + INTERVAL '1 01:01' DAY TO MINUTE") == ts("2000-02-04 05:06:06"))
    assert(one("t - INTERVAL '1 01:01' DAY TO MINUTE") == ts("2000-02-02 03:04:06"))
    // P1Y1M = 13 months
    assert(one("t + INTERVAL '1-1' YEAR TO MONTH") == ts("2001-03-03 04:05:06"))
    assert(one("t - INTERVAL '1-1' YEAR TO MONTH") == ts("1999-01-03 04:05:06"))
  }

  test("testTimeParse / testTimeFormat (ExpressionsTest.java:1781-1830)") {
    assert(millis("TIME_PARSE(tstr, 'yyyy-MM-dd HH:mm:ss')") == 949550706000L)
    // parsed as Los Angeles wall time = +8h in UTC
    assert(millis("TIME_PARSE(tstr, 'yyyy-MM-dd HH:mm:ss', 'America/Los_Angeles')") ==
      949579506000L)
    assert(one("TIME_FORMAT(t, 'yyyy-MM-dd HH:mm:ss')") == "2000-02-03 04:05:06")
    assert(one("TIME_FORMAT(t, 'yyyy-MM-dd HH:mm:ss', 'America/Los_Angeles')") ==
      "2000-02-02 20:05:06")
  }

  test("testCastAsTimestamp / testCastFromTimestamp / testCastAsDate / " +
      "testCastFromDate (ExpressionsTest.java:1855-2026; Druid casts " +
      "timestamp→BIGINT as millis, spelled TIMESTAMP_TO_MILLIS here)") {
    assert(one("CAST(tstr AS TIMESTAMP)") == ts("2000-02-03 04:05:06"))
    assert(millis("t") == 949550706000L)
    assert(one("CAST(t AS DATE)") == java.sql.Date.valueOf("2000-02-03"))
    assert(one("CAST(dstr AS DATE)") == java.sql.Date.valueOf("2000-02-03"))
    assert(one("CAST(CAST(t AS DATE) AS STRING)") == "2000-02-03")
    assert(millis("CAST(CAST(t AS DATE) AS TIMESTAMP)") == 949536000000L)
  }

  test("testTrim (ExpressionsTest.java:1260 — BOTH/LEADING/TRAILING with " +
      "custom trim characters)") {
    assert(one("TRIM(BOTH ' ' FROM spacey)") == "hey there")
    assert(one("TRIM(LEADING ' h' FROM spacey)") == "ey there  ")
    assert(one("TRIM(TRAILING ' e' FROM spacey)") == "  hey ther")
  }

  test("testAbnormalReverseWithWrongType / testAbnormalRightWithWrongType / " +
      "testAbnormalLeftWithWrongType / testAbnormalRepeatWithWrongType " +
      "(ExpressionsTest.java — SUPERSET: the reference raises IAE on " +
      "non-string args; Spark's lenient coercion stringifies them)") {
    assert(one("REVERSE(CAST(a AS STRING))") == "01")
    assert(one("LEFT(CAST(a AS STRING), 1)") == "1")
    assert(one("RIGHT(CAST(a AS STRING), 1)") == "0")
    assert(one("REPEAT(CAST(a AS STRING), 2)") == "1010")
  }

  // testOperatorConversionsDruidUnaryLongFn / testOperatorConversionsDruidUnaryDoubleFn /
  // testOperatorConversionsDruidBinaryLongFn exercise the reference's
  // OperatorConversion plumbing with test-only functions that exist nowhere
  // in the product surface — N/A here: the extension point they test maps
  // to GraftSqlFunctions' builder registry, which every named function
  // above already exercises.

  test("testHumanReadableBinaryByteFormat / testHumanReadableDecimalByteFormat (ExpressionsTest.java)") {
    assert(one("HUMAN_READABLE_BINARY_BYTE_FORMAT(1000)") == "1000 B")
    assert(one("HUMAN_READABLE_BINARY_BYTE_FORMAT(1024)") == "1.00 KiB")
    assert(one(s"HUMAN_READABLE_BINARY_BYTE_FORMAT(${Long.MaxValue})") == "8.00 EiB")
    assert(one("HUMAN_READABLE_BINARY_BYTE_FORMAT(b, p)") == "25 B")
    assert(one("HUMAN_READABLE_BINARY_BYTE_FORMAT(45000, 0)") == "44 KiB")
    assert(one("HUMAN_READABLE_BINARY_BYTE_FORMAT(45000, 1)") == "43.9 KiB")
    assert(one("HUMAN_READABLE_BINARY_BYTE_FORMAT(45000, 2)") == "43.95 KiB")
    assert(one("HUMAN_READABLE_BINARY_BYTE_FORMAT(45000, 3)") == "43.945 KiB")
    assert(one("HUMAN_READABLE_DECIMAL_BYTE_FORMAT(999)") == "999 B")
    assert(one("HUMAN_READABLE_DECIMAL_BYTE_FORMAT(1024)") == "1.02 KB")
    assert(one(s"HUMAN_READABLE_DECIMAL_BYTE_FORMAT(${Long.MaxValue})") == "9.22 EB")
    assert(one("HUMAN_READABLE_DECIMAL_BYTE_FORMAT(b, p)") == "25 B")
    assert(one("HUMAN_READABLE_DECIMAL_BYTE_FORMAT(45678, 0)") == "46 KB")
    assert(one("HUMAN_READABLE_DECIMAL_BYTE_FORMAT(45678, 1)") == "45.7 KB")
    assert(one("HUMAN_READABLE_DECIMAL_BYTE_FORMAT(45678, 2)") == "45.68 KB")
    assert(one("HUMAN_READABLE_DECIMAL_BYTE_FORMAT(45678, 3)") == "45.678 KB")
  }
}
