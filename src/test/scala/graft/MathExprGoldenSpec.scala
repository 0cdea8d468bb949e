package graft

import org.apache.spark.sql.Row

/** Golden tranche over the reference's native math-expr dialect vectors
  * (core/src/test/java/org/apache/druid/math/expr/FunctionTest.java — the
  * expression language JSON virtualColumns/filters/aggregators carry).
  * Every Druid-syntax expression below runs VERBATIM through
  * `MathExpr.toSparkSql` against the reference's binding row; expected
  * values are the sql-compatible-mode branch.
  *
  * Documented adaptations: `-inf` binds as `ninf` (a leading dash cannot
  * name a Spark column); isnull/notnull return BOOLEAN where math-expr
  * returns 1L/0L (math-expr booleans ARE longs — in filter position the two
  * are interchangeable); mixed-type array construction string-coerces
  * (Spark's common-type rule) where the reference null-coerces to the first
  * element's type; `strlen(nonexistent)` of an unbound identifier is an
  * analysis error here, not null (Spark resolves columns at plan time).
  * testComplexDecode* (base64 complex-type blobs) are N/A — no complex type
  * registry; binary payloads are first-class columns instead.
  */
class MathExprGoldenSpec extends SparkSpecBase {

  private lazy val druidSql: org.apache.spark.sql.SparkSession =
    GraftSession.configure(spark.newSession())

  private lazy val registered: Unit = {
    val s = druidSql
    import org.apache.spark.sql.types._
    // FunctionTest.setup bindings (:44-63)
    val schema = StructType(Seq(
      StructField("x", StringType), StructField("y", LongType),
      StructField("z", DoubleType), StructField("d", DoubleType),
      StructField("maxLong", LongType), StructField("minLong", LongType),
      StructField("f", FloatType), StructField("nan", DoubleType),
      StructField("inf", DoubleType), StructField("ninf", DoubleType),
      StructField("o", LongType), StructField("od", DoubleType),
      StructField("of", FloatType),
      StructField("a", ArrayType(StringType)),
      StructField("b", ArrayType(LongType)),
      StructField("c", ArrayType(DoubleType))))
    val row = Row("foo", 2L, 3.1, 34.56, Long.MaxValue, Long.MinValue, 12.34f,
      Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, 0L, 0.0, 0.0f,
      Seq("foo", "bar", "baz", "foobar"), Seq(1L, 2L, 3L, 4L, 5L), Seq(3.1, 4.2, 5.3))
    s.createDataFrame(
      new java.util.ArrayList[Row](java.util.List.of(row)), schema)
      .createOrReplaceTempView("mxbindings")
  }

  /** Evaluate a Druid math-expr string through the dialect translator. */
  private def me(druidExpr: String): Any = {
    registered
    druidSql.sql(
      s"SELECT ${graft.functions.MathExpr.toSparkSql(druidExpr)} FROM mxbindings")
      .head().get(0)
  }
  private def meSeq(druidExpr: String): Seq[Any] =
    me(druidExpr).asInstanceOf[scala.collection.Seq[Any]].toSeq

  test("testCaseSimple / testCaseSearched (FunctionTest.java)") {
    assert(me("case_simple(x,'baz','is baz','foo','is foo','is other')") == "is foo")
    assert(me("case_simple(x,'baz','is baz','bar','is bar','is other')") == "is other")
    assert(me("case_simple(y,2,'is 2',3,'is 3','is other')") == "is 2")
    assert(me("case_simple(z,2,'is 2',3,'is 3','is other')") == "is other")
    assert(me("case_searched(x=='baz','is baz',x=='foo','is foo','is other')") == "is foo")
    assert(me("case_searched(x=='baz','is baz',x=='bar','is bar','is other')") == "is other")
    assert(me("case_searched(y==2,'is 2',y==3,'is 3','is other')") == "is 2")
    assert(me("case_searched(z==2,'is 2',z==3,'is 3','is other')") == "is other")
  }

  test("testReplace / testLower / testUpper (FunctionTest.java)") {
    assert(me("replace(x,'oo','ab')") == "fab")
    assert(me("replace(x,x,'ab')") == "ab")
    assert(me("replace(x,'oo',y)") == "f2")
    assert(me("lower('FOO')") == "foo")
    assert(me("upper(x)") == "FOO")
  }

  test("testSubstring (FunctionTest.java — 0-based, negative length = rest)") {
    assert(me("substring(x,0,2)") == "fo")
    assert(me("substring(x,1,2)") == "oo")
    assert(me("substring(x,y,1)") == "o")
    assert(me("substring(x,0,-1)") == "foo")
    assert(me("substring(x,0,100)") == "foo")
  }

  test("testStrlen / testStrpos (FunctionTest.java — math-expr strpos is " +
      "0-BASED with -1 absent, unlike the 1-based SQL STRPOS)") {
    assert(me("strlen(x)") == 3)
    assert(me("strpos(x, 'o')") == 1L)
    assert(me("strpos(x, 'o', 0)") == 1L)
    assert(me("strpos(x, 'o', 1)") == 1L)
    assert(me("strpos(x, 'o', 2)") == 2L)
    assert(me("strpos(x, 'o', 3)") == -1L)
    assert(me("strpos(x, '')") == 0L)
    assert(me("strpos(x, 'x')") == -1L)
  }

  test("testIsNull / testIsNotNull (FunctionTest.java; BOOLEAN here where " +
      "math-expr longs 1/0 — interchangeable in filter position)") {
    assert(me("isnull(null)") == true)
    assert(me("isnull('abc')") == false)
    assert(me("notnull(null)") == false)
    assert(me("notnull('abc')") == true)
  }

  test("testLpad / testRpad (FunctionTest.java — string vectors; array " +
      "inputs stringify differently here and are omitted)") {
    assert(me("lpad(x, 5, 'ab')") == "abfoo")
    assert(me("lpad(x, 4, 'ab')") == "afoo")
    assert(me("lpad(x, 2, 'ab')") == "fo")
    assert(me("lpad(null, 5, 'ab')") == null)
    assert(me("lpad('', 3, '*')") == "***")
    assert(me("lpad(x, 2, null)") == null)
    assert(me("lpad(x, 5, y)") == "22foo")
    assert(me("rpad(x, 5, 'ab')") == "fooab")
    assert(me("rpad(x, 4, 'ab')") == "fooa")
    assert(me("rpad(x, 2, 'ab')") == "fo")
    assert(me("rpad(null, 5, 'ab')") == null)
    assert(me("rpad(x, 2, null)") == null)
    assert(me("rpad(y, 5, x)") == "2foof")
  }

  test("testArrayConstructor (FunctionTest.java — `[...]` literals translate " +
      "to array(); mixed numeric/string coerces to STRING here, documented)") {
    assert(meSeq("array(1, 2, 3, 4)") == Seq(1, 2, 3, 4))
    // Spark parses the 1.0 literal as DECIMAL(2,1); the VALUE matches
    assert(meSeq("array(1.0)").map(_.toString) == Seq("1.0"))
    assert(meSeq("array('foo', 'bar')") == Seq("foo", "bar"))
    assert(meSeq("[1, 2, 3]") == Seq(1, 2, 3))
  }

  test("testArraySetAdd / testArraySetAddAll (FunctionTest.java — sorted-set " +
      "semantics, typed empty `<LONG>[]` literals)") {
    assert(meSeq("array_set_add([1, 2, 3], 4)") == Seq(1, 2, 3, 4))
    assert(meSeq("array_set_add([1, 2, 2], 1)") == Seq(1, 2))
    assert(meSeq("array_set_add(<LONG>[], 1)") == Seq(1L))
    assert(meSeq("array_set_add(<LONG>[], null)") == Seq(null))
    assert(meSeq("array_set_add_all([1, 2, 3], [2, 4, 6])") == Seq(1, 2, 3, 4, 6))
  }

  test("testStringToArray / testArrayToString round trip (FunctionTest.java)") {
    assert(meSeq("string_to_array('1,2,3', ',')") == Seq("1", "2", "3"))
    assert(meSeq("string_to_array('1', ',')") == Seq("1"))
    assert(me("array_to_string(a, '|')") == "foo|bar|baz|foobar")
    assert(meSeq("string_to_array(array_to_string(a, ','), ',')") ==
      Seq("foo", "bar", "baz", "foobar"))
  }

  test("testArrayCast (FunctionTest.java — function-style cast with Druid " +
      "type-name strings)") {
    assert(meSeq("cast([1, 2, 3], 'STRING_ARRAY')") == Seq("1", "2", "3"))
    assert(meSeq("cast([1, 2, 3], 'DOUBLE_ARRAY')") == Seq(1.0, 2.0, 3.0))
    assert(meSeq("cast(c, 'LONG_ARRAY')") == Seq(3L, 4L, 5L))
    assert(meSeq("cast(['1.0', '2.0', '3.0'], 'LONG_ARRAY')") == Seq(1L, 2L, 3L))
  }

  test("testRoundWithLong / testRoundWithDouble / testRoundWithFloat / " +
      "testRoundWithExtremeNumbers / testRoundWithNullValueOrInvalid / " +
      "testRoundWithNonNumericValuesShouldReturn0 (FunctionTest.java)") {
    assert(me("round(y)") == 2L)
    assert(me("round(y, 2)") == 2L)
    assert(me("round(y, -1)") == 0L)
    assert(me("round(d)") == 35.0)
    assert(me("round(d, 2)") == 34.56)
    assert(me("round(d, y)") == 34.56)
    assert(me("round(d, 1)") == 34.6)
    assert(me("round(d, -1)") == 30.0)
    // FLOAT columns keep FLOAT here (the reference widens to double)
    assert(me("round(f)") == 12.0f)
    assert(me("round(f, 1)") == 12.3f)
    assert(me("round(maxLong)") == Long.MaxValue)
    assert(me("round(minLong)") == Long.MinValue)
    assert(me("round(null)") == null)
    assert(me("round(x)") == null) // non-numeric string → null (sql-compatible)
    assert(me("round(nan)") == 0.0)
    assert(me("round(inf)") == Double.MaxValue)
    assert(me("round(ninf)") == -Double.MaxValue)
  }

  test("testGreatest / testLeast (FunctionTest.java — null-skipping, " +
      "string-coercing compare)") {
    assert(me("greatest(y, 0)") == 2L)
    assert(me("greatest(34.0, z, 5.0, 767.0)") == 767.0)
    assert(me("greatest('B', x, 'A')") == "foo")
    assert(me("greatest(-1, z, 'A')") == "A")
    assert(me("greatest(-1, z)") == 3.1)
    assert(me("greatest(1, 'A')") == "A")
    assert(me("least(y, 0)") == 0L)
    assert(me("least(34.0, z, 5.0, 767.0)") == 3.1)
    assert(me("least('B', x, 'A')") == "A")
    assert(me("least(-1, z, 'A')") == "-1")
    assert(me("least(-1, z)") == -1.0)
  }

  test("testSizeFormat / testSizeFormatWithDifferentPrecision " +
      "(FunctionTest.java — binary/decimal byte + decimal unit formats)") {
    assert(me("human_readable_binary_byte_format(-1024)") == "-1.00 KiB")
    assert(me("human_readable_binary_byte_format(1024)") == "1.00 KiB")
    assert(me("human_readable_binary_byte_format(1024*1024)") == "1.00 MiB")
    assert(me("human_readable_binary_byte_format(1024*1024*1024)") == "1.00 GiB")
    assert(me("human_readable_decimal_byte_format(-1000)") == "-1.00 KB")
    assert(me("human_readable_decimal_byte_format(1000)") == "1.00 KB")
    assert(me("human_readable_decimal_format(1000)") == "1.00 K")
    assert(me("human_readable_decimal_format(1000*1000)") == "1.00 M")
    assert(me("human_readable_binary_byte_format(1024, 0)") == "1 KiB")
    assert(me("human_readable_binary_byte_format(1024*1024, 1)") == "1.0 MiB")
    assert(me("human_readable_decimal_byte_format(1234, 0)") == "1 KB")
    assert(me("human_readable_decimal_byte_format(1234*1000, 1)") == "1.2 MB")
    assert(me("human_readable_decimal_format(1234, 0)") == "1 K")
    assert(me("human_readable_decimal_format(1234*1000,1)") == "1.2 M")
  }

  test("testSizeFormatInvalidPrecision / testSizeFormatInvalidArgumentSize / " +
      "testSizeForatInvalidArgumentType (FunctionTest.java — error surface)") {
    registered
    for (bad <- Seq(
        "human_readable_binary_byte_format(1024, 4)",   // precision ∉ [0,3]
        "human_readable_binary_byte_format(1024, -1)")) {
      val e = intercept[Exception] {
        druidSql.sql(
          s"SELECT ${graft.functions.MathExpr.toSparkSql(bad)} FROM mxbindings").collect()
      }
      assert(e.getMessage.toLowerCase.contains("precision"))
    }
  }

  test("testMVToArrayWithValidInputs (FunctionTest.java; " +
      "testMVToArrayWithConstantLiteral / testMVToArrayWithFunction / " +
      "testMVToArrayWithMoreArgs / testMVToArrayWithNoArgs error variants " +
      "are a documented SUPERSET — any string expression converts here, not " +
      "just identifiers)") {
    assert(meSeq("mv_to_array(a)") == Seq("foo", "bar", "baz", "foobar"))
    assert(meSeq("mv_to_array(x)") == Seq("foo"))
  }

  test("testSizeFormatWithEdgeCases (FunctionTest.java:620-650 — float " +
      "truncation, NaN→0 B, ±Inf→±8 EiB, zero long/double)") {
    assert(me("human_readable_binary_byte_format(f)") == "12 B")
    assert(me("human_readable_binary_byte_format(nan)") == "0 B")
    assert(me("human_readable_binary_byte_format(inf)") == "8.00 EiB")
    assert(me("human_readable_binary_byte_format(ninf)") == "-8.00 EiB")
    assert(me("human_readable_binary_byte_format(o)") == "0 B")
    assert(me("human_readable_binary_byte_format(od)") == "0 B")
  }

  test("logical operators over boolean expressions (EvalTest" +
      ".testLogicalOperators / testBooleanInputs / testBooleanReturn — the " +
      "predicate forms real filters use)") {
    assert(me("(y == 2) && (z > 3)") == true)
    assert(me("(y == 2) && (z > 4)") == false)
    assert(me("(y == 3) || (z > 3)") == true)
    assert(me("(y == 3) || (z > 4)") == false)
    assert(me("!(y == 3)") == true)
    assert(me("(1 != 0) && (0 != 0)") == false)
    assert(me("(1.0 != 0.0) || (0.0 != 0.0)") == true)
  }

  test("logical operators with bare TRUTHY operands (EvalTest.testLongEval:" +
      "154-161, testDoubleEval:125 — Evals.asBoolean: numerics true when " +
      "> 0, strings via parseBoolean; via MathExpr.expr's operand wrap)") {
    registered
    def mx(e: String): Any =
      druidSql.table("mxbindings")
        .select(graft.functions.MathExpr.expr(e).as("r")).head().get(0)
    assert(mx("9223372036854775807 && 0") == false)
    assert(mx("9223372036854775807 && 9223372036854775806") == true)
    assert(mx("9223372036854775807 || 0") == true)
    assert(mx("-9223372036854775807 || -9223372036854775807") == false)
    assert(mx("-9223372036854775807 || 9223372036854775807") == true)
    assert(mx("0 || 0") == false)
    assert(mx("1 && 1") == true)
    assert(mx("!2.0") == false)
    assert(mx("!0") == true)
    assert(mx("!-9223372036854775807") == true)
    // boolean operands pass through the RuntimeReplaceable untouched
    assert(mx("(y == 2) && 1") == true)
    // string truthiness: parseBoolean
    assert(mx("'true' && 1") == true)
    assert(mx("'yes' && 1") == false)
    // if/case_searched conditions take the same truthiness
    // (EvalTest.java:138-139: if(1.0, 2.0, 3.0) = 2.0)
    assert(mx("if(1.0, 2.0, 3.0)") == 2.0)
    assert(mx("if(0.0, 2.0, 3.0)") == 3.0)
    assert(mx("case_searched(y, 'pos', 'nonpos')") == "pos")
    assert(mx("case_searched(y - 2, 'pos', 'nonpos')") == "nonpos")
  }

  // testComplexDecodeNull / testComplexDecodeBaseWrongArgCount /
  // testComplexDecodeBaseArg0Unknown / testComplexDecodeBaseArg0BadType
  // exercise complex_decode_base64 over a registered COMPLEX type strategy
  // (TypeStrategiesTest.NullableLongPair) — N/A: this engine has no complex
  // type registry; binary payloads are first-class BINARY columns
  // (multimodal.Multimodal) and sketch blobs decode through their own
  // typed functions (DruidHllc, QuantileSketchBytes, DruidBloomBytes).
  //
  // The rest of core/.../math/expr's EvalTest and ParserTest exercise the
  // reference parser/evaluator INTERNALS (AST shapes, ExprEval type
  // dispatch, apply/fold auto-transformation) — architecturally replaced
  // here by Catalyst's parser/analyzer; the user-observable dialect surface
  // those internals serve is what this spec and NativeQuerySpec pin.
}
