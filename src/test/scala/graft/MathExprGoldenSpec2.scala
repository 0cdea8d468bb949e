package graft

import org.apache.spark.sql.Row

/** Second golden tranche over FunctionTest.java (core/src/test/java/org/
  * apache/druid/math/expr/FunctionTest.java) — the vectors MathExprGoldenSpec
  * didn't port: concat, the array accessor/combinator family, safe_divide,
  * the camelCase bitwise family, repeat. Same harness: each Druid-syntax
  * expression runs VERBATIM through `MathExpr.toSparkSql` against the
  * FunctionTest binding row; expected values are the sqlCompatible branch.
  *
  * Documented adaptations (same policy as MathExprGoldenSpec):
  * array_contains / array_overlap return BOOLEAN where math-expr renders its
  * longs (interchangeable in filter position); mixed-type vectors that rely
  * on the reference's null-coerce-to-first-element-type rule string-coerce
  * here (Spark's common-type rule) and are omitted; `concat()` with zero
  * args returns '' (Spark) where the reference nulls; `repeat(str, -1)`
  * returns '' (Spark) where the reference nulls.
  */
class MathExprGoldenSpec2 extends SparkSpecBase {

  private lazy val druidSql: org.apache.spark.sql.SparkSession =
    GraftSession.configure(spark.newSession())

  private lazy val registered: Unit = {
    val s = druidSql
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("x", StringType), StructField("y", LongType),
      StructField("z", DoubleType), StructField("inf", DoubleType),
      StructField("nan", DoubleType),
      StructField("a", ArrayType(StringType)),
      StructField("b", ArrayType(LongType)),
      StructField("c", ArrayType(DoubleType))))
    val row = Row("foo", 2L, 3.1, Double.PositiveInfinity, Double.NaN,
      Seq("foo", "bar", "baz", "foobar"), Seq(1L, 2L, 3L, 4L, 5L), Seq(3.1, 4.2, 5.3))
    s.createDataFrame(
      new java.util.ArrayList[Row](java.util.List.of(row)), schema)
      .createOrReplaceTempView("mxbindings2")
  }

  private def me(druidExpr: String): Any = {
    registered
    druidSql.sql(
      s"SELECT ${graft.functions.MathExpr.toSparkSql(druidExpr)} FROM mxbindings2")
      .head().get(0)
  }
  private def meSeq(druidExpr: String): Seq[Any] = me(druidExpr) match {
    case null => null
    case s: scala.collection.Seq[_] => s.toSeq
  }
  private def meStr(druidExpr: String): Seq[String] = meSeq(druidExpr) match {
    case null => null
    case s => s.map(v => if (v == null) null else String.valueOf(v))
  }

  test("testConcat (FunctionTest.java:106-118)") {
    assert(me("concat(x, ' ', y)") == "foo 2")
    assert(me("concat(z)") == "3.1")
  }

  test("testArrayLength (FunctionTest.java:241)") {
    assert(me("array_length([1, 2, 3])") == 3)
    assert(me("array_length(a)") == 4)
  }

  test("testArrayOffset / testArrayOrdinal (FunctionTest.java:248-262 — " +
      "0-based / 1-based access, null out of range)") {
    assert(String.valueOf(me("array_offset([1, 2, 3], 2)")) == "3")
    assert(me("array_offset([1, 2, 3], 3)") == null)
    assert(me("array_offset(a, 2)") == "baz")
    assert(String.valueOf(me("array_ordinal([1, 2, 3], 3)")) == "3")
    assert(me("array_ordinal([1, 2, 3], 4)") == null)
    assert(me("array_ordinal(a, 3)") == "baz")
  }

  test("testArrayOffsetOf / testArrayOrdinalOf (FunctionTest.java:264-278 — " +
      "null when absent, sqlCompatible)") {
    assert(String.valueOf(me("array_offset_of([1, 2, 3], 3)")) == "2")
    assert(me("array_offset_of([1, 2, 3], 4)") == null)
    assert(String.valueOf(me("array_offset_of(a, 'baz')")) == "2")
    assert(String.valueOf(me("array_ordinal_of([1, 2, 3], 3)")) == "3")
    assert(me("array_ordinal_of([1, 2, 3], 4)") == null)
    assert(String.valueOf(me("array_ordinal_of(a, 'baz')")) == "3")
  }

  test("testArrayContains (FunctionTest.java:280-288 — array needle means " +
      "contains-ALL; BOOLEAN rendering)") {
    assert(me("array_contains([1, 2, 3], 2)") == true)
    assert(me("array_contains([1, 2, 3], 4)") == false)
    assert(me("array_contains([1, 2, 3], [2, 3])") == true)
    assert(me("array_contains([1, 2, 3], [3, 4])") == false)
    assert(me("array_contains(b, [3, 4])") == true)
  }

  test("testArrayOverlap (FunctionTest.java:290-295)") {
    assert(me("array_overlap([1, 2, 3], [2, 4, 6])") == true)
    assert(me("array_overlap([1, 2, 3], [4, 5, 6])") == false)
  }

  test("testArrayAppend / testArrayPrepend (FunctionTest.java:297-304,377-385 " +
      "— typed empties; scalar-to-array promotion)") {
    assert(meStr("array_append([1, 2, 3], 4)") == Seq("1", "2", "3", "4"))
    assert(meStr("array_append(<LONG>[], 1)") == Seq("1"))
    assert(meStr("array_append([], 1)") == Seq("1"))
    assert(meStr("array_prepend(4, [1, 2, 3])") == Seq("4", "1", "2", "3"))
    assert(meStr("array_prepend(1, [])") == Seq("1"))
    assert(meStr("array_prepend(1, <LONG>[])") == Seq("1"))
    assert(meStr("array_prepend(1, <DOUBLE>[])") == Seq("1.0"))
  }

  test("testArrayConcat (FunctionTest.java:306-314 — scalars promote to " +
      "1-element arrays; composes with the apply fns)") {
    assert(meStr("array_concat([1, 2, 3], [2, 4, 6])") ==
      Seq("1", "2", "3", "2", "4", "6"))
    assert(meStr("array_concat([1, 2, 3], 4)") == Seq("1", "2", "3", "4"))
    assert(meStr("array_concat(0, [1, 2, 3])") == Seq("0", "1", "2", "3"))
    assert(meStr("array_concat(map(y -> y * 3, b), [1, 2, 3])") ==
      Seq("3", "6", "9", "12", "15", "1", "2", "3"))
    assert(meStr("array_concat(0, 1)") == Seq("0", "1"))
  }

  test("testArraySlice (FunctionTest.java:366-375 — 0-based end-exclusive, " +
      "null-pad on overrun, null on invalid range)") {
    assert(meStr("array_slice([1, 2, 3, 4], 1, 3)") == Seq("2", "3"))
    assert(meStr("array_slice([1.0, 2.1, 3.2, 4.3], 2)") == Seq("3.2", "4.3"))
    assert(meStr("array_slice(['a', 'b', 'c', 'd'], 4, 6)") == Seq(null, null))
    assert(meStr("array_slice([1, 2, 3, 4], 2, 2)") == Seq())
    assert(meSeq("array_slice([1, 2, 3, 4], 5, 7)") == null)
    assert(meSeq("array_slice([1, 2, 3, 4], 2, 1)") == null)
  }

  test("testSafeDivide (FunctionTest.java:780-792 — null on zero/NaN/Inf " +
      "divisor paths, sqlCompatible)") {
    assert(String.valueOf(me("safe_divide(3, 1)")) == "3.0" ||
      String.valueOf(me("safe_divide(3, 1)")) == "3")
    assert(me("safe_divide(4.5, 2)") == 2.25)
    assert(me("safe_divide(3, 0)") == null)
    assert(me("safe_divide(1, 0.0)") == null)
    assert(me("safe_divide(nan, 0.0)") == null)
    assert(me("safe_divide(0, nan)") == 0.0)
    assert(me("safe_divide(0, inf)") == 0.0 || me("safe_divide(0, inf)") == null)
    assert(me("safe_divide(inf, 0)") == null)
  }

  test("testBitwise (FunctionTest.java:795-857 — camelCase math-expr " +
      "spellings, double casts, long-bits converters)") {
    assert(me("bitwiseAnd(3, 1)") == 1L)
    assert(me("bitwiseAnd(2, 1)") == 0L)
    assert(me("bitwiseOr(3, 1)") == 3L)
    assert(me("bitwiseOr(2, 1)") == 3L)
    assert(me("bitwiseXor(3, 1)") == 2L)
    assert(me("bitwiseXor(2, 1)") == 3L)
    assert(me("bitwiseShiftLeft(2, 1)") == 4L)
    assert(me("bitwiseShiftRight(2, 1)") == 1L)
    assert(me("bitwiseAnd(bitwiseComplement(1), 7)") == 6L)
    // one string arg is forgiven (cast)
    assert(me("bitwiseAnd(3, '1')") == 1L)
    assert(me("bitwiseAnd(2, null)") == null)
    // doubles are cast to long
    assert(me("bitwiseOr(2.345, 1)") == 3L)
    assert(me("bitwiseOr(2, 1.3)") == 3L)
    assert(me("bitwiseAnd(2.345, 2.0)") == 2L)
    // raw-bits converters
    assert(me("bitwiseAnd(bitwiseConvertDoubleToLongBits(2.345), bitwiseConvertDoubleToLongBits(2.0))")
      == 4611686018427387904L)
    assert(me("bitwiseConvertLongBitsToDouble(bitwiseAnd(bitwiseConvertDoubleToLongBits(2.345), bitwiseConvertDoubleToLongBits(2.0)))")
      == 2.0)
    assert(me("bitwiseConvertDoubleToLongBits(2.0)") == 4611686018427387904L)
    assert(me("bitwiseConvertDoubleToLongBits(bitwiseConvertDoubleToLongBits(2.0))")
      == 4886405595696988160L)
    assert(me("bitwiseConvertLongBitsToDouble(4611686018427387904)") == 2.0)
    assert(me("bitwiseConvertLongBitsToDouble(bitwiseConvertLongBitsToDouble(4611686018427387904))")
      == 1.0e-323)
  }

  test("testRepeat (FunctionTest.java:860-867; negative count deviation " +
      "documented in the header)") {
    assert(me("repeat('hello', 2)") == "hellohello")
    assert(me("repeat(null, 10)") == null)
  }

  test("the '^' power operator (EvalTest.java:132,174; Expr.g4:22 — " +
      "right-assoc, long^long in INTEGER space, binds tighter than '*' " +
      "but looser than unary minus — unaryOpExpr precedes powOpExpr)") {
    assert(me("2.0 ^ 3.0") == 8.0)
    // LongMath.pow wraps in long space: double pow cannot represent this
    assert(me("3037000499 ^ 2") == 9223372030926249001L)
    assert(me("2 ^ 3 ^ 2") == 512L) // right-assoc: 2^(3^2)
    // unary binds TIGHTER (Expr.g4 lists unaryOpExpr above powOpExpr):
    // (-2)^2, not -(2^2)
    assert(me("-2 ^ 2") == 4L)
    assert(me("1 - 2 ^ 2") == -3L) // binary '-' stays binary: 1 - (2^2)
    assert(me("3 * -2 ^ 2") == 12L) // 3 * ((-2)^2)
    assert(me("2 * 3 ^ 2") == 18L) // tighter than '*'
    assert(me("(1 + 1) ^ 3") == 8L)
    assert(me("y ^ 2") == 4L) // bound long column
    assert(me("sqrt(4.0) ^ 2") == 4.0) // call operand
    assert(me("abs(-2) ^ \"y\"") == 4L) // quoted-identifier operand
  }

  test("NaN / Infinity grammar literals (Expr.g4:63)") {
    assert(me("isnull(safe_divide(NaN, 0.0))") == true)
    assert(me("Infinity > 1e308") == true)
    assert(me("-Infinity < 0") == true)
  }
}
