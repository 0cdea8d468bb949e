package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.functions._
import graft.plans.HofUnroll

/** plans.HofUnroll: higher-order functions over literal arrays unroll to
  * scalar conditionals — results must be IDENTICAL to Spark's interpreted
  * lambda evaluation (nulls and 3VL included), and the unrolled plan must
  * carry no HigherOrderFunction expression. */
class HofUnrollSpec extends SparkSpecBase {
  import spark.implicits._

  private def hofCount(df: DataFrame): Int = {
    var n = 0
    df.queryExecution.optimizedPlan.foreach(_.expressions.foreach(_.foreach {
      case _: HigherOrderFunction => n += 1
      case _ =>
    }))
    n
  }

  /** Evaluate `sql` projected over a small base with and without the rule;
    * rows must match; with the rule the plan must (or must not) be
    * HOF-free. */
  private def check(sqlExpr: String, expectUnrolled: Boolean = true): Unit = {
    // spark.range, NOT a local Seq: ConvertToLocalRelation would constant-
    // evaluate a Project over LocalRelation and vacuously erase the HOFs
    val base = spark.range(4)
      .select(($"id" * 3 - 3).as("a"), pmod($"id", lit(3)).as("b"))
      .withColumn("n", when($"a" > 0, $"a")) // a nullable column
    def q() = base.selectExpr(s"$sqlExpr AS r")
    // the session's own rules (GraftSession.configure installs this one)
    // are restored afterwards
    val installed = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      installed.filterNot(_.isInstanceOf[HofUnroll.UnrollRule])
    val interpreted = q().collect().map(r => String.valueOf(r.get(0))).toSeq
    HofUnroll.enable(spark)
    try {
      val unrolled = q()
      if (expectUnrolled)
        assert(hofCount(unrolled) == 0, s"$sqlExpr still carries a HOF:\n${unrolled.queryExecution.optimizedPlan}")
      else
        assert(hofCount(unrolled) > 0, s"$sqlExpr unexpectedly unrolled")
      val got = unrolled.collect().map(r => String.valueOf(r.get(0))).toSeq
      assert(got == interpreted, s"$sqlExpr: unrolled $got vs interpreted $interpreted")
    } finally spark.experimental.extraOptimizations = installed
  }

  test("fold over map over filter of a literal array (the apply-fn chain)") {
    check("aggregate(filter(array(a, b, 3L), x -> x > 2), 0L, (acc, x) -> acc + x * 2)")
  }

  test("transform over a literal array; index lambda gets a literal index") {
    check("transform(array(a, b), x -> x + 1)")
    check("transform(array(a, b, 9L), (x, i) -> x + i)")
  }

  test("exists / forall 3VL with null elements") {
    // n is null for non-positive a: exists over (null > 2) exercises 3VL
    check("exists(array(n, b), x -> x > 2)")
    check("forall(array(n, b), x -> x >= 0)")
    // null-valued predicate with no true: result must be null, not false
    check("exists(array(n), x -> x > 100)")
  }

  test("filter predicate null drops the element (fused If treats null as false)") {
    check("aggregate(filter(array(n, b, 5L), x -> x > 1), 0L, (acc, x) -> acc + x)")
  }

  test("empty literal array: fold yields finish(zero), exists false, forall true") {
    check("aggregate(array(), 7L, (acc, x) -> acc + 100L)")
    check("exists(array(), x -> x > 0)")
    check("forall(array(), x -> x > 0)")
  }

  test("aggregate with a finish lambda") {
    check("aggregate(array(a, b), 0L, (acc, x) -> acc + x, acc -> acc * 10)")
  }

  test("non-literal arrays and dynamic-index-after-filter shapes bail to interpreted") {
    check("aggregate(sequence(1L, a + 3L), 0L, (acc, x) -> acc + x)", expectUnrolled = false)
    check("transform(filter(array(a, b, 3L), x -> x > 0), (x, i) -> x + i)", expectUnrolled = false)
  }

  test("the native apply-fn gate query unrolls (no HOF in the optimized plan)") {
    val df = graft.SparkEntry.queries("native_apply_fns")(spark, sf())
    assert(hofCount(df) == 0,
      s"native_apply_fns still interpreted:\n${df.queryExecution.optimizedPlan.toString.take(2000)}")
    assert(df.count() > 0)
  }

  test("stacked-Project merge bails when a nondeterministic lower alias is still referenced") {
    // lower Project: [array alias, rand() alias]; upper references the HOF
    // over the array AND the rand twice — inlining would evaluate rand()
    // twice with different values, so the merge must NOT fire. Correctness
    // probe: both rand references must agree row-by-row.
    val base = spark.range(8).select(($"id" + 1).as("a"), ($"id" % 4).as("b"))
      .select(array($"a", $"b", lit(3L)).as("arr"), rand().as("r"), $"a")
    HofUnroll.enable(spark)
    val q = base.selectExpr(
      "aggregate(arr, 0L, (acc, x) -> acc + x) AS s", "r AS r1", "r AS r2")
    val rows = q.collect()
    assert(rows.forall(r => r.getDouble(1) == r.getDouble(2)),
      "nondeterministic lower alias was duplicated by the unroll merge")
  }
}
