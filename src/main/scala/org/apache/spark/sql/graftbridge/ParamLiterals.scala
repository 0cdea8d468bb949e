package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Add, BinaryComparison, Expression, In, LeafExpression, Literal, Multiply, Subtract}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.types.DataType

/** A primitive literal whose generated code does not contain its value.
  *
  * Spark writes a primitive `Literal` into the generated Java source, so a
  * query shape compiles a new class for every new value. A `ParamLiteral`
  * passes its value through the generated class's `references` array, the
  * way Spark passes a string literal: a field of the class reads it once
  * per instance, and every value of the shape shares one compiled class.
  *
  * It prints exactly as its `Literal` does, so plan text does not change.
  * It is not foldable. Its equality keeps the value bit for bit (-0.0 and
  * 0.0 are equal Literals but different parameters), so exchange and
  * subquery reuse never merges two plans that differ in a parameter. */
case class ParamLiteral(literal: Literal) extends LeafExpression {
  override def dataType: DataType = literal.dataType
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = literal.value
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  private def bits: Any = literal.value match {
    case d: Double => java.lang.Double.doubleToLongBits(d)
    case f: Float => java.lang.Float.floatToIntBits(f)
    case v => v
  }
  override def equals(other: Any): Boolean = other match {
    case p: ParamLiteral => dataType == p.dataType && bits == p.bits
    case _ => false
  }
  override def hashCode: Int = (dataType, bits).##

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", literal.value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "param",
      v => s"$v = $ref.${javaType}Value();", forceInline = true)
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

/** Installs `Parameterize` before the columnar transitions:
  * Spark runs those after physical planning and after every adaptive
  * stage re-plan, each time before `CollapseCodegenStages`. */
object ParamLiterals extends ColumnarRule {
  override def preColumnarTransitions: Rule[SparkPlan] = Parameterize

  /** Replaces the non-null primitive literal operands of comparisons, of
    * `+`, `-` and `*`, and of `IN` lists in `FilterExec` conditions and
    * `ProjectExec` lists. It leaves alone every expression whose generated
    * code depends on a literal's value (`InSet`, `LIKE` patterns, date-trunc
    * units, division's zero check, Decimal precision), every other operator,
    * and the scan's partition and data filters, which keep real literals
    * for pruning and pushdown. */
  private object Parameterize extends Rule[SparkPlan] {
    def apply(plan: SparkPlan): SparkPlan = plan.transform {
      case p @ (_: FilterExec | _: ProjectExec) => p.mapExpressions(operands)
    }

    private def operands(e: Expression): Expression = e.transform {
      case c @ (_: BinaryComparison | _: Add | _: Subtract | _: Multiply) => c.mapChildren(param)
      case i: In => i.copy(list = i.list.map(param))
    }

    private def param(e: Expression): Expression = e match {
      case l: Literal if l.value != null && CodeGenerator.isPrimitiveType(l.dataType) =>
        ParamLiteral(l)
      case other => other
    }
  }
}
