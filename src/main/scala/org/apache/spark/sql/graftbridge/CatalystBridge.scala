package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge to the Column ↔ Expression conversions, which Spark 4
  * keeps private[sql] (pre-4.0 code did `new Column(expr)`). Lives inside
  * the org.apache.spark.sql package tree solely to access them; no Spark
  * internals are modified. */
object CatalystBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Eagerly convert a Column to a Catalyst expression.
    * ExpressionUtils.expression returns a lazy ColumnNode wrapper that only
    * the analyzer converts — useless inside FunctionRegistry builders, where
    * the produced expression is spliced into an already-running analysis —
    * so run the converter directly. */
  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** Whether a SQL conf key is explicitly SET on this session (present in
    * the session-level settings map — builder options and sparkContext-conf
    * SQL entries are copied there at session creation) as opposed to riding
    * its registered default. RuntimeConfig.getOption cannot distinguish the
    * two for keys that have defaults. */
  def confIsSet(spark: org.apache.spark.sql.SparkSession, key: String): Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.contains(key)

  /** Add an analysis check to the session's extensions unless it is there.
    * It runs in every analyzer built afterwards: the session's own, built
    * on its first query, and those of its `newSession()` children, which
    * share its extensions. */
  def installCheckRule(spark: org.apache.spark.sql.SparkSession,
      rule: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan => Unit): Unit = {
    val s = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!s.extensions.buildCheckRules(s).contains(rule)) s.extensions.injectCheckRule(_ => rule)
  }

  /** Add a columnar rule to the session's extensions unless it is there.
    * A session state takes its columnar rules when it is built, so the rule
    * reaches this session only if its state is built afterwards; it reaches
    * the `newSession()` children, which share the extensions, either way. */
  def installColumnarRule(spark: org.apache.spark.sql.SparkSession,
      rule: org.apache.spark.sql.execution.ColumnarRule): Unit = {
    val s = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!s.extensions.buildColumnarRules(s).contains(rule)) s.extensions.injectColumnar(_ => rule)
  }

  /** The columnar rules of the session's state (building the state). */
  def columnarRules(spark: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.execution.ColumnarRule] =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.columnarRules

  /** Session FunctionRegistry (private[sql] on the classic session). */
  def functionRegistry(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.catalyst.analysis.FunctionRegistry =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry

  /** DataFrame over a transformed logical plan (classic Dataset.ofRows is
    * private[sql]) — used by plan-level rewrites like the approximate
    * count-distinct context. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Parse SQL text as `spark.sql` does: the session's parser, the session active. */
  def parsePlan(spark: org.apache.spark.sql.SparkSession, sql: String)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    val s = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    s.withActive(s.sessionState.sqlParser.parsePlan(sql))
  }

  /** The analyzed logical plan of a DataFrame. */
  def analyzed(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.analyzed

  /** Resolve a Column's expression against a synthetic row schema (the
    * given attributes), running the session analyzer — function lookup and
    * type coercion included. Returns the fully-resolved expression, which
    * still references the caller's AttributeReference instances (bindable
    * with BindReferences against the same seq). Used by the bounded
    * expression-lambda aggregator to compile fold/combine/finalize bodies
    * once at plan time. */
  def resolveAgainst(spark: org.apache.spark.sql.SparkSession, c: Column,
      attrs: Seq[org.apache.spark.sql.catalyst.expressions.AttributeReference]): Expression = {
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val plan = Project(Seq(Alias(expression(c), "__resolved")()), LocalRelation(attrs))
    val qe = cs.sessionState.executePlan(plan)
    qe.assertAnalyzed()
    val resolved =
      qe.analyzed.asInstanceOf[Project].projectList.head.asInstanceOf[Alias].child
    // RuntimeReplaceable nodes (nvl/coalesce sugar, truthiness wrappers…)
    // only is replaced by the optimizer during physical planning; a
    // directly-eval'd expression must run the replacement here (fixpoint:
    // replacements can nest more replaceables)
    var cur = resolved
    var changed = true
    while (changed) {
      val next = cur.transformUp {
        case rr: org.apache.spark.sql.catalyst.expressions.RuntimeReplaceable =>
          rr.replacement
      }
      changed = !next.fastEquals(cur)
      cur = next
    }
    cur
  }
}
