package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Cast, ExprId, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.types.{StringType, TimestampNTZType, TimestampType}

/** Plan-level validations mirroring the reference's PlannerConfig gates
  * (sql/.../planner/PlannerConfig.java). */
object PlannerChecks {

  /** A string literal that a comparison coerces to a time type must parse
    * (reference: Calcite rejects it at validation, "Illegal TIMESTAMP
    * constant" — CalciteQueryTest
    * .testCountStarWithTimeFilterUsingStringLiteralsInvalid); Spark's
    * lenient coercion would cast it to null and silently match nothing. An
    * explicit CAST keeps its null. `GraftSession.configure` installs this
    * as an analysis check; SQL statements and INSERTs also run it. */
  val illegalTimeLiterals: LogicalPlan => Unit = _.foreachWithSubqueries(
    _.expressions.foreach(_.foreach {
      case c @ Cast(Literal(v, _: StringType), TimestampType | TimestampNTZType, _, _)
          if v != null && c.getTagValue(Cast.USER_SPECIFIED_CAST).isEmpty && c.eval() == null =>
        throw new IllegalArgumentException(s"Illegal TIMESTAMP constant: '$v'")
      case _ =>
    }))

  /** `requireTimeCondition` (reference: PlannerConfig.isRequireTimeCondition;
    * DruidQuery throws CannotBuildQueryException "requireTimeCondition is
    * enabled on this server, but this query is missing a filter on the
    * __time column" — sql/.../rel/DruidQuery.java). Every datasource leaf in
    * the analyzed plan must sit under at least one Filter whose condition
    * references a `__time`-derived attribute; subqueries (IN / EXISTS /
    * scalar) are checked independently, matching the reference's
    * per-table-scan interval requirement. Constant relations (SELECT 2+2,
    * VALUES) carry no time obligation, like the reference's
    * InlineDataSource. */
  def requireTimeCondition(df: DataFrame): Unit = {
    df.queryExecution.analyzed.foreach(_ => ()) // force analysis
    check(df.queryExecution.analyzed)
  }

  private def check(root: LogicalPlan): Unit = {
    // every subquery expression hosts an independent plan with its own
    // time-condition obligation (the reference requires the condition "on
    // both left and right" of a semi-join)
    (root +: root.subqueriesAll).foreach { plan =>
      val (uncovered, _) = walk(plan)
      uncovered.headOption.foreach { leaf =>
        throw new IllegalStateException(
          "requireTimeCondition is enabled, but the query is missing a filter on the __time column " +
            s"for datasource leaf: ${leaf.nodeName}")
      }
    }
  }

  /** `groupByEnableMultiValueUnnesting = false` — the reference's groupBy
    * context key (processing/.../groupby/GroupByQueryConfig.java
    * CTX_KEY_ENABLE_MULTI_VALUE_UNNESTING; corpus
    * CalciteMultiValueStringQueryTest.testMultiValueStringGroupByDoesNotWork):
    * with implicit MV unnesting disabled, a groupBy that would unnest a
    * multi-value dimension raises instead of silently exploding rows. In
    * this engine unnesting is always EXPLICIT (LATERAL VIEW explode), so
    * the guard rejects any aggregate whose grouping keys derive from a
    * generator (explode/inline) output — the same queries the reference's
    * flag rejects. */
  def requireNoMultiValueUnnesting(df: DataFrame): Unit = {
    val plan = df.queryExecution.analyzed
    var generated: Set[ExprId] = plan.collectWithSubqueries {
      case g: Generate => g.generatorOutput.map(_.exprId)
    }.flatten.toSet
    // transitive: aliases over generator outputs (Project renames) taint too
    var grew = true
    while (grew) {
      val next = generated ++ plan.collectWithSubqueries { case p =>
        p.expressions.flatMap(_.collect {
          case a: Alias if a.child.references.exists(r => generated(r.exprId)) => a.exprId
        })
      }.flatten
      grew = next.size > generated.size
      generated = next
    }
    // foreachWithSubqueries, symmetric with the generator collection above:
    // a disallowed unnesting groupBy inside a scalar/IN subquery must not
    // escape the guard
    plan.foreachWithSubqueries {
      case a: Aggregate =>
        a.groupingExpressions.foreach { g =>
          val hit = g.references.find(r => generated(r.exprId))
          hit.foreach { dim =>
            throw new IllegalStateException(
              s"Encountered multi-value dimension [${dim.name}] that cannot be processed with " +
                "'groupByEnableMultiValueUnnesting' set to false. Consider setting " +
                "'groupByEnableMultiValueUnnesting' to true in your query context.")
          }
        }
      case _ => ()
    }
  }

  /** `maxNumericInFilters` (PlannerConfig.java:37 CTX_MAX_NUMERIC_IN_FILTERS;
    * enforcement NativeQueryMaker.java:154): the reference plans each
    * NUMERIC IN value as its own BoundFilter, so a large numeric IN stalls
    * a historical — when the cap is set, a numeric IN list longer than the
    * cap rejects with the reference's message telling the user to cast the
    * values to strings. String IN lists are exempt (they plan to a single
    * InFilter there, and to a single InSet here). */
  def requireMaxNumericInFilters(df: DataFrame, cap: Int): Unit = {
    import org.apache.spark.sql.catalyst.expressions.{In, InSet}
    import org.apache.spark.sql.types.NumericType
    def reject(dim: String, n: Int): Nothing = throw new IllegalStateException(
      s"The number of values in the IN clause for [$dim] in query exceeds configured " +
        s"maxNumericFilter limit of [$cap] for INs. Cast [$n] values of IN clause to String")
    df.queryExecution.analyzed.foreachWithSubqueries { p =>
      p.expressions.foreach(_.foreach {
        case in: In if in.list.size > cap &&
            in.list.forall(_.dataType.isInstanceOf[NumericType]) =>
          reject(in.value.references.headOption.map(_.name).getOrElse(in.value.sql),
            in.list.size)
        case inset: InSet if inset.hset.size > cap &&
            inset.child.dataType.isInstanceOf[NumericType] =>
          reject(inset.child.references.headOption.map(_.name).getOrElse(inset.child.sql),
            inset.hset.size)
        case _ => ()
      })
    }
  }

  /** Returns (datasource leaves not yet covered by a __time filter,
    * ExprIds flowing out of this plan that derive from a __time column). */
  private def walk(p: LogicalPlan): (Seq[LogicalPlan], Set[ExprId]) = p match {
    case _: OneRowRelation | _: Range => (Nil, Set.empty)
    case l: LocalRelation if l.data.isEmpty => (Nil, Set.empty)
    case leaf: LeafNode =>
      val timeIds = leaf.output.collect {
        case a: Attribute if a.name.equalsIgnoreCase("__time") => a.exprId
      }.toSet
      // an inline VALUES relation whose rows were given literally carries no
      // obligation only when it lacks a __time column; a named datasource
      // (temp view over parquet or a registered fixture) always does
      (Seq(leaf), timeIds)
    case f: Filter =>
      val (uncovered, timeIds) = walk(f.child)
      val refs = f.condition.references.map(_.exprId).toSet
      if (refs.exists(timeIds)) (Nil, timeIds) else (uncovered, timeIds)
    case other =>
      val results = other.children.map(walk)
      val childUncovered = results.flatMap(_._1)
      val childTime = results.flatMap(_._2).toSet
      // propagate time-derivation through aliases (Project/Aggregate output
      // like `__time AS t` or `floor(__time to month) AS gran`); an alias
      // NAMED __time also introduces derivation — datasources materialized
      // from typed rows surface their time column as `_1 AS __time`
      val aliased = other.expressions.flatMap(_.collect {
        case a: Alias if a.name.equalsIgnoreCase("__time") ||
          a.child.references.exists(r => childTime(r.exprId)) => a.exprId
      }).toSet
      // nodes with their own output (Project/Aggregate) restrict visibility,
      // but coverage tracking only needs the derived-id set to grow
      (childUncovered, childTime ++ aliased)
  }

  /** `useApproximateCountDistinct` (PlannerConfig.java — the reference's
    * broker plans COUNT(DISTINCT x) to APPROX_COUNT_DISTINCT under this
    * context): rewrite every distinct Count in the analyzed plan to
    * HyperLogLogPlusPlus, preserving each aggregate's result id so
    * downstream references stay bound. The distinct-free plan drops the
    * Expand/double-shuffle Catalyst needs for exact distincts — the
    * approximation IS the scale lever, exactly as in the reference. The
    * engine's default stays exact (a deliberate deviation from the
    * reference's default-true: exactness is the safer default when the
    * engine can afford it). */
  def approximateCountDistinct(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.{
      AggregateExpression, Count, HyperLogLogPlusPlus}
    import org.apache.spark.sql.graftbridge.CatalystBridge
    val plan = CatalystBridge.analyzed(df)
    val rewritten = plan.transformAllExpressions {
      case ae @ AggregateExpression(Count(Seq(child)), mode, true, filter, resultId) =>
        AggregateExpression(HyperLogLogPlusPlus(child), mode, isDistinct = false,
          filter, resultId)
    }
    CatalystBridge.ofRows(df.sparkSession, rewritten)
  }
}
