package graft.server

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnresolvedWith}

/** Planner resource analysis — which named resources a SQL statement reads
  * or writes, before anything executes (the reference's
  * sql/.../planner/DruidPlanner.java `validateAndAuthorize` resource
  * collection; behavioral corpus DruidPlannerResourceAnalyzeTest.java).
  * The reference's authorizer consumes this set; this engine has no auth
  * layer, so the set itself is the product — it feeds the RESOURCES column
  * of `EXPLAIN PLAN FOR` on the SQL façade and is directly assertable.
  *
  * Resource typing (server/security/ResourceType.java):
  *  - `DATASOURCE` — a Druid table, READ (or WRITE as an INSERT target)
  *  - `VIEW` — a SQL view created through the ViewManager analog below;
  *    the view's own name is the resource, its underlying tables are NOT
  *    expanded (DruidPlannerResourceAnalyzeTest.testView expects only
  *    `aview`)
  *  - `SYSTEM_TABLE` — `sys.*`, a resource only when the planner runs with
  *    `authorizeSystemTablesDirectly` (PlannerConfig.java); under the
  *    default config sys tables require no resource at all
  *  - `QUERY_CONTEXT` — context parameter keys, WRITE actions, only when
  *    `authorizeQueryContextParams` (AuthConfig.java)
  *  - `EXTERNAL` — `TABLE(EXTERN(...))` inputs surface as the fixed
  *    {"name":"EXTERNAL","type":"EXTERNAL"} resource
  *    (sql/.../external/ExternalOperatorConversion.java)
  *  - INFORMATION_SCHEMA tables are never resources (the reference's
  *    EXPLAIN of a metadata query reports `[]`).
  */
object PlannerResources {

  final case class ResourceAction(name: String, resourceType: String, action: String)

  def read(name: String, tpe: String): ResourceAction = ResourceAction(name, tpe, "READ")
  def write(name: String, tpe: String): ResourceAction = ResourceAction(name, tpe, "WRITE")

  // keyed per SparkSession (weak keys — a closed session's registry entry
  // must not outlive it, and view typing must not leak across sessions)
  private val viewNames =
    new java.util.WeakHashMap[SparkSession, java.util.Set[String]]()

  /** The ViewManager.createView analog (sql/.../view/InProcessViewManager
    * .java): registers the SELECT as a session temp view and records the
    * name so resource analysis, EXPLAIN, and INSERT validation type it as a
    * VIEW. The reference addresses views as `view.<name>`; this port
    * registers them unprefixed (session views), and `view.<name>`
    * references in analyzed-but-not-executed SQL resolve to the same
    * resource. */
  def createView(spark: SparkSession, name: String, selectSql: String): Unit = {
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW $name AS $selectSql")
    viewNames.synchronized {
      viewNames
        .computeIfAbsent(spark, _ => java.util.concurrent.ConcurrentHashMap.newKeySet[String]())
        .add(name.toLowerCase)
    }
  }

  def isView(spark: SparkSession, name: String): Boolean = viewNames.synchronized {
    val s = viewNames.get(spark)
    s != null && s.contains(name.toLowerCase)
  }

  /** Analyze the resources `sql` requires. Mirrors the reference's
    * authorization inputs: `context` keys become QUERY_CONTEXT writes under
    * `authorizeQueryContextParams`; `sys.*` becomes a SYSTEM_TABLE read
    * under `authorizeSysTables`. `EXPLAIN PLAN FOR` analyzes as its inner
    * statement; INSERT adds the target datasource as a WRITE. */
  def analyze(spark: SparkSession, sql: String,
      context: Map[String, Any] = Map.empty,
      authorizeSysTables: Boolean = false,
      authorizeQueryContextParams: Boolean = false): Set[ResourceAction] =
    resources(spark, SqlLifecycle.classify(sql), context, authorizeSysTables,
      authorizeQueryContextParams)

  /** [[analyze]] over an already-classified statement. */
  private[server] def resources(spark: SparkSession, statement: SqlLifecycle.Statement,
      context: Map[String, Any] = Map.empty,
      authorizeSysTables: Boolean = false,
      authorizeQueryContextParams: Boolean = false): Set[ResourceAction] = {
    def target(s: SqlLifecycle.Statement): (String, Option[String]) = s match {
      case e: SqlLifecycle.Explain => target(e.inner)
      case SqlLifecycle.Insert(ins) => (ins.selectSql, Some(ins.target))
      case SqlLifecycle.Query(q) => (q, None)
    }
    val (selectSql, writeTarget) = target(statement)

    var external = false
    // positional `?` parameters carry no resources — analysis replaces
    // them with an inert literal so the statement parses unbound (the
    // reference analyzes resources before parameters bind:
    // testDynamicParameters)
    val neutralized = graft.sources.SqlInsertDml.ExternRe.replaceAllIn(
      SqlLifecycle.replaceParameters(selectSql)(_ => "1"), _ => {
        external = true
        "__extern__"
      })

    val parsed = spark.sessionState.sqlParser.parsePlan(neutralized)
    val fromTables = collectRelations(parsed).filterNot(_ == Seq("__extern__"))

    // schema spellings are case-insensitive (Calcite resolves
    // INFORMATION_SCHEMA/sys/view/druid regardless of case; Spark's parser
    // preserves identifier case, so normalize before matching)
    val tableResources = fromTables.flatMap { parts =>
      (parts.map(_.toLowerCase), parts) match {
        case (Seq("information_schema", _), _) => None
        case (Seq("sys", _), Seq(_, t)) =>
          if (authorizeSysTables) Some(read(t, "SYSTEM_TABLE")) else None
        case (Seq("view", _), Seq(_, t)) => Some(read(t, "VIEW"))
        case (Seq("druid", _), Seq(_, t)) => Some(read(t, typeOf(spark, t)))
        case (Seq(_), Seq(t)) => Some(read(t, typeOf(spark, t)))
        case _ => Some(read(parts.mkString("."), "DATASOURCE"))
      }
    }
    val contextResources =
      if (authorizeQueryContextParams)
        context.keys.map(k => write(k, "QUERY_CONTEXT"))
      else Nil
    val writeResources =
      writeTarget.map(t => write(t, "DATASOURCE")).toSeq ++
        (if (external) Seq(read("EXTERNAL", "EXTERNAL")) else Nil)

    (tableResources ++ contextResources ++ writeResources).toSet
  }

  /** Relation names referenced FROM the plan, minus CTE aliases (a WITH
    * alias is plan-local, not a resource). */
  private def collectRelations(plan: LogicalPlan): Seq[Seq[String]] = {
    val cteAliases = plan.collectWithSubqueries {
      case w: UnresolvedWith => w.cteRelations.map(_._1.toLowerCase)
    }.flatten.toSet
    // collectWithSubqueries walks expression-level subqueries too (an
    // IN-subquery's relation is a resource: testSubquery, testSubqueryView)
    plan.collectWithSubqueries { case r: UnresolvedRelation => r.multipartIdentifier }
      .filterNot(parts => parts.length == 1 && cteAliases.contains(parts.head.toLowerCase))
      .map(_.map(_.toString))
      .distinct
  }

  private def typeOf(spark: SparkSession, name: String): String =
    if (isView(spark, name)) "VIEW"
    else {
      // SQL-created catalog views (SystemSchema's inline views and the like)
      // also surface as VIEW resources; everything else is a datasource
      val catalogView =
        try spark.catalog.getTable(name).tableType == "VIEW"
        catch { case _: Exception => false }
      if (catalogView) "VIEW" else "DATASOURCE"
    }
}
