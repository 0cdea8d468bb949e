package graft.server

import java.time.{Instant, LocalDateTime, ZoneId, ZoneOffset}
import java.time.format.DateTimeFormatter
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedExecuteImmediate,
  UnresolvedFunction, UnresolvedRelation}
import org.apache.spark.sql.catalyst.plans.logical.{Command, InsertIntoDir, InsertIntoStatement,
  LogicalPlan, UnresolvedWith}
import org.apache.spark.sql.graftbridge.CatalystBridge
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.sources.SqlInsertDml

/** The one SQL statement path behind both SQL transports — the reference's
  * SqlLifecycle (parse → validate → plan → execute), which SqlResource
  * (`/druid/v2/sql`) and DruidMeta (Avatica/JDBC) both drive. Each
  * transport binds parameters, classifies the statement once, and runs it
  * through the steps below; what stays per transport is its wire format
  * (and, on `/druid/v2/sql`, the plan and result caches wrapped around
  * [[plan]]). Nothing here knows which transport called it. */
object SqlLifecycle {

  /** A statement, classified once per request. */
  sealed trait Statement {
    /** The relation names it reads: subqueries and CTE bodies included, CTE
      * aliases and EXTERN inputs not. Forces the parse: call inside
      * [[scoped]], whose zone the parse reads. */
    def relations: Seq[Seq[String]]
  }
  /** `EXPLAIN PLAN FOR <sql>`. The inner statement is classified on first
    * use, so preparing an EXPLAIN never parses the INSERT inside it. */
  final case class Explain(sql: String)(spark: SparkSession) extends Statement {
    lazy val inner: Statement = classify(spark, sql)
    def relations: Seq[Seq[String]] = inner.relations
  }
  /** Druid INSERT DML. Its SELECT, EXTERN inputs rewritten to temp views,
    * is parsed once, on first use: planned by [[SqlInsertDml.run]] and
    * explained by [[explainRows]]. */
  final case class Insert(stmt: SqlInsertDml.InsertStatement)(spark: SparkSession)
      extends Statement {
    lazy val select: LogicalPlan = parse(spark, SqlInsertDml.rewriteExtern(spark, stmt.selectSql))
    lazy val relations: Seq[Seq[String]] = {
      val externs = SqlInsertDml.externViews(stmt.selectSql)
      relationsOf(planNodes(select)).filterNot(r => r.length == 1 && externs(r.head))
    }
  }
  /** Anything else: parsed once, on first use, and planned by Catalyst from
    * that parse. The parsed plan answers what the routes ask of a
    * statement; no text test does. */
  final case class Query(sql: String)(spark: SparkSession) extends Statement {
    lazy val parsed: LogicalPlan = parse(spark, sql)
    private lazy val nodes = planNodes(parsed)
    /** No write anywhere in the tree: planning a command executes it, and
      * a `WITH … INSERT`, an `INSERT OVERWRITE DIRECTORY` or an `EXECUTE
      * IMMEDIATE` (whose text may hold a command) is one too. */
    lazy val isQuery: Boolean = !nodes.exists {
      case _: Command | _: InsertIntoStatement | _: InsertIntoDir |
           _: UnresolvedExecuteImmediate => true
      case _ => false
    }
    lazy val relations: Seq[Seq[String]] = relationsOf(nodes)
    /** Some relation lives in `sys` or `information_schema`. */
    def readsMetadata: Boolean = relations.exists(SystemSchema.metadataSchema(_).isDefined)
    /** A current-time function or keyword appears among the parsed
      * expressions (ComputeCurrentTime would freeze it into a cached plan). */
    lazy val readsClock: Boolean = nodes.flatMap(_.expressions).exists(_.exists {
      case f: UnresolvedFunction => clockCall(f.nameParts.last, f.arguments.isEmpty)
      // the bare keywords (CURRENT_DATE, CURRENT_TIMESTAMP) parse as
      // attributes under the engine dialect, resolved by name later
      case a: UnresolvedAttribute => a.nameParts.length == 1 && clockCall(a.name, noArgs = true)
      case _ => false
    })
  }

  /** The functions that read the clock at evaluation time;
    * `unix_timestamp` only without arguments. */
  private def clockCall(name: String, noArgs: Boolean): Boolean =
    name.toLowerCase(java.util.Locale.ROOT) match {
      case "now" | "current_timestamp" | "current_date" | "current_time" | "localtimestamp" |
           "curdate" => true
      case "unix_timestamp" => noArgs
      case _ => false
    }

  private val ExplainRe = "(?is)\\s*EXPLAIN\\s+PLAN\\s+FOR\\s+(.*)".r

  /** The request's one EXPLAIN match and one INSERT parse. */
  def classify(spark: SparkSession, sql: String): Statement = sql match {
    case ExplainRe(inner) => Explain(inner)(spark)
    case _ => SqlInsertDml.parse(sql).fold[Statement](Query(sql)(spark))(Insert(_)(spark))
  }

  /** The one parse of request SQL, as `spark.sql` parses it. */
  def parse(spark: SparkSession, sql: String): LogicalPlan = CatalystBridge.parsePlan(spark, sql)

  /** Every node of a parsed plan, expression subqueries and CTE bodies
    * included (a CTE body is not a child of its UnresolvedWith). */
  private def planNodes(plan: LogicalPlan): Seq[LogicalPlan] =
    plan.collectWithSubqueries {
      case w: UnresolvedWith => w +: w.cteRelations.flatMap(r => planNodes(r._2))
      case p => Seq(p)
    }.flatten

  /** The relation names among a parsed plan's nodes, minus CTE aliases (a
    * WITH alias is plan-local, not a relation). */
  private def relationsOf(nodes: Seq[LogicalPlan]): Seq[Seq[String]] = {
    val cteAliases =
      nodes.collect { case w: UnresolvedWith => w.cteRelations.map(_._1.toLowerCase) }.flatten.toSet
    nodes.collect { case r: UnresolvedRelation => r.multipartIdentifier }
      .filterNot(parts => parts.length == 1 && cteAliases(parts.head.toLowerCase)).distinct
  }

  /** The planner knobs a request context sets (PlannerContext /
    * PlannerConfig keys), read once. Avatica connections pass the empty
    * context. */
  final class PlannerContext(context: JValue) {
    private def flag(k: String, default: Boolean) = (context \ k) match {
      case JBool(b) => b; case _ => default
    }
    // context-parameter validation (reference: QueryContexts.java —
    // maxNumericInFilters must be positive and may not exceed the system
    // cap of 100)
    val maxNumericInFilters: Option[Int] = (context \ "maxNumericInFilters") match {
      case JInt(n) if n <= 0 =>
        throw new IllegalArgumentException("[maxNumericInFilters] must be greater than 0")
      case JInt(n) if n > 100 =>
        throw new IllegalArgumentException(
          "Expected parameter[maxNumericInFilters] cannot exceed system set value of [100]")
      case JInt(n) => Some(n.toInt)
      case _ => None
    }
    // PlannerContext.CTX_SQL_TIME_ZONE: evaluate AND render in the query's
    // zone (SqlResourceTest.testTimestampsInResponseLosAngelesTimeZone
    // expects "1999-12-31T16:00:00.000-08:00")
    val sqlTimeZone: Option[ZoneId] = (context \ "sqlTimeZone") match {
      case JString(z) => Some(ZoneId.of(z)); case _ => None
    }
    // PlannerContext.CTX_SQL_OUTER_LIMIT: cap the outermost result —
    // consoles set it to bound ad-hoc queries without editing the SQL
    val sqlOuterLimit: Option[Int] = (context \ "sqlOuterLimit") match {
      case JInt(n) => Some(n.toInt); case JLong(n) => Some(n.toInt); case _ => None
    }
    // PlannerConfig.useApproximateCountDistinct — COUNT(DISTINCT) plans to
    // an HLL++ estimate (opt-in here; the engine's default stays exact)
    val useApproximateCountDistinct: Boolean = flag("useApproximateCountDistinct", false)
    val requireTimeCondition: Boolean = flag("requireTimeCondition", false)
    // GroupByQueryConfig.CTX_KEY_ENABLE_MULTI_VALUE_UNNESTING (default true)
    val groupByEnableMultiValueUnnesting: Boolean = flag("groupByEnableMultiValueUnnesting", true)
  }

  /** Run `body` in the statement's planning scope: the context's
    * sqlTimeZone ([[SessionScope]]), then the snapshots of the metadata
    * schemas the statement reads refreshed. The statement is parsed here,
    * inside the scope, since the parser reads the zone (a TIMESTAMP
    * literal is an instant in it). Execution must run inside the scope
    * too, so runtime casts and renders see the same zone. The engine's
    * dialect (lenient casts, wrapping arithmetic) and functions are the
    * session's own (`GraftSession.configure`). */
  def scoped[A](spark: SparkSession, statement: Statement, ctx: PlannerContext)(body: => A): A =
    SessionScope.run(spark, ctx.sqlTimeZone) {
      SystemSchema.refreshFor(spark, statement.relations)
      body
    }

  /** The one session-conf write a request makes: its own sqlTimeZone. The
    * server runs requests on a thread pool and two zones cannot share one
    * session, so every query the façade and Avatica run — native, SQL,
    * INSERT — runs in this scope: shared when it sets no zone, exclusive
    * when it does. No request plans or executes under another request's
    * zone. */
  private[server] object SessionScope {
    private val rw = new java.util.concurrent.locks.ReentrantReadWriteLock

    def run[A](spark: SparkSession, zone: Option[ZoneId])(body: => A): A = {
      val lock = if (zone.isDefined) rw.writeLock else rw.readLock
      lock.lock()
      val prevZone = zone.map { z =>
        val prev = spark.conf.getOption("spark.sql.session.timeZone")
        spark.conf.set("spark.sql.session.timeZone", z.getId)
        prev
      }
      try body finally {
        prevZone.foreach {
          case Some(v) => spark.conf.set("spark.sql.session.timeZone", v)
          case None => spark.conf.unset("spark.sql.session.timeZone")
        }
        lock.unlock()
      }
    }
  }

  /** Plan a query: Catalyst, then the context's approximate count-distinct
    * rewrite and outer limit. Call inside [[scoped]]. The malformed-time-
    * literal check runs here too: the analysis check `configure` installs
    * misses a session whose analyzer was built before it. */
  def plan(spark: SparkSession, query: Query, ctx: PlannerContext): DataFrame = {
    val df = CatalystBridge.ofRows(spark, query.parsed)
    graft.plans.PlannerChecks.illegalTimeLiterals(df.queryExecution.analyzed)
    val approx =
      if (ctx.useApproximateCountDistinct) graft.plans.PlannerChecks.approximateCountDistinct(df)
      else df
    ctx.sqlOuterLimit.fold(approx)(approx.limit)
  }

  /** The context's plan checks; a planned DataFrame must pass them before
    * it executes (a cached plan included). */
  def check(df: DataFrame, ctx: PlannerContext): Unit = {
    if (ctx.requireTimeCondition) graft.plans.PlannerChecks.requireTimeCondition(df)
    if (!ctx.groupByEnableMultiValueUnnesting)
      graft.plans.PlannerChecks.requireNoMultiValueUnnesting(df)
    ctx.maxNumericInFilters.foreach(graft.plans.PlannerChecks.requireMaxNumericInFilters(df, _))
  }

  /** INSERT DML routes through the ingest path; the published row count is
    * the statement's update count (the write is synchronous here, where the
    * reference hands back an ingest task handle). */
  def insert(spark: SparkSession, ins: Insert): Long = SqlInsertDml.run(spark, ins).count()

  /** The EXPLAIN result columns (DruidPlanner.getExplainStructType,
    * DruidPlanner.java:669). */
  val ExplainColumns: Seq[HttpFacade.ColMeta] = Seq(
    HttpFacade.ColMeta("PLAN", Some("STRING"), "VARCHAR"),
    HttpFacade.ColMeta("RESOURCES", Some("STRING"), "VARCHAR"))

  /** `EXPLAIN PLAN FOR <sql>`: one row with PLAN + RESOURCES. PLAN is the
    * Catalyst plan (this engine's native form, where the reference embeds
    * its native JSON); RESOURCES lists the referenced datasources as the
    * reference's resource-action JSON string. Call inside [[scoped]]. */
  def explainRows(spark: SparkSession, explain: Explain): Seq[JObject] = {
    // resource collection (typing, sys/metadata exclusion, INSERT write
    // targets, EXTERN) lives in PlannerResources — the same set the
    // reference's authorizer sees
    val resourceSet = PlannerResources.resources(spark, explain.inner)
    // `EXPLAIN PLAN FOR INSERT ...` explains the inner SELECT's plan (the
    // reference renders the underlying scan query: CalciteInsertDmlTest
    // .testExplainInsertFromExternal)
    val explained = CatalystBridge.ofRows(spark, explain.inner match {
      case ins: Insert => ins.select
      case q: Query => q.parsed
      case _: Explain => parse(spark, explain.sql) // a nested EXPLAIN: Spark's parse error
    })
    val plan = explained.queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode).trim
    val resources = JsonMethods.compact(JsonMethods.render(JArray(
      resourceSet.toList.sortBy(r => (r.name, r.resourceType))
        .map(r => JObject("name" -> JString(r.name), "type" -> JString(r.resourceType))))))
    Seq(JObject("PLAN" -> JString(plan), "RESOURCES" -> JString(resources)))
  }

  /** Bind positional `?` placeholders to typed parameter literals — the
    * reference's prepared-statement path (SqlQuery.java getParameterList →
    * Calcite TypedValue binding). Literal rendering by declared SQL type; a
    * null entry is an explicitly-unbound position. A `?` inside a string
    * literal, a `--` line comment or a block comment is left alone. */
  def bindParameters(sql: String, params: Seq[(String, JValue)]): String = {
    if (params.isEmpty) return sql
    val out = new StringBuilder
    var inString = false
    var inComment = false
    var inBlock = false
    var next = 0
    var i = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (inBlock) {
        out.append(c)
        if (c == '*' && i + 1 < sql.length && sql.charAt(i + 1) == '/') {
          out.append('/'); i += 1; inBlock = false
        }
      } else if (inComment) {
        out.append(c); if (c == '\n') inComment = false
      } else if (inString) {
        out.append(c); if (c == '\'') inString = false
      } else c match {
        case '\'' => inString = true; out.append(c)
        case '-' if i + 1 < sql.length && sql.charAt(i + 1) == '-' =>
          inComment = true; out.append(c)
        case '/' if i + 1 < sql.length && sql.charAt(i + 1) == '*' =>
          inBlock = true; out.append("/*"); i += 1
        case '?' =>
          // the reference's unbound-parameter surface (SqlPlanningException,
          // 0-indexed position: CalciteParameterQueryTest
          // .testPartiallyMissingParameter expects position[1])
          if (next >= params.length || params(next) == null)
            throw new IllegalArgumentException(s"Parameter at position[$next] is not bound")
          out.append(literal(params(next))); next += 1
        case other => out.append(other)
      }
      i += 1
    }
    out.toString
  }

  private def literal(p: (String, JValue)): String = {
    val (tpe, v) = p
    def str = v match {
      case JString(s) => s
      case JInt(n) => n.toString
      case JLong(n) => n.toString
      case JDouble(d) => d.toString
      case JDecimal(d) => d.toString
      case JBool(b) => b.toString
      case other => throw new IllegalArgumentException(s"parameter value: $other")
    }
    v match {
      case JNull => "NULL"
      case _ => tpe match {
        case "VARCHAR" | "CHAR" => "'" + str.replace("'", "''") + "'"
        case "INTEGER" | "BIGINT" | "SMALLINT" | "TINYINT" =>
          BigDecimal(str).toBigInt.toString
        case "FLOAT" | "REAL" | "DOUBLE" | "DECIMAL" | "NUMERIC" =>
          BigDecimal(str).toString
        case "BOOLEAN" => str.toBoolean.toString
        case "TIMESTAMP" =>
          // Druid accepts epoch-millis TIMESTAMP parameters
          // (CalciteParameterQueryTest.java:374 binds DateTimes millis)
          val s = v match {
            case JInt(_) | JLong(_) =>
              LocalDateTime.ofInstant(Instant.ofEpochMilli(str.toLong), ZoneOffset.UTC)
                .format(DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
            case _ => str
          }
          "TIMESTAMP '" + s.replace("'", "''") + "'"
        case "DATE" => "DATE '" + str.replace("'", "''") + "'"
        case other => throw new IllegalArgumentException(s"parameter type: $other")
      }
    }
  }
}
