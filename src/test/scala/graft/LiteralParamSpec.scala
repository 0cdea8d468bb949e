package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{In, Literal}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{CatalystBridge, ParamLiteral, ParamLiterals}
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.operators.NativeQuery
import graft.server.HttpFacade
import graft.sources.Sources

/** `ParamLiterals`: primitive literal operands of Filter and Project
  * expressions reach generated code through its `references` array, so a
  * query shape compiles once whatever its values, and every value still
  * gives the result interpreted evaluation gives. */
class LiteralParamSpec extends SparkSpecBase with AdaptiveSparkPlanHelper {
  import LiteralParamSpec._

  private def resolver: NativeQuery.Resolver = name => Sources.table(spark, sf(), name)

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Rows rendered exactly: -0.0, NaN and every timestamp keep their identity. */
  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case d: java.lang.Double => java.lang.Double.toString(d)
      case v => String.valueOf(v)
    }.mkString("|")).sorted.toSeq

  /** `df`'s rows with whole-stage codegen off and every expression interpreted. */
  private def interpreted(df: => DataFrame): Seq[String] = {
    val conf = spark.conf
    conf.set("spark.sql.codegen.wholeStage", "false")
    conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try canon(df)
    finally {
      conf.set("spark.sql.codegen.wholeStage", "true")
      conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  /** The parameters of an executed plan, adaptive stages included. */
  private def params(plan: SparkPlan): Seq[ParamLiteral] =
    flatMap(plan)(_.expressions.flatMap(_.collect { case p: ParamLiteral => p }))

  /** Granularity `all`: a bucketed timeseries zero-fills from a spine whose
    * plan varies with its bucket count under adaptive execution. */
  private def timeseries(end: String): DataFrame = NativeQuery.run(spark,
    s"""{"queryType": "timeseries", "dataSource": "lineitem", "timeColumn": "l_shipdate",
      "granularity": "all", "intervals": ["1995-01-01/$end"],
      "filter": {"type": "selector", "dimension": "l_returnflag", "value": "N"},
      "aggregations": [{"type": "count", "name": "n"},
        {"type": "doubleSum", "name": "q", "fieldName": "l_quantity"}]}""", resolver)

  test("ten native timeseries queries that differ only in their interval end " +
      "compile nothing after the first, and match interpreted evaluation") {
    val ends = (2 to 11).map(m => f"1995-$m%02d-01")
    val first = canon(timeseries(ends.head))
    val before = compiles
    val rest = ends.tail.map(e => canon(timeseries(e)))
    val added = compiles - before
    assert(added == 0, s"$added compiles after the first query; cached classes by kind: " +
      cachedClassKinds().toSeq.sortBy(-_._2).mkString(", "))
    (first +: rest).zip(ends).foreach { case (rows, end) =>
      assert(rows.nonEmpty)
      assert(rows == interpreted(timeseries(end)), s"interval end $end")
    }
  }

  test("edge literals give the interpreted results; a null literal stays a Literal") {
    val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z")
    def q = spark.range(0, 12).select(
        col("id"),
        (col("id") - 6).cast("int").as("i"),
        ((col("id") - 6) * lit(Long.MaxValue / 6)).as("l"),
        when(col("id") % 4 === 0, lit(Double.NaN)).when(col("id") % 4 === 1, lit(-0.0))
          .otherwise((col("id") - 6) / 2.0).as("d"),
        date_add(lit(java.sql.Date.valueOf("2024-01-01")), col("id").cast("int")).as("dt"),
        timestamp_seconds(lit(t0.getEpochSecond) + col("id") * 3600).as("ts"),
        timestamp_seconds(lit(t0.getEpochSecond) + col("id") * 3600)
          .cast("timestamp_ntz").as("ntz"),
        (col("id") % 3 === 0).as("b"))
      .where(col("l") =!= lit(Long.MinValue) || col("d") =!= lit(1.5))
      .select(col("id"),
        (col("d") === lit(Double.NaN)).as("nan_eq"),
        (col("d") * lit(-0.0)).as("times_neg_zero"),
        (col("d") > lit(-0.0)).as("gt_neg_zero"),
        (col("l") > lit(Long.MinValue)).as("gt_long_min"),
        (col("l") - lit(Long.MinValue)).as("minus_long_min"),
        (col("i") + lit(Int.MaxValue)).as("plus_int_max"),
        (col("dt") >= lit(java.sql.Date.valueOf("2024-01-05"))).as("date_ge"),
        (col("ts") < lit(java.sql.Timestamp.from(t0.plusSeconds(5 * 3600)))).as("ts_lt"),
        (col("ntz") < lit(java.time.LocalDateTime.parse("2024-01-01T03:00:00"))).as("ntz_lt"),
        (col("b") > lit(false)).as("bool_gt"),
        col("i").isin(1, 2, null).as("in_null"))
    val df = q
    val rows = canon(df)
    assert(rows.size == 12 && rows == interpreted(q))
    val plan = df.queryExecution.executedPlan
    val types = params(plan).map(_.dataType).toSet
    Seq(DoubleType, LongType, IntegerType, DateType, TimestampType, TimestampNTZType,
        BooleanType).foreach(t => assert(types(t), s"no $t parameter in\n$plan"))
    assert(params(plan).exists(p => p.literal.value.asInstanceOf[Any] match {
      case d: Double => d.isNaN
      case _ => false
    }))
    val inLists = plan.flatMap(_.expressions.flatMap(_.collect { case i: In => i.list }))
    assert(inLists.exists(_.exists {
      case Literal(null, IntegerType) => true
      case _ => false
    }), s"the null IN element is not a Literal in\n$plan")
  }

  test("the rule fires on an adaptive plan with an exchange and on a plain scan + " +
      "filter; exchange reuse keeps plans that differ in a value apart") {
    def branch(min: Long) = spark.range(0, 1000).where(col("id") > min)
      .groupBy((col("id") % 7).as("k")).count().select(lit(min).as("min"), sum("count"))
    val adaptive = branch(500).union(branch(900))
    assert(adaptive.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set(500L -> 499L, 900L -> 99L))
    val aqePlan = adaptive.queryExecution.executedPlan
    assert(aqePlan.isInstanceOf[AdaptiveSparkPlanExec])
    assert(Set[Any](500L, 900L).subsetOf(params(aqePlan).map(_.literal.value).toSet),
      aqePlan.toString)

    val scan = Sources.table(spark, sf(), "orders").where(col("o_custkey") < 100)
    assert(scan.count() == interpreted(scan.groupBy().count()).head.toLong)
    val plain = scan.queryExecution.executedPlan
    assert(!plain.isInstanceOf[AdaptiveSparkPlanExec], plain.toString)
    assert(params(plain).nonEmpty, plain.toString)
    // the scan's pushed filters keep real literals, so pruning and pushdown see them
    val files = plain.collect { case f: FileSourceScanExec => f }
    assert(files.nonEmpty && files.forall(f =>
      f.dataFilters.exists(_.exists(_.isInstanceOf[Literal])) &&
        !f.dataFilters.exists(_.exists(_.isInstanceOf[ParamLiteral]))), plain.toString)
  }

  test("a parameter's equality keeps its value bit for bit") {
    def p(v: Any, t: DataType) = ParamLiteral(Literal(v, t))
    assert(p(1L, LongType).canonicalized != p(2L, LongType).canonicalized)
    assert(p(1, IntegerType) != p(1L, LongType))
    assert(p(-0.0, DoubleType) != p(0.0, DoubleType))
    assert(p(Double.NaN, DoubleType) == p(Double.NaN, DoubleType))
    assert(p(7L, LongType).toString == Literal(7L).toString)
    assert(!p(7L, LongType).foldable && p(7L, LongType).eval() == 7L)
  }

  test("a session built with a plain builder and then configured holds the rule; " +
      "a state built before configure gets a WARN, its children get the rule") {
    val builder = () => {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.builder().getOrCreate()
    }
    val warnings = captureWarnings {
      try {
        val plain = GraftSession.configure(builder())
        assert(CatalystBridge.columnarRules(plain).contains(ParamLiterals))
        val early = builder()
        early.conf.get("spark.sql.session.timeZone") // builds the session state
        GraftSession.configure(early)
        assert(!CatalystBridge.columnarRules(early).contains(ParamLiterals))
        val child = GraftSession.configure(early.newSession())
        assert(CatalystBridge.columnarRules(child).contains(ParamLiterals))
      } finally {
        SparkSession.setDefaultSession(spark)
        SparkSession.setActiveSession(spark)
      }
    }
    assert(warnings.count(_.contains("state was built before configure")) == 1,
      warnings.mkString("\n"))
  }

  test("EXPLAIN PLAN FOR prints the same text with the rule as without it") {
    val fresh = GraftSession.configure(spark.newSession())
    Sources.table(fresh, sf(), "orders").createOrReplaceTempView("orders")
    val sql = "SELECT o_orderkey FROM orders WHERE o_custkey < 100 " +
      "AND o_orderdate >= TIMESTAMP '1995-01-01' AND o_totalprice * 2 > 1000.5D"
    val facade = HttpFacade.start(fresh, name => Sources.table(fresh, sf(), name))
    try {
      val (status, out) = post(facade.port, "/druid/v2/sql",
        JsonMethods.compact(JsonMethods.render(JObject("query" -> JString(s"EXPLAIN PLAN FOR $sql")))))
      assert(status == 200, JsonMethods.compact(JsonMethods.render(out)))
      val text = (out.asInstanceOf[JArray].arr.head \ "PLAN").asInstanceOf[JString].s
      val executed = fresh.sql(sql).queryExecution.executedPlan
      assert(params(executed).nonEmpty, executed.toString)
      val literals = executed.transformAllExpressions { case p: ParamLiteral => p.literal }
      assert(executed.treeString(false) == literals.treeString(false))
      // expression ids differ between the two analyses
      def ids(s: String) = s.replaceAll("#\\d+", "#").trim
      assert(ids(text).contains(ids(literals.treeString(false))),
        s"$text\n---\n${literals.treeString(false)}")
    } finally facade.stop()
  }

  test("every http_dashboard request shape runs on the façade with codegen " +
      "fallback off: a generated-code error throws instead of running interpreted") {
    val fresh = GraftSession.configure(spark.newSession())
    fresh.conf.set("spark.sql.codegen.fallback", "false")
    fresh.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    val live = java.nio.file.Files.createTempDirectory("live_events").resolve("t").toString
    fresh.range(0, 600).selectExpr(
        "timestamp_millis(1704067200000 + id * 997000) AS __time", "id % 150 AS user_id",
        "element_at(array('click', 'error', 'purchase', 'signup', 'view'), " +
          "CAST(id % 5 + 1 AS INT)) AS event_type",
        "(id * 37 % 50000) / 100.0D AS value")
      .write.parquet(live)
    fresh.read.parquet(live).createOrReplaceTempView("live_events")
    Seq("lineitem", "orders", "part").foreach(t =>
      Sources.table(fresh, sf(), t).createOrReplaceTempView(t))
    val facade = HttpFacade.start(fresh, {
      case "live_events" => fresh.table("live_events")
      case t => Sources.table(fresh, sf(), t)
    })
    try {
      val requests = dashboardSql.map(q => "/druid/v2/sql" ->
          JsonMethods.compact(JsonMethods.render(JObject("query" -> JString(q))))) ++
        dashboardNative.map("/druid/v2" -> _)
      requests.foreach { case (route, body) =>
        val (status, out) = post(facade.port, route, body)
        assert(status == 200, s"$body\n${JsonMethods.compact(JsonMethods.render(out))}")
        assert(out.isInstanceOf[JArray], body)
      }
    } finally {
      facade.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(live).getParentFile)
    }
  }

  private def post(port: Int, path: String, body: String): (Int, JValue) = {
    val resp = HttpClient.newHttpClient().send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body))
        .header("Content-Type", "application/json").build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), JsonMethods.parse(resp.body()))
  }
}

object LiteralParamSpec {
  /** The number of classes in Spark's codegen cache by kind: the generated
    * class name without its stage number (`GeneratedIteratorForCodegenStage`
    * for a whole stage, `SpecificUnsafeProjection`, `SpecificPredicate`, …). */
  def cachedClassKinds(): Map[String, Int] = {
    import org.apache.spark.sql.catalyst.expressions.codegen.{CodeAndComment, CodeGenerator}
    import scala.jdk.CollectionConverters._
    val cache = CodeGenerator.getClass.getDeclaredMethod("cache")
    cache.setAccessible(true)
    val kind = """new (\w+?)\d*\(references\)""".r
    val loading = cache.invoke(CodeGenerator)
    val guava = loading.getClass.getMethod("loadingCache").invoke(loading)
    Class.forName("org.sparkproject.guava.cache.Cache").getMethod("asMap").invoke(guava)
      .asInstanceOf[java.util.Map[(AnyRef, CodeAndComment), AnyRef]].keySet.asScala.toSeq
      .map(k => kind.findFirstMatchIn(k._2.body).map(_.group(1)).getOrElse("other"))
      .groupBy(k => k).map { case (k, v) => k -> v.size }
  }

  /** WARN messages `GraftSession` logs while `body` runs. */
  def captureWarnings(body: => Unit): Seq[String] = {
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val logger = org.apache.logging.log4j.LogManager.getLogger(GraftSession.getClass.getName)
      .asInstanceOf[CoreLogger]
    val level = logger.getLevel
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("literal-param-probe", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == org.apache.logging.log4j.Level.WARN)
          seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    logger.addAppender(appender)
    logger.setLevel(org.apache.logging.log4j.Level.WARN)
    try body
    finally {
      logger.removeAppender(appender)
      logger.setLevel(level)
      appender.stop()
    }
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
  }

  /** One query of each `http_dashboard` SQL shape, and the COUNT(*) that
    * follows its INSERTs. */
  val dashboardSql: Seq[String] = Seq(
    "SELECT event_type, COUNT(*) AS n, SUM(value) AS v FROM live_events " +
      "WHERE user_id < 57 GROUP BY event_type ORDER BY event_type",
    "SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS q, COUNT(*) AS n FROM lineitem " +
      "WHERE l_suppkey = 3 GROUP BY l_returnflag, l_linestatus ORDER BY 1, 2",
    "SELECT o_orderpriority, COUNT(*) AS n, SUM(o_totalprice) AS t FROM orders " +
      "WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01' " +
      "AND o_custkey < 400 GROUP BY o_orderpriority ORDER BY 1",
    "SELECT p_brand, COUNT(*) AS n, AVG(p_retailprice) AS p FROM part " +
      "WHERE p_size = 12 GROUP BY p_brand ORDER BY 1",
    "SELECT COUNT(*) AS n FROM live_events")

  /** One query of each `http_dashboard` native shape. */
  val dashboardNative: Seq[String] = Seq(
    """{"queryType": "timeseries", "dataSource": "live_events", "granularity": "hour",
      "intervals": ["2024-01-01/2024-01-04"],
      "aggregations": [{"type": "count", "name": "n"}, {"type": "doubleSum", "name": "v", "fieldName": "value"}]}""",
    """{"queryType": "topN", "dataSource": "live_events", "dimension": "event_type", "metric": "n",
      "threshold": 3, "filter": {"type": "bound", "dimension": "user_id", "upper": "57", "ordering": "numeric"},
      "aggregations": [{"type": "count", "name": "n"}]}""",
    """{"queryType": "timeseries", "dataSource": "lineitem", "timeColumn": "l_shipdate",
      "granularity": "week", "intervals": ["1995-04-01/1996-01-01"],
      "filter": {"type": "selector", "dimension": "l_returnflag", "value": "R"},
      "aggregations": [{"type": "count", "name": "n"}, {"type": "doubleSum", "name": "q", "fieldName": "l_quantity"}]}""",
    """{"queryType": "topN", "dataSource": "lineitem", "timeColumn": "l_shipdate", "dimension": "l_suppkey",
      "metric": "revenue", "threshold": 10, "intervals": ["1996-01-01/1997-01-01"],
      "aggregations": [{"type": "doubleSum", "name": "revenue", "fieldName": "l_extendedprice"}]}""",
    """{"queryType": "groupBy", "dataSource": "lineitem", "timeColumn": "l_shipdate",
      "dimensions": ["l_returnflag", "l_linestatus"],
      "filter": {"type": "bound", "dimension": "l_suppkey", "upper": "40", "ordering": "numeric"},
      "aggregations": [{"type": "count", "name": "n"}, {"type": "doubleSum", "name": "q", "fieldName": "l_quantity"}]}""",
    """{"queryType": "scan", "dataSource": "orders", "timeColumn": "o_orderdate",
      "columns": ["o_orderkey", "o_totalprice", "o_orderpriority"],
      "filter": {"type": "selector", "dimension": "o_custkey", "value": "370"}, "limit": 20}""",
    """{"queryType": "search", "dataSource": "part", "timeColumn": "p_partkey", "searchDimensions": ["p_name"],
      "query": {"type": "insensitive_contains", "value": "blue"}}""",
    """{"queryType": "timeBoundary", "dataSource": "orders", "timeColumn": "o_orderdate"}""")
}
