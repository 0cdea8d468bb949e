package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import graft.operators.NativeQuery
import graft.server.HttpFacade
import graft.sources.Sources

/** Engine session defaults are a LIBRARY concern: `GraftSession.configure`
  * must reach the server surface, so a default-config embedder session
  * keeps the ObjectHashAggregate guarantee for the first/last/any fold
  * family and the sketches (Spark's default sort-based fallback threshold
  * is 128 in-memory keys per partition). */
class GraftSessionSpec extends SparkSpecBase {

  private val thresholdKey =
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"

  /** A session riding Spark defaults — what an embedder passes in. */
  private def defaultConfigSession() = {
    val s = spark.newSession()
    GraftSession.defaults.foreach { case (k, _) => s.conf.unset(k) }
    s.conf.unset("spark.graft.sessionDefaultsApplied")
    s
  }

  private def request(port: Int, path: String, body: String): HttpRequest =
    HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body))
      .header("Content-Type", "application/json")
      .build()

  private def post(port: Int, path: String, body: String): (Int, JValue) = {
    val resp = HttpClient.newHttpClient()
      .send(request(port, path, body), HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), JsonMethods.parse(resp.body()))
  }

  /** A one-row native scan of `m + 1` over an inline `m`. */
  private def plusOneScan(m: Long): String =
    s"""{"queryType": "scan",
      "dataSource": {"type": "inline", "columnNames": ["m"], "columnTypes": ["LONG"],
        "rows": [[$m]]},
      "virtualColumns": [{"type": "expression", "name": "v", "expression": "m + 1",
        "outputType": "LONG"}],
      "columns": ["v"]}"""

  test("local(cpus) is the one local session shape: local[cpus], as many shuffle " +
      "partitions, UI off, nanos read as long, engine defaults applied") {
    // the spec session is GraftSession.local(4)
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.conf.get("spark.graft.sessionDefaultsApplied") == "true")
    // launchers default to SPARK_GRAFT_CPUS, else every core
    assert(GraftSession.defaultCpus == sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors))
  }

  test("configure raises defaults, keeps explicit embedder settings, and is idempotent") {
    val s = defaultConfigSession()
    assert(s.conf.get(thresholdKey) == "128") // genuinely default-config
    s.conf.set("spark.sql.session.timeZone", "America/Los_Angeles") // embedder's choice
    GraftSession.configure(s)
    assert(s.conf.get(thresholdKey) == "1000000")
    assert(s.conf.get("spark.sql.parquet.aggregatePushdown") == "true")
    // explicit settings are NOT clobbered
    assert(s.conf.get("spark.sql.session.timeZone") == "America/Los_Angeles")
    // idempotent: a later explicit change survives re-configure
    s.conf.set(thresholdKey, "4096")
    GraftSession.configure(s)
    assert(s.conf.get(thresholdKey) == "4096")
  }

  test("configure sets the dialect keys over an explicit embedder setting") {
    val s = defaultConfigSession()
    s.conf.set("spark.sql.ansi.enabled", "true")
    s.conf.set("spark.sql.legacy.sizeOfNull", "true")
    GraftSession.configure(s)
    assert(s.conf.get("spark.sql.ansi.enabled") == "false")
    assert(s.conf.get("spark.sql.legacy.sizeOfNull") == "false")
    assert(s.sql("SELECT size(CAST(NULL AS ARRAY<INT>)), CAST('x' AS INT)").head().toSeq ==
      Seq(null, null))
  }

  test(">128-distinct-group EARLIEST through the HTTP facade on a DEFAULT-config " +
      "session executes as ObjectHashAggregate with the raised fallback threshold") {
    val fresh = defaultConfigSession()
    assert(fresh.conf.get(thresholdKey) == "128")
    // capture the plans the facade actually executes on this session
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    fresh.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ex: Exception): Unit = ()
    })
    val facade = HttpFacade.start(fresh, name => Sources.table(fresh, sf(), name))
    try {
      Sources.table(fresh, sf(), "orders").createOrReplaceTempView("orders")
      // facade initialization is where the engine takes session ownership
      assert(fresh.conf.get(thresholdKey) == "1000000")
      assert(fresh.conf.get("spark.sql.session.timeZone") == "UTC")
      // o_orderkey: 1500 distinct groups at sf0.001 — far past the 128-key
      // default that would silently sort-fall-back mid-task
      val (status, out) = post(facade.port, "/druid/v2/sql",
        """{"query": "SELECT o_orderkey, EARLIEST(o_totalprice, o_orderdate) AS first_price FROM orders GROUP BY o_orderkey"}""")
      assert(status == 200, s"HTTP $status: ${JsonMethods.compact(JsonMethods.render(out))}")
      assert(out.asInstanceOf[JArray].arr.size > 128)
      // QueryExecutionListener delivery is async — poll for the agg plan
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      import scala.jdk.CollectionConverters._
      def aggPlan: Option[String] =
        plans.asScala.find(_.contains("earliest_fold"))
      while (aggPlan.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      val plan = aggPlan.getOrElse(fail("no executed EARLIEST plan captured"))
      assert(plan.contains("ObjectHashAggregate"), s"EARLIEST not hash-planned:\n$plan")
      assert(!plan.contains("SortAggregate"), s"EARLIEST fell back to sort:\n$plan")
    } finally facade.stop()
  }

  test("one dialect on a fresh configured session: native long arithmetic wraps") {
    val fresh = GraftSession.configure(spark.newSession())
    val rows = NativeQuery.run(fresh, plusOneScan(Long.MaxValue),
      (_: String) => fail("no table datasource")).collect()
    assert(rows.map(r => r.getLong(r.fieldIndex("v"))).toSeq == Seq(Long.MinValue))
  }

  test("a fresh configured session unrolls a SQL HOF over a literal array before " +
      "any native query has run") {
    val fresh = GraftSession.configure(spark.newSession())
    val df = fresh.sql(
      "SELECT aggregate(array(id, id * 2, 3L), 0L, (acc, x) -> acc + x) AS t FROM range(3)")
    val hofs = df.queryExecution.optimizedPlan.collect {
      case p if p.expressions.exists(_.exists(_.isInstanceOf[HigherOrderFunction])) => p
    }
    assert(hofs.isEmpty, s"HOF not unrolled:\n${df.queryExecution.optimizedPlan}")
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(3L, 6L, 9L))
  }

  test("ARRAY_LENGTH / MV_LENGTH of a null array are null on /druid/v2/sql") {
    val fresh = GraftSession.configure(spark.newSession())
    val facade = HttpFacade.start(fresh, name => Sources.table(fresh, sf(), name))
    try {
      val (status, out) = post(facade.port, "/druid/v2/sql",
        """{"query": "SELECT ARRAY_LENGTH(a) AS n, MV_LENGTH(a) AS m FROM VALUES (array('x')), (CAST(NULL AS ARRAY<STRING>)) AS t(a)",
          "resultFormat": "array"}""")
      assert(status == 200, JsonMethods.compact(JsonMethods.render(out)))
      assert(JsonMethods.compact(JsonMethods.render(out)) == "[[1,1],[null,null]]")
    } finally facade.stop()
  }

  test("/druid/v2/sql rejects a malformed time literal in a comparison; an explicit " +
      "CAST keeps its null") {
    val fresh = GraftSession.configure(spark.newSession())
    val facade = HttpFacade.start(fresh, name => Sources.table(fresh, sf(), name))
    def count(where: String) = post(facade.port, "/druid/v2/sql",
      s"""{"query": "SELECT COUNT(*) AS c FROM VALUES (TIMESTAMP '2000-01-02 00:00:00') AS t(__time) WHERE $where",
        "resultFormat": "array"}""")
    try {
      val (status, out) = count("__time >= 'z2000-01-01 00:00:00'")
      val body = JsonMethods.compact(JsonMethods.render(out))
      assert(status != 200 && body.contains("Illegal TIMESTAMP constant: 'z2000-01-01 00:00:00'"),
        s"HTTP $status: $body")
      val (castStatus, castOut) = count("__time >= CAST('z2000-01-01 00:00:00' AS TIMESTAMP)")
      assert(castStatus == 200 &&
        JsonMethods.compact(JsonMethods.render(castOut)) == "[[0]]", s"HTTP $castStatus")
      assert(count("__time >= '2000-01-01 00:00:00'")._2 == JArray(List(JArray(List(JInt(1))))))
    } finally facade.stop()
  }

  test("a native façade request waits for an exclusive sqlTimeZone scope instead of " +
      "running inside it") {
    import GraftSessionSpec.{entered, release}
    val fresh = GraftSession.configure(spark.newSession())
    // executed by the SQL request, inside its exclusive zone scope (the
    // latches are static: a task runs a deserialized copy of the closure)
    fresh.udf.register("hold_zone_scope", org.apache.spark.sql.functions.udf { () =>
      entered.countDown()
      release.await(60, java.util.concurrent.TimeUnit.SECONDS)
      1
    }.asNondeterministic())
    val facade = HttpFacade.start(fresh, name => Sources.table(fresh, sf(), name))
    val client = HttpClient.newHttpClient()
    try {
      val sql = client.sendAsync(request(facade.port, "/druid/v2/sql",
        """{"query": "SELECT hold_zone_scope() AS h",
          "context": {"sqlTimeZone": "America/Los_Angeles"}}"""),
        HttpResponse.BodyHandlers.ofString())
      assert(entered.await(60, java.util.concurrent.TimeUnit.SECONDS),
        s"SQL request never ran: ${Option(sql.getNow(null)).map(_.body())}")
      val native = client.sendAsync(request(facade.port, "/druid/v2", plusOneScan(1L)),
        HttpResponse.BodyHandlers.ofString())
      Thread.sleep(1500)
      assert(!native.isDone, s"native request ran inside another request's zone scope: " +
        s"${Option(native.getNow(null)).map(_.body())}")
      release.countDown()
      val nativeResp = native.get(60, java.util.concurrent.TimeUnit.SECONDS)
      assert(nativeResp.statusCode() == 200, nativeResp.body())
      assert(sql.get(60, java.util.concurrent.TimeUnit.SECONDS).statusCode() == 200)
      // the zone scope restored the session's own zone
      assert(fresh.conf.get("spark.sql.session.timeZone") == "UTC")
    } finally {
      release.countDown()
      facade.stop()
    }
  }
}

object GraftSessionSpec {
  val entered = new java.util.concurrent.CountDownLatch(1)
  val release = new java.util.concurrent.CountDownLatch(1)
}
