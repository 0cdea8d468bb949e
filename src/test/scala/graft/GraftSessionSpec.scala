package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.json4s._
import org.json4s.jackson.JsonMethods
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

  private def post(port: Int, path: String, body: String): (Int, JValue) = {
    val client = HttpClient.newHttpClient()
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body))
      .header("Content-Type", "application/json")
      .build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), JsonMethods.parse(resp.body()))
  }

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
}
