package graft.server

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.time.{Instant, LocalDate, LocalDateTime, ZoneId, ZoneOffset}
import java.time.format.DateTimeFormatter
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.operators.{DruidTime, NativeQuery}
import graft.sources.{BatchIngest, LookupRegistry}
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

/** Thin HTTP query façade — the reference's actual entry points
  * (sql/.../http/SqlResource.java:73 `/druid/v2/sql`,
  * server/.../QueryResource.java:90 `/druid/v2`), so a reference user can
  * POST the same request bodies at this engine:
  *
  *  - POST /druid/v2        body = a native JSON query → per-query-type
  *                          result envelopes (below)
  *  - POST /druid/v2/sql    body = {"query": "...", "resultFormat":
  *                          "object" (default) | "array" | "objectLines" |
  *                          "arrayLines" | "csv", "header": bool,
  *                          "typesHeader": bool, "sqlTypesHeader": bool,
  *                          "parameters": [...]} or a bare SQL string
  *
  * SQL responses mirror ResultFormat.java's writers byte-for-byte where the
  * engines' value renderings agree: object/array are one JSON array ending
  * in LF (ObjectWriter/ArrayWriter.writeResponseEnd), the Lines formats put
  * one JSON value per line and terminate with a blank line, csv quotes
  * RFC-4180-style and also terminates with a blank line (CsvWriter.java:63
  * "an extra blank line, so users can tell the response was not cut off").
  * header=true emits the column-name header; typesHeader/sqlTypesHeader add
  * the Druid-type and SQL-type rows (ArrayWriter) or nest
  * {"type","sqlType"} objects per column (ObjectWriter.writeHeader).
  * Errors return the reference's QueryException JSON {error, errorMessage,
  * errorClass, host} with 400 for planning errors (SqlPlanningException:
  * "SQL parse failed" / "Plan validation failed") and 500 otherwise; every
  * SQL response carries X-Druid-SQL-Query-Id (SqlResource.java:75), taken
  * from context.sqlQueryId when set.
  *
  * Native results carry the reference's per-query-type envelopes
  * (the result examples under docs/querying, `*QueryQueryToolChest.java`):
  * timeseries rows nest as `{"timestamp", "result": {...}}` (grand-total
  * row: null timestamp), topN and search as one `{"timestamp", "result":
  * [...]}` bucket, groupBy as `{"version": "v1", "timestamp", "event":
  * {...}}`, timeBoundary/dataSourceMetadata as `{"timestamp", "result":
  * {...}}`, scan as `{"segmentId": null, "columns", "events"}` honoring
  * list/compactedList resultFormats (segments are not a query-time concept
  * here; the reference itself nulls segmentId under time ordering),
  * segmentMetadata as one merged SegmentAnalysis object with a per-column
  * ColumnAnalysis map. SQL supports
  * `EXPLAIN PLAN FOR ...`
  * (DruidPlanner.java:669 — one row with PLAN + RESOURCES columns; the plan
  * text here is Spark's, since Catalyst is the planner).
  *
  * This is a DRIVER-side convenience for parity testing and small result
  * sets (the reference's broker has the same materialize-at-broker shape);
  * `maxResultRows` bounds the driver materialization — results past the cap
  * fail loudly instead of OOMing. Large exports should write through a sink.
  */
object HttpFacade {

  final class Facade(server: HttpServer, val requestLog: RequestLog,
      val planCache: QueryCache[DataFrame], val resultCache: QueryCache[String]) {
    def port: Int = server.getAddress.getPort
    def stop(): Unit = server.stop(0)
  }

  /** The generation-keyed LRU behind both façade caches:
    *
    *  - the PLAN cache holds compiled DataFrames (What's-wrong r8 #2: the
    *    tiny-query latency floor is plan construction + analysis + codegen
    *    of large comparator expression trees, constant at any data scale —
    *    a repeated query shape should not pay it twice). Execution always
    *    runs; Spark's codegen cache then reuses the generated classes.
    *  - the RESULT cache holds rendered response payloads (the reference's
    *    broker-level result cache, CachingClusteredClient.java:506-537 +
    *    CacheStrategy). Per-query `context` flags `useCache` /
    *    `populateCache` opt out (CacheUtil.isUseResultCache
    *    /isPopulateResultCache — Druid's broker defaults both true when the
    *    cache is configured), and values failing `fits` are not stored (the
    *    reference's `cache.resultLevelCacheLimit`).
    *
    * Keys include the lookup registry's generation, so a lookup update
    * invalidates every entry. Each entry also records the ingest
    * generations (BatchIngest.generations) of the datasource keys its build
    * read, taken from a snapshot made before the build, and a hit needs
    * every one of them still current: an in-process write, INSERT,
    * compaction or spec registration retires only the entries that read
    * its datasource (the reference's CachingClusteredClient keys on
    * segment identifiers the same way), and a write that lands during a
    * build leaves that entry stale, never wrong. A build reports what it
    * read through [[QueryCache.read]]; a nested lookup (the plan cache
    * inside a result-cache build) passes its keys, hit or miss, to the
    * enclosing build. The generations only see IN-PROCESS writes — data
    * rewritten by an external writer (a direct spark write to the same
    * path, another process) is invisible to them, so operators must POST
    * the invalidation endpoint after out-of-band changes. A build that
    * throws counts as neither hit nor miss. */
  private[server] final class QueryCache[V](lookups: LookupRegistry,
      fits: V => Boolean = (_: V) => true, capacity: Int = 64) {
    private final class Entry(val value: V, val reads: Map[String, Long]) {
      def current(now: BatchIngest.Generations): Boolean =
        reads.forall { case (k, g) => now.of(k) == g }
    }
    private val hitCount = new java.util.concurrent.atomic.AtomicLong(0L)
    private val missCount = new java.util.concurrent.atomic.AtomicLong(0L)
    private val map =
      new java.util.LinkedHashMap[(String, Long), Entry](16, 0.75f, true) {
        override def removeEldestEntry(e: java.util.Map.Entry[(String, Long), Entry]): Boolean =
          size() > capacity
      }

    def get(key: String, useCache: Boolean = true, populateCache: Boolean = true)
        (build: => V): V = {
      val k = (key, lookups.generation)
      if (useCache) map.synchronized(Option(map.get(k)))
          .filter(_.current(BatchIngest.generations)) match {
        case Some(e) => hitCount.incrementAndGet(); QueryCache.read(e.reads.keys); return e.value
        case None => ()
      }
      val before = BatchIngest.generations
      val (v, keys) = QueryCache.recording(build)
      missCount.incrementAndGet()
      if (populateCache && fits(v))
        map.synchronized(map.put(k, new Entry(v, keys.map(r => r -> before.of(r)).toMap)))
      v
    }

    def invalidateAll(): Unit = map.synchronized(map.clear())
    def hits: Long = hitCount.get()
    def misses: Long = missCount.get()
  }

  private[server] object QueryCache {
    private val builds = new ThreadLocal[scala.collection.mutable.Set[String]]

    /** Run `body`, returning it with the keys it reported through [[read]];
      * they also count as read by the enclosing recording, if any. */
    def recording[A](body: => A): (A, Set[String]) = {
      val outer = builds.get()
      val keys = scala.collection.mutable.Set.empty[String]
      builds.set(keys)
      try (body, keys.toSet) finally {
        builds.set(outer)
        if (outer != null) outer ++= keys
      }
    }

    /** Report generation keys the current build read. */
    def read(keys: Iterable[String]): Unit = Option(builds.get()).foreach(_ ++= keys)
  }

  /** One POSTed query, parsed once at entry; every later step — id,
    * timeout/lane/priority, cache flags and key, execution, envelope —
    * reads this value. `query` is the body with the server-level default
    * context (DefaultQueryConfig.java — the `druid.query.default.context.*`
    * runtime properties) merged under the request's own `context`: a key
    * the request sets always wins (QueryResourceTest
    * .testGoodQueryWithQueryConfigOverrideDefault /
    * testGoodQueryWithQueryConfigDoesNotOverrideQueryContext — the
    * lifecycle's initialize() only copies default keys absent from the
    * query's context), so a default like skipEmptyBuckets/priority reaches
    * the query exactly as if the client had set it. Both routes share the
    * defaults, like the reference's QueryLifecycle/SqlLifecycle sharing one
    * supplier. A body that is not JSON keeps its parse failure: the native
    * route rethrows it, the SQL route reads the body as bare SQL text. */
  private[server] final class QueryRequest(val body: String, defaults: JObject) {
    private val parsed: Try[JValue] = Try(JsonMethods.parse(body))
    val query: Try[JValue] = parsed.map {
      case o: JObject if defaults.obj.nonEmpty =>
        val own = (o \ "context") match { case c: JObject => c.obj; case _ => Nil }
        JObject(o.obj.filterNot(_._1 == "context") :+ ("context" -> JObject(
          defaults.obj.filterNot(kv => own.exists(_._1 == kv._1)) ++ own)))
      case v => v
    }
    def field(name: String): JValue = query.fold(_ => JNothing, _ \ name)
    def context: JValue = field("context")

    /** The native id comes from the request's OWN context.queryId, never a
      * default's (QueryLifecycle.initialize assigns it before merging). */
    def nativeId: String = parsed.fold(_ => JNothing, _ \ "context" \ "queryId") match {
      case JString(id) => id; case _ => java.util.UUID.randomUUID().toString
    }
    /** The SQL id comes from the MERGED context's sqlQueryId. */
    def sqlId: String = (context \ "sqlQueryId") match {
      case JString(id) => id; case _ => java.util.UUID.randomUUID().toString
    }
    // context.timeout in millis (QueryContexts.TIMEOUT_KEY)
    def timeoutMs: Long = (context \ "timeout") match {
      case JInt(n) => n.toLong; case JLong(n) => n; case _ => 0L
    }
    def lane: Option[String] = (context \ "lane") match {
      case JString(l) => Some(l); case _ => None
    }
    def priority: Option[Int] = (context \ "priority") match {
      case JInt(n) => Some(n.toInt); case JLong(n) => Some(n.toInt); case _ => None
    }
    def flag(name: String, default: Boolean): Boolean = (context \ name) match {
      case JBool(b) => b; case _ => default
    }

    /** What the native request-log line records: the executed query — the
      * body as sent, or its rendering once defaults were merged in. */
    def text: String = query match {
      case Success(o: JObject) if defaults.obj.nonEmpty => JsonMethods.compact(JsonMethods.render(o))
      case _ => body
    }

    /** The native key both caches share: execution-irrelevant context keys
      * (queryId, timeout, priority, lane) and the cache-control flags are
      * stripped so per-request ids don't defeat the caches. */
    lazy val cacheKey: String = "native:" + (query match {
      case Success(o: JObject) =>
        val ctx = (o \ "context") match {
          case c: JObject => c.obj.filterNot(kv => Set("queryId", "timeout", "priority",
            "lane", "useCache", "populateCache").contains(kv._1))
          case _ => Nil
        }
        JsonMethods.compact(JsonMethods.render(JObject(o.obj.filterNot(_._1 == "context") ++
          (if (ctx.nonEmpty) List("context" -> JObject(ctx)) else Nil))))
      case _ => body
    })
  }

  /** Raised when a request's query was cancelled through the DELETE
    * endpoints; rendered as the reference's QUERY_CANCELLED QueryException
    * (QueryInterruptedException.java:47 "Query cancelled", HTTP 500 —
    * SqlResourceTest.testCancelBetweenPlanAndExecute). */
  private[server] final class QueryCancelledException
    extends RuntimeException("Query canceled")

  /** Raised when the query's `timeout` context parameter elapses; rendered
    * as the reference's QueryTimeoutException — error "Query timeout",
    * HTTP 504 (QueryTimeoutException.java:39-41; SqlResourceTest
    * .testQueryTimeoutException asserts the code + class). */
  private[server] final class QueryTimedOutException
    extends RuntimeException("Query Timed Out!")

  /** Raised when the server's concurrent-query capacity is exhausted;
    * rendered as the reference's QueryCapacityExceededException — error
    * "Query capacity exceeded", HTTP 429 (QueryCapacityExceededException
    * .java:41-47, the QueryScheduler's laning guard;
    * SqlResourceTest.testTooManyRequests). */
  private[server] final class QueryCapacityException private (msg: String)
    extends RuntimeException(msg)
  private[server] object QueryCapacityException {
    // TOTAL_ERROR_MESSAGE_TEMPLATE / LANE_ERROR_MESSAGE_TEMPLATE
    // (QueryCapacityExceededException.java:41-44)
    def total(capacity: Int): QueryCapacityException = new QueryCapacityException(
      s"Too many concurrent queries, total query capacity of $capacity exceeded. " +
        "Please try your query again later.")
    def lane(lane: String, capacity: Int): QueryCapacityException = new QueryCapacityException(
      s"Too many concurrent queries for lane '$lane', query capacity of $capacity exceeded. " +
        "Please try your query again later.")
  }

  /** The one request lifecycle of the query routes and the Avatica
    * statements — the reference's QueryLifecycle/SqlLifecycle: admission,
    * a job group cancel-registered under the query id for the whole plan
    * and execute ([[CancelRegistry]]), and one request-log line, success or
    * failure (QueryLifecycle.emitLogsAndMetrics feeding the RequestLogger).
    *
    * Admission is the QueryScheduler analog, a total + per-lane concurrency
    * guard. `maxConcurrentQueries <= 0` means unlimited (the default: this
    * driver-side facade is usually single-tenant; a shared broker sets a
    * limit sized to its executor slots so queued queries fail fast instead
    * of piling onto the scheduler). The "low" lane follows
    * HiLoQueryLaningStrategy: a query lands there when its context names
    * the lane or carries a negative priority (HiLoQueryLaningStrategy.java
    * :76-85), and the lane's capacity is ceil(total × maxLowPercent / 100)
    * (QueryLaningStrategy.java:57-60). A full lane rejects with the
    * lane-flavored capacity message; the lane permit holds while the total
    * permit is acquired so the two compose. */
  final class RequestLifecycle(maxConcurrentQueries: Int = 0, maxLowPercent: Int = 0) {
    val requestLog = new RequestLog()
    private[server] val cancels = new CancelRegistry
    private val sem = if (maxConcurrentQueries > 0)
      Some(new java.util.concurrent.Semaphore(maxConcurrentQueries)) else None
    private val lowLimit =
      if (maxConcurrentQueries > 0 && maxLowPercent > 0)
        math.ceil(maxConcurrentQueries * maxLowPercent / 100.0).toInt
      else 0
    private val lowSem =
      if (lowLimit > 0) Some(new java.util.concurrent.Semaphore(lowLimit)) else None

    /** Run `body`, then `log` its elapsed millis and outcome. */
    def run[A](spark: SparkSession, queryId: String, timeoutMs: Long = 0L,
        lane: Option[String] = None, priority: Option[Int] = None)
        (log: (Long, Try[A]) => Unit)(body: => A): A = {
      val startNs = System.nanoTime()
      val out =
        try Success(admitted(lane, priority)(
          cancels.run(spark.sparkContext, queryId, timeoutMs)(body)))
        catch { case e: Throwable => Failure(e) }
      log((System.nanoTime() - startNs) / 1000000L, out)
      out.get
    }

    private def admitted[A](lane: Option[String], priority: Option[Int])(body: => A): A = {
      val effectiveLane =
        lane.orElse(if (priority.exists(_ < 0)) Some("low") else None)
      val lowHeld = (effectiveLane, lowSem) match {
        case (Some("low"), Some(ls)) =>
          if (!ls.tryAcquire()) throw QueryCapacityException.lane("low", lowLimit)
          true
        case _ => false
      }
      try sem match {
        case None => body
        case Some(s) =>
          if (!s.tryAcquire()) throw QueryCapacityException.total(maxConcurrentQueries)
          try body finally s.release()
      } finally if (lowHeld) lowSem.get.release()
    }
  }

  /** queryId → running-query registry backing `DELETE /druid/v2/{id}` and
    * `DELETE /druid/v2/sql/{id}` (QueryResource.java:142-166 cancelQuery via
    * the QueryScheduler; SqlResource.java:264-290 via the
    * SqlLifecycleManager). Each query runs inside a Spark job group named
    * after its queryId; cancel() kills the group's active jobs
    * (SparkContext.cancelJobGroup with task interruption) and flags the
    * entry so a cancel that lands between plan and execute still fails the
    * request — the reference removes the lifecycle snapshot the same way. */
  private[server] final class CancelRegistry {
    final class State(sc: org.apache.spark.SparkContext, val groupId: String, val runner: Thread) {
      @volatile var cancelled = false
      @volatile var timedOut = false
      // guards runner.interrupt() against the request having already
      // finished (an interrupt landing after run() returned would poison
      // the pooled handler thread mid-response)
      val lock = new Object
      var finished = false
      def abort(timeout: Boolean): Unit = lock.synchronized {
        if (!finished) {
          if (timeout) timedOut = true else cancelled = true
          sc.cancelJobGroupAndFutureJobs(groupId)
          // cancelJobGroup alone can leave the driver thread parked in
          // AQE's stage-event loop (withFinalPlanUpdate waits on a queue
          // that a killed stage never feeds) — interrupting the handler
          // thread unblocks any such wait
          runner.interrupt()
        }
      }
    }
    private val counter = new java.util.concurrent.atomic.AtomicLong
    private val running = scala.collection.concurrent.TrieMap.empty[String, State]
    // one shared watchdog thread arms every per-query `timeout` context
    // parameter (QueryContexts.TIMEOUT_KEY); firing cancels the query's job
    // group the same way a DELETE does
    private lazy val watchdog =
      java.util.concurrent.Executors.newSingleThreadScheduledExecutor((r: Runnable) => {
        val t = new Thread(r, "graft-query-timeout"); t.setDaemon(true); t
      })

    def run[A](sc: org.apache.spark.SparkContext, queryId: String, timeoutMillis: Long)
        (body: => A): A = {
      val st = new State(sc, s"graft-query-$queryId-${counter.incrementAndGet()}",
        Thread.currentThread())
      running.put(queryId, st)
      // thread-local: the handler thread submits the query's jobs, so the
      // group tags exactly this request's work; interruptOnCancel kills the
      // running tasks, not just pending stages
      sc.setJobGroup(st.groupId, s"queryId=$queryId", interruptOnCancel = true)
      val timer =
        if (timeoutMillis <= 0L) None
        else Some(watchdog.schedule(new Runnable {
          override def run(): Unit = st.abort(timeout = true)
        }, timeoutMillis, java.util.concurrent.TimeUnit.MILLISECONDS))
      try {
        val out = body
        if (st.timedOut) throw new QueryTimedOutException
        if (st.cancelled) throw new QueryCancelledException
        out
      } catch {
        case e: Throwable =>
          if (st.timedOut) throw new QueryTimedOutException
          else if (st.cancelled) throw new QueryCancelledException
          else throw e
      } finally {
        timer.foreach(_.cancel(false))
        st.lock.synchronized { st.finished = true }
        Thread.interrupted() // clear a raced interrupt before thread reuse
        sc.clearJobGroup()
        running.remove(queryId)
      }
    }

    def cancel(queryId: String): Boolean = running.remove(queryId) match {
      case Some(st) =>
        // ...AndFutureJobs (inside abort): a cancel landing while the
        // request is still planning (no job submitted yet) must also void
        // the jobs it would submit next — plain cancelJobGroup only kills
        // active ones
        st.abort(timeout = false)
        true
      case None => false
    }
  }

  def start(spark: SparkSession, resolve: NativeQuery.Resolver,
      lookups: LookupRegistry = LookupRegistry.global, port: Int = 0,
      maxResultRows: Int = 100000, maxConcurrentQueries: Int = 0,
      maxLowPercent: Int = 0, defaultContext: JObject = JObject()): Facade = {
    // the embedder's session may ride Spark defaults (128-key hash-agg
    // fallback, JVM timezone); the engine's plan guarantees are a library
    // concern — apply them here, never clobbering explicit settings
    graft.GraftSession.configure(spark)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    // a request pool (vs the default single dispatcher thread) so a DELETE
    // cancellation can be served while a POST query is still executing —
    // the reference's Jetty broker is multi-threaded the same way
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool(
      (r: Runnable) => { val t = new Thread(r, "graft-http"); t.setDaemon(true); t }))

    // the reference's JDBC transport (DruidAvaticaJsonHandler.AVATICA_PATH);
    // the longer context path wins over /druid/v2/sql for both the trailing-
    // slash and bare spellings (the reference accepts both:
    // DruidAvaticaJsonHandler.java:38-39)
    val lifecycle = new RequestLifecycle(maxConcurrentQueries, maxLowPercent)
    val avatica = new AvaticaEndpoint(spark, s"127.0.0.1:${server.getAddress.getPort}",
      maxResultRows = maxResultRows, lifecycle = lifecycle)
    server.createContext("/druid/v2/sql/avatica", restHandler((method, _, body) =>
      if (method == "POST") avatica.handle(body) else (405, PostOnly)))

    val planCache = new QueryCache[DataFrame](lookups)
    // payloads above 2 MiB are served but not stored
    val resultCache = new QueryCache[String](lookups, _.length <= (2 << 20))
    // the defaults take the form a parsed request body gives them
    val defaults = JsonMethods.parse(JsonMethods.compact(JsonMethods.render(defaultContext)))
      .asInstanceOf[JObject]

    server.createContext("/druid/v2/sql", queryHandler(spark, sql = true, lifecycle,
        defaults) { req =>
      val (sqlText, format, header, typesHeader, sqlTypesHeader, context) =
        req.query match {
        case Success(o: JObject) =>
          val q = (o \ "query") match {
            case JString(s) => s
            case _ => throw new IllegalArgumentException("missing \"query\"")
          }
          // deserialization is case-insensitive (ResultFormatTest
          // .testDeserializeWithDifferentCase: OBJECTLINES/objectlines/
          // oBjEcTlInEs all resolve)
          val fmt = (o \ "resultFormat") match {
            case JString(f) => canonicalFormat(f); case _ => "object"
          }
          val hdr = (o \ "header") match { case JBool(b) => b; case _ => false }
          // SqlQuery.java:75-82 rejects type headers without the header row —
          // request validation in the @JsonCreator, a 400-class bad request
          val tHdr = (o \ "typesHeader") match { case JBool(b) => b; case _ => false }
          val sHdr = (o \ "sqlTypesHeader") match { case JBool(b) => b; case _ => false }
          if (tHdr && !hdr)
            throw new IllegalArgumentException("Cannot include 'typesHeader' without 'header'")
          if (sHdr && !hdr)
            throw new IllegalArgumentException("Cannot include 'sqlTypesHeader' without 'header'")
          val ctx = (o \ "context") match { case c: JObject => c; case _ => JObject() }
          // typed positional parameters (SqlQuery.java `parameters`:
          // [{"type":"VARCHAR","value":...}, ...] bound to `?` in order)
          val params = (o \ "parameters") match {
            case JArray(ps) => ps.map {
              case p: JObject => ((p \ "type") match {
                case JString(t) => t.toUpperCase; case _ => "VARCHAR"
              }, p \ "value")
              // a null entry is an explicitly-unbound position
              // (CalciteParameterQueryTest.testPartiallyMissingParameterInTheMiddle)
              case JNull => null
              case other => throw new IllegalArgumentException(s"parameter: $other")
            }
            case _ => Nil
          }
          (SqlLifecycle.bindParameters(q, params), fmt, hdr, tHdr, sHdr, ctx)
        case _ => // bare SQL string body
          (req.body, "object", false, false, false, JObject())
      }
      val planner = new SqlLifecycle.PlannerContext(context)
      val statement = SqlLifecycle.classify(spark, sqlText)
      SqlLifecycle.scoped(spark, statement, planner) {
        statement match {
          case e: SqlLifecycle.Explain =>
            renderObjects(SqlLifecycle.explainRows(spark, e), SqlLifecycle.ExplainColumns,
              format, header, typesHeader, sqlTypesHeader)
          case ins: SqlLifecycle.Insert =>
            renderObjects(Seq(JObject("inserted" -> JLong(SqlLifecycle.insert(spark, ins)))),
              Seq(ColMeta("inserted", Some("LONG"), "BIGINT")),
              format, header, typesHeader, sqlTypesHeader)
          case q: SqlLifecycle.Query =>
            // repeated dashboard SQL pays the same constant
            // plan-construction floor as native JSON, so the compiled
            // DataFrame caches under the BOUND text (parameters already
            // inlined) + planner knobs + zone. Only a plain read caches: a
            // command executes when planned and must never be skipped by a
            // hit, a metadata plan would snapshot catalog views, and a
            // clock function would freeze into the cached plan.
            val cacheable = q.isQuery && !q.readsMetadata && !q.readsClock
            val knobs = s"${planner.useApproximateCountDistinct}:${planner.sqlOuterLimit}:" +
              planner.sqlTimeZone.map(_.getId).getOrElse("UTC")
            def produce(): String = {
              val df =
                if (cacheable) planCache.get(s"sql:$knobs:$sqlText") {
                  val planned = SqlLifecycle.plan(spark, q, planner)
                  QueryCache.read(BatchIngest.readKeys(planned.queryExecution.analyzed))
                  planned
                }
                else SqlLifecycle.plan(spark, q, planner)
              SqlLifecycle.check(df, planner)
              render(df, format, header, typesHeader, sqlTypesHeader, maxResultRows,
                planner.sqlTimeZone.getOrElse(ZoneOffset.UTC))
            }
            // result-level cache over the rendered payload (same
            // cacheability rules as the plan cache; the key adds the
            // plan-check flags and the response format, so a hit never
            // skips a check or format the entry wasn't produced under)
            val resultKnobs = s"$knobs:${planner.requireTimeCondition}:" +
              s"${planner.groupByEnableMultiValueUnnesting}:${planner.maxNumericInFilters}:" +
              s"$format:$header:$typesHeader:$sqlTypesHeader"
            if (cacheable)
              resultCache.get(s"sql:$resultKnobs:$sqlText",
                req.flag("useCache", true), req.flag("populateCache", true))(produce())
            else produce()
        }
      }
    })

    // registered second so the more specific /druid/v2/sql path wins
    server.createContext("/druid/v2", queryHandler(spark, sql = false, lifecycle,
        defaults) { req =>
      val q = req.query.get
      // result cache first (broker result-level cache): a hit returns the
      // rendered payload without planning or executing; a miss plans and
      // executes in the shared zone scope
      resultCache.get(req.cacheKey, req.flag("useCache", true), req.flag("populateCache", true)) {
        SqlLifecycle.SessionScope.run(spark, None) {
          envelope(q, planCache.get(req.cacheKey) {
            // the build reads every datasource the resolver hands it
            // (inlined `query` subqueries included), and the ingest specs
            // of those names (segmentMetadata's spec analyses)
            val reads = new java.util.concurrent.ConcurrentLinkedQueue[String]
            val df = NativeQuery.run(spark, q, name => {
              val ds = resolve(name)
              reads.add(name)
              BatchIngest.readKeys(ds.queryExecution.analyzed).foreach(reads.add)
              ds
            }, lookups)
            QueryCache.read(reads.asScala)
            df
          }, maxResultRows)
        }
      }
    })

    // lookup admin CRUD + introspection (LookupCoordinatorResource.java,
    // LookupIntrospectionResource.java) over the registry the lookup
    // datasource / LOOKUP() / extraction fns already read from
    server.createContext("/druid/coordinator/v1/lookups", restHandler(
      (method, sub, body) => LookupResource.config(spark, lookups, method, sub, body)))
    server.createContext("/druid/v1/lookups/introspect", restHandler(
      (method, sub, _) => LookupResource.introspect(lookups, method, sub)))

    // node status + client info (StatusResource.java, ClientInfoResource
    // .java); /druid/v2/datasources wins over the /druid/v2 query context
    // by longest-prefix routing
    server.createContext("/status", restHandler(
      (method, sub, _) => StatusResource.status(spark, method, sub)))
    server.createContext("/druid/v2/datasources", restHandler(
      (method, sub, _) => StatusResource.datasources(spark, method, sub)))
    // coordinator datasource/segment admin reads over the segment inventory
    server.createContext("/druid/coordinator/v1/datasources", restHandler(
      (method, sub, _) => DataSourcesResource.handle(spark, method, sub)))
    // overlord supervisor admin over the sys.supervisors registry
    server.createContext("/druid/indexer/v1/supervisor", restHandler(
      (method, sub, body) => SupervisorResource.handle(method, sub, body)))
    // rollup-catalog admin: register/list/drop rollup materializations so a
    // facade-only embedder gets the RollupRewrite redirect; streamed-rollup
    // handoffs into the global catalog surface in GET. A successful
    // register/drop invalidates BOTH caches — cached plans compiled against
    // the previous catalog would keep serving the old scan, and cached
    // RESULTS computed from it are just as stale (the reference's broker
    // drops cached per-segment results on datasource change the same way)
    server.createContext("/druid/coordinator/v1/rollups", restHandler(
      (method, sub, body) => {
        val r = RollupResource.handle(spark,
          graft.plans.RollupRewrite.globalCatalog, method, sub, body)
        if (method != "GET" && r._1 == 200) {
          planCache.invalidateAll(); resultCache.invalidateAll()
        }
        r
      }))
    // cluster reads: leader/isLeader/loadstatus/servers + overlord tasks
    // (the longer lookups/datasources/supervisor contexts win over these)
    val selfAddress = s"127.0.0.1:${server.getAddress.getPort}"
    server.createContext("/druid/coordinator/v1", restHandler(
      (method, sub, _) => ClusterResource.coordinator(spark, selfAddress, method, sub)))
    server.createContext("/druid/indexer/v1", restHandler(
      (method, sub, _) => ClusterResource.overlord(spark, method, sub)))

    // plan-cache admin: DELETE (or POST …/invalidate) drops every cached
    // plan. An entry's per-datasource generations only observe IN-PROCESS
    // writes (BatchIngest writes, compactions, INSERTs and spec
    // registrations; the lookup registry); data rewritten out-of-band — an
    // external writer, a direct spark write to a served path — is invisible
    // to them, so operators hit this endpoint after such changes (the
    // reference's broker exposes the same per-cache admin surface).
    server.createContext("/druid/admin/planCache", restHandler(
      (method, sub, _) => method match {
        // out-of-band data change: BOTH caches hold artifacts of the old
        // data, so the documented invalidation endpoint clears both
        case "DELETE" =>
          planCache.invalidateAll(); resultCache.invalidateAll()
          (200, """{"invalidated":true}""")
        case "POST" if sub.stripPrefix("/") == "invalidate" =>
          planCache.invalidateAll(); resultCache.invalidateAll()
          (200, """{"invalidated":true}""")
        case "GET" =>
          (200, s"""{"hits":${planCache.hits},"misses":${planCache.misses}}""")
        case _ => (405, "")
      }))
    // result-cache admin sibling (stats + targeted invalidation)
    server.createContext("/druid/admin/resultCache", restHandler(
      (method, sub, _) => method match {
        case "DELETE" => resultCache.invalidateAll(); (200, """{"invalidated":true}""")
        case "GET" =>
          (200, s"""{"hits":${resultCache.hits},"misses":${resultCache.misses}}""")
        case _ => (405, "")
      }))

    server.start()
    new Facade(server, lifecycle.requestLog, planCache, resultCache)
  }

  /** Method-and-path routing handler for the REST-ish admin resources and
    * Avatica (which answers 500 with its own ErrorResponse envelope on
    * failure, matching Calcite's AvaticaJsonHandler): passes (method,
    * sub-path, body) through and writes (status, body) back (an empty body
    * sends just the status, like Response.status().build()). */
  private def restHandler(f: (String, String, String) => (Int, String)): HttpHandler =
    new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val (status, payload) =
          try {
            val body = readBody(ex)
            val sub = ex.getRequestURI.getPath.stripPrefix(ex.getHttpContext.getPath) +
              Option(ex.getRequestURI.getQuery).map("?" + _).getOrElse("")
            f(ex.getRequestMethod, sub, body)
          } catch { case e: Throwable => queryError(e) }
        if (payload.isEmpty) {
          ex.sendResponseHeaders(status, -1)
          ex.close()
        } else respond(ex, status, "application/json", payload)
      }
    }

  /** The HTTP side of both query routes — the reference's QueryResource
    * (/druid/v2, QueryResource.java:90) and SqlResource (/druid/v2/sql,
    * SqlResource.java:73):
    *
    *  - `DELETE <route>/{id}` cancels. The native route answers 202 even
    *    for an id the scheduler never registered (QueryResource.java:142-166
    *    only warns); the SQL route answers 404 for it (SqlResource.java
    *    :264-290, SqlResourceTest.testCancelInvalidQuery).
    *  - A POST body is parsed once, into a [[QueryRequest]].
    *  - Every native POST response carries X-Druid-Query-Id
    *    (QueryResource QUERY_ID_RESPONSE_HEADER) and every SQL response
    *    X-Druid-SQL-Query-Id (SqlResource.java:75,173), errors included
    *    (SqlResourceTest.testErrorResponseReturnSameQueryIdWhenSetInContext).
    *  - The query runs in the [[RequestLifecycle]] under that id, so a
    *    DELETE with the returned id works even without a client id, and a
    *    cancel landing between plan and execute still voids the request
    *    (the QueryScheduler registers unconditionally; SqlLifecycleManager
    *    .add runs at doPost entry).
    *  - Failures render as the QueryException envelope; SQL successes carry
    *    the format's content type (ResultFormat.java:38-96 — array/object
    *    JSON, the Lines formats text/plain, csv text/csv). */
  private def queryHandler(spark: SparkSession, sql: Boolean, lifecycle: RequestLifecycle,
      defaults: JObject)(run: QueryRequest => String): HttpHandler =
    new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        if (ex.getRequestMethod == "DELETE") {
          val id = ex.getRequestURI.getPath
            .stripPrefix(ex.getHttpContext.getPath).stripPrefix("/")
          val status = try { if (lifecycle.cancels.cancel(id) || !sql) 202 else 404 }
            catch { case _: Throwable => 500 }
          ex.sendResponseHeaders(status, -1)
          ex.close()
          return
        }
        val post = ex.getRequestMethod == "POST"
        val req = new QueryRequest(if (post) readBody(ex) else "", defaults)
        val queryId = if (sql) req.sqlId else req.nativeId
        if (sql) ex.getResponseHeaders.set("X-Druid-SQL-Query-Id", queryId)
        else if (post) ex.getResponseHeaders.set("X-Druid-Query-Id", queryId)
        val remoteAddr = Option(ex.getRemoteAddress)
          .map(_.getAddress.getHostAddress).getOrElse("")
        def log(ms: Long, out: Try[String]): Unit = {
          val bytes = out.fold(_ => 0L, _.getBytes(StandardCharsets.UTF_8).length.toLong)
          if (!sql) lifecycle.requestLog.logNative(remoteAddr, req.text, ms, bytes, out.failed.toOption)
          else lifecycle.requestLog.logSql(remoteAddr, req.field("query") match {
            case JString(s) => s; case _ => ""
          }, req.context, ms, bytes, out.failed.toOption)
        }
        val (status, payload, contentType) =
          if (!post) (405, PostOnly, "application/json")
          else try {
            val out = req.query match {
              // a native body that is not JSON fails before admission
              case Failure(e) if !sql => log(0L, Failure(e)); throw e
              case _ => lifecycle.run(spark, queryId, req.timeoutMs, req.lane, req.priority)(log)(
                run(req))
            }
            val format = req.field("resultFormat") match {
              case JString(f) if sql => canonicalFormat(f); case _ => "object"
            }
            (200, out, format match {
              case "objectLines" | "arrayLines" => "text/plain"
              case "csv" => "text/csv"
              case _ => "application/json"
            })
          } catch { case e: Throwable =>
            val (s, p) = queryError(e); (s, p, "application/json")
          }
        respond(ex, status, contentType, payload)
      }
    }

  private val PostOnly = """{"error":"POST only"}"""

  private def readBody(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)

  private def respond(ex: HttpExchange, status: Int, contentType: String,
      payload: String): Unit = {
    val bytes = payload.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** Exceeding `maxResultRows` is the reference's "Resource limit exceeded"
    * QueryException (ResourceLimitExceededException, HTTP 400). */
  private[server] final class ResourceLimitExceededException(msg: String)
    extends RuntimeException(msg)

  /** Map a failure to the reference's QueryException JSON — {error,
    * errorMessage, errorClass, host} (QueryException.java) — with
    * SqlPlanningException's error codes (SqlPlanningException.java:36-38:
    * parse failures are "SQL parse failed" with the Calcite parser class,
    * planning/validation failures "Plan validation failed") at HTTP 400
    * (BadQueryException), and "Unknown exception" at 500 for the rest. */
  private[server] def queryError(e: Throwable): (Int, String) = {
    val (status, code, errorClass) = e match {
      case _: QueryCancelledException =>
        // QueryInterruptedException.QUERY_CANCELLED at 500
        // (SqlResourceTest.testCancelBetweenPlanAndExecute asserts
        // INTERNAL_SERVER_ERROR + this error code)
        (500, "Query cancelled", "java.util.concurrent.CancellationException")
      case _: QueryTimedOutException =>
        // QueryTimeoutException.STATUS_CODE = 504, not the generic 500
        (504, "Query timeout", "org.apache.druid.query.QueryTimeoutException")
      case _: QueryCapacityException =>
        // QueryCapacityExceededException.STATUS_CODE = 429
        (429, "Query capacity exceeded",
          "org.apache.druid.query.QueryCapacityExceededException")
      case _: org.apache.spark.sql.catalyst.parser.ParseException =>
        (400, "SQL parse failed", "org.apache.calcite.sql.parser.SqlParseException")
      // malformed native-query JSON → BadJsonQueryException envelope
      // (BadJsonQueryException.java:28-29, BadQueryException.STATUS_CODE=400;
      // QueryResourceTest.testBadQuery)
      case _: com.fasterxml.jackson.core.JsonProcessingException =>
        (400, "Json parse failed", "com.fasterxml.jackson.core.JsonParseException")
      // unknown/unsupported query type → QueryUnsupportedException at 501
      // (QueryUnsupportedException.java:39-40). Matched on the dedicated
      // type, not UnsupportedOperationException broadly — an incidental UOE
      // from Spark/library code is an internal error, not a 501
      case _: graft.operators.QueryUnsupportedException =>
        (501, "Unsupported query", "org.apache.druid.query.QueryUnsupportedException")
      case _: ResourceLimitExceededException =>
        (400, "Resource limit exceeded",
          "org.apache.druid.query.ResourceLimitExceededException")
      // subquery inlining past maxSubqueryRows — same envelope as the
      // broker's ResourceLimitExceededException
      // (ClientQuerySegmentWalker.java:166-336)
      case _: graft.operators.SubqueryRowLimitExceededException =>
        (400, "Resource limit exceeded",
          "org.apache.druid.query.ResourceLimitExceededException")
      case _: org.apache.spark.sql.AnalysisException =>
        (400, "Plan validation failed", "org.apache.calcite.tools.ValidationException")
      case _: IllegalArgumentException =>
        (400, "Plan validation failed", "org.apache.calcite.tools.ValidationException")
      case other => (500, "Unknown exception", other.getClass.getName)
    }
    (status, JsonMethods.compact(JsonMethods.render(JObject(
      "error" -> JString(code),
      "errorMessage" -> JString(String.valueOf(e.getMessage)),
      "errorClass" -> JString(errorClass),
      "host" -> JNull))))
  }

  /** The one result-row cap: collect at most `maxRows` rows; one row past
    * the cap fails the request instead of OOMing the driver. */
  private[server] def capRows[T](ds: Dataset[T], maxRows: Int): Array[T] = {
    val rows = ds.limit(maxRows + 1).collect()
    if (rows.length > maxRows)
      throw new ResourceLimitExceededException(s"result exceeds maxResultRows=$maxRows")
    rows
  }

  /** How a transport writes time cells: the epoch millis of a TIMESTAMP,
    * the UTC wall time of a TIMESTAMP_NTZ as epoch millis, and the epoch day
    * of a DATE. */
  private[server] final case class TimeForm(timestamp: Long => JValue,
      local: Long => JValue, date: Int => JValue)

  private val IsoMillisOffset = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSXXX")
  private val IsoMillisLocal = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS")

  /** Druid's DateTime rendering: ISO-8601 millis with the zone's offset
    * ("2012-01-01T00:00:00.000Z" in UTC). */
  private def iso(ms: Long, zone: ZoneId): JValue =
    JString(IsoMillisOffset.withZone(zone).format(Instant.ofEpochMilli(ms)))

  private val LocalIso: Long => JValue =
    ms => JString(IsoMillisLocal.format(DruidTime.wallClock(ms)))

  /** Native event cells keep Spark's JSON time rendering: UTC ISO millis,
    * zone-less ISO millis, `yyyy-MM-dd` dates. */
  private val EventTimes = TimeForm(iso(_, ZoneOffset.UTC), LocalIso,
    d => JString(LocalDate.ofEpochDay(d.toLong).toString))

  /** The one result-cell converter: a collected `Row` value of type `dt` as
    * JSON, its times in the transport's `form`. Everything else reads as
    * Spark's JSON writer writes it: floats in their shortest decimal,
    * decimals as doubles (scale 0 as integers), NaN and the infinities as
    * strings, binary as base64, a struct's null fields left out. */
  private[server] def cell(v: Any, dt: DataType, form: TimeForm): JValue = (v, dt) match {
    case (null, _) => JNull
    case (t: java.sql.Timestamp, _) => form.timestamp(t.getTime)
    case (t: Instant, _) => form.timestamp(t.toEpochMilli)
    case (t: LocalDateTime, _) => form.local(t.toInstant(ZoneOffset.UTC).toEpochMilli)
    case (d: java.sql.Date, _) => form.date(d.toLocalDate.toEpochDay.toInt)
    case (d: LocalDate, _) => form.date(d.toEpochDay.toInt)
    case (f: Float, _) =>
      if (f.isNaN || f.isInfinite) JString(f.toString) else JDouble(f.toString.toDouble)
    case (d: Double, _) => if (d.isNaN || d.isInfinite) JString(d.toString) else JDouble(d)
    case (d: java.math.BigDecimal, _) =>
      if (d.scale == 0) JInt(BigInt(d.toBigInteger)) else JDouble(d.doubleValue)
    case (n: Number, _) => JLong(n.longValue)
    case (s: String, _) => JString(s)
    case (b: Boolean, _) => JBool(b)
    case (bytes: Array[Byte], _) => JString(java.util.Base64.getEncoder.encodeToString(bytes))
    case (r: Row, st: StructType) => JObject(st.fields.indices.filterNot(r.isNullAt).toList
      .map(i => st(i).name -> cell(r.get(i), st(i).dataType, form)))
    case (seq: scala.collection.Seq[_], ArrayType(et, _)) =>
      JArray(seq.map(cell(_, et, form)).toList)
    case (m: scala.collection.Map[_, _], MapType(_, vt, _)) =>
      JObject(m.toList.map { case (k, x) => String.valueOf(k) -> cell(x, vt, form) })
    case (other, _) => JString(String.valueOf(other))
  }

  /** Wrap native rows in the reference's per-query-type result envelope. */
  private[server] def envelope(q: JValue, df: DataFrame, maxRows: Int): String = {
    val timeCol = (q \ "timeColumn") match { case JString(t) => t; case _ => "__time" }
    // serializeDateTimeAsLong: timestamps render as epoch-millis longs
    // (query-context.md:55; the ...Inner variant governs broker<->data
    // transport in the reference — no such hop here, accepted as a no-op)
    val dtAsLong = (q \ "context" \ "serializeDateTimeAsLong") match {
      case JBool(b) => b; case JString("true") => true; case _ => false
    }
    val renderTs: Long => JValue = if (dtAsLong) JLong(_) else iso(_, ZoneOffset.UTC)
    val timeForm = TimeForm(renderTs, renderTs, d => renderTs(d * 86400000L))
    // a row timestamp: typed times in the query's form, a string column
    // read as a Druid instant (unparseable strings pass through)
    def timeCell(v: Any, dt: DataType): JValue = v match {
      case s: String => Try(renderTs(DruidTime.millis(JString(s)))).getOrElse(JString(s))
      case _ => cell(v, dt, timeForm)
    }
    def eventCell(v: Any, dt: DataType): JValue = cell(v, dt, EventTimes)
    // granularity-all buckets stamp with the first interval start, the
    // reference's bucket time for a single all-granularity bucket
    val intervalStart: JValue =
      DruidTime.intervals(q \ "intervals").headOption.fold(JNull: JValue)(i => renderTs(i.startMs))
    val fields = df.schema.fields
    // object rows leave null cells out: the façade's documented native
    // rendering
    def obj(r: Row, f: (Any, DataType) => JValue): JObject =
      JObject(fields.indices.filterNot(r.isNullAt).toList
        .map(i => fields(i).name -> f(r.get(i), fields(i).dataType)))
    val timeIdx = fields.indexWhere(_.name == timeCol)
    def rowTs(r: Row): JValue =
      if (timeIdx < 0 || r.isNullAt(timeIdx)) JNull
      else timeCell(r.get(timeIdx), fields(timeIdx).dataType)
    def event(r: Row): JObject = JObject(obj(r, eventCell).obj.filterNot(_._1 == timeCol))

    val rows = capRows(df, maxRows).toList
    val queryType = (q \ "queryType") match { case JString(t) => t; case _ => "" }
    val out: JValue = queryType match {
      case "timeseries" =>
        // TimeseriesQueryQueryToolChest: {timestamp, result}; the grandTotal
        // row "will have no timestamp" (docs/querying/timeseriesquery.md)
        JArray(rows.map(r => JObject("timestamp" -> rowTs(r), "result" -> event(r))))
      case "topN" =>
        // TopNQueryQueryToolChest: one bucket per granularity period; this
        // engine computes exact all-granularity topN → a single bucket
        JArray(List(JObject(
          "timestamp" -> (rows.headOption.map(rowTs).getOrElse(JNull) match {
            case JNull => intervalStart; case ts => ts
          }),
          "result" -> JArray(rows.map(event)))))
      case "groupBy" | "movingAverage" =>
        // GroupByQueryQueryToolChest: {version: "v1", timestamp, event} —
        // movingAverage rows are groupBy-shaped Rows in the reference too
        // (MovingAverageQueryToolChest decorates the groupBy runner)
        JArray(rows.map { r =>
          val ts = rowTs(r) match { case JNull => intervalStart; case t => t }
          JObject("version" -> JString("v1"), "timestamp" -> ts, "event" -> event(r))
        })
      case "search" =>
        // docs/querying/searchquery.md: one bucket of {dimension, value,
        // count} hits (all-granularity here, like topN)
        JArray(List(JObject(
          "timestamp" -> intervalStart,
          "result" -> JArray(rows.map(obj(_, eventCell))))))
      case "timeBoundary" =>
        // timeboundaryquery.md: [{timestamp: minTime, result: {min/max}}] —
        // boundary values render Druid-style ISO millis like the timestamp
        JArray(rows.map { r =>
          val result = obj(r, timeCell)
          val cells = result.obj.toMap
          val ts = cells.get("minTime").orElse(cells.get("maxTime")).getOrElse(JNull)
          JObject("timestamp" -> ts, "result" -> result)
        })
      case "dataSourceMetadata" =>
        // datasourcemetadataquery.md: timestamp = maxIngestedEventTime
        JArray(rows.map { r =>
          val result = obj(r, timeCell)
          val ts = result.obj.toMap.get("maxIngestedEventTime").getOrElse(JNull)
          JObject("timestamp" -> ts, "result" -> result)
        })
      case "scan" =>
        // scan-query.md: [{segmentId, columns, events}] — segments are not a
        // query-time concept on this engine, so one batch with a null
        // segmentId (the reference itself reports null under time ordering);
        // events render as objects ("list", the default) or positional
        // arrays ("compactedList")
        val columns = df.columns.toList
        val events: List[JValue] = (q \ "resultFormat") match {
          case JString("compactedList") =>
            rows.map(r => JArray(fields.indices.toList.map(i =>
              eventCell(r.get(i), fields(i).dataType))))
          case _ => rows.map(obj(_, eventCell))
        }
        JArray(List(JObject(
          "segmentId" -> JNull,
          "columns" -> JArray(columns.map(JString(_))),
          "events" -> JArray(events))))
      case "segmentMetadata" =>
        // SegmentMetadataQueryQueryToolChest merged response: a list of
        // SegmentAnalysis objects {id, intervals, columns: {name:
        // ColumnAnalysis}, size, numRows, aggregators, timestampSpec,
        // queryGranularity, rollup} (SegmentAnalysis.java:43-51,
        // ColumnAnalysis.java:42-50); this engine computes one merged
        // analysis over the datasource, so id is the toolchest's "merged"
        // (SegmentMetadataQueryQueryToolChest.java:350)
        def jnum(v: JValue): Long = v match {
          case JInt(i) => i.toLong
          case JLong(l) => l
          case JDouble(d) => d.toLong
          case _ => 0L
        }
        def druidType(sparkType: String): (String, Boolean) = {
          val isMv = sparkType.startsWith("array<")
          val base = if (isMv) sparkType.stripPrefix("array<").stripSuffix(">") else sparkType
          val t = base match {
            case "string" => "STRING"
            case "bigint" | "int" | "smallint" | "tinyint" | "long" |
                 "timestamp" | "timestamp_ntz" | "date" | "boolean" => "LONG"
            case "double" => "DOUBLE"
            case "float" => "FLOAT"
            case d if d.startsWith("decimal") => "DOUBLE"
            case _ => "COMPLEX"
          }
          (t, isMv)
        }
        val maps = rows.map(obj(_, eventCell).obj.toMap)
        val colEntries: List[JField] = maps.map { m =>
          val name = m.get("column").collect { case JString(s) => s }.getOrElse("")
          val (tpe, mv) = druidType(
            m.get("type").collect { case JString(s) => s }.getOrElse(""))
          name -> (JObject(
            "type" -> JString(tpe),
            "hasMultipleValues" -> JBool(mv),
            "hasNulls" -> JBool(m.get("nullCount").exists(jnum(_) > 0L)),
            "size" -> JInt(BigInt(m.get("size_bytes").map(jnum).getOrElse(0L))),
            "cardinality" -> m.getOrElse("cardinality", JNull),
            "minValue" -> m.getOrElse("minValue", JNull),
            "maxValue" -> m.getOrElse("maxValue", JNull),
            "errorMessage" -> JNull): JValue)
        }
        val first = maps.headOption.getOrElse(Map.empty)
        JArray(List(JObject(
          "id" -> JString("merged"),
          "intervals" -> JNull,
          "columns" -> JObject(colEntries),
          "size" -> JInt(BigInt(maps.map(m => m.get("size_bytes").map(jnum).getOrElse(0L)).sum)),
          "numRows" -> JInt(BigInt(first.get("numRows").map(jnum).getOrElse(0L))),
          "aggregators" -> first.getOrElse("aggregators", JNull),
          "timestampSpec" -> first.getOrElse("timestampSpec", JNull),
          "queryGranularity" -> first.getOrElse("queryGranularity", JNull),
          "rollup" -> first.getOrElse("rollup", JNull))))
      case _ => JArray(rows.map(obj(_, eventCell))) // flat rows (documented simplification)
    }
    JsonMethods.compact(JsonMethods.render(out))
  }

  /** ResultFormat names parse case-insensitively (ResultFormat.java enum
    * deserialization, ResultFormatTest.testDeserializeWithDifferentCase);
    * unknown names pass through to renderObjects' error. */
  private[server] def canonicalFormat(f: String): String = f.toLowerCase match {
    case "object" => "object"
    case "array" => "array"
    case "objectlines" => "objectLines"
    case "arraylines" => "arrayLines"
    case "csv" => "csv"
    case _ => f
  }

  /** A result column's name plus its two header typings: the Druid type
    * string (RowSignature asTypeString — None renders a null type, the
    * reference's untypable-column case) and the SQL type name
    * (RelDataType.getSqlTypeName). */
  private[server] final case class ColMeta(name: String, druidType: Option[String],
      sqlType: String)

  /** Spark type → (Druid type string, SQL type name), the two header rows
    * of ResultFormat writers. Timestamps are LONG/TIMESTAMP like the
    * reference's __time (SqlResourceTest EXPECTED_TYPES/EXPECTED_SQL_TYPES);
    * structs have no Druid type and SQL type ROW (SqlResourceTest
    * .testArrayResultFormatWithHeader_nullColumnType). */
  private[server] def colMeta(field: org.apache.spark.sql.types.StructField): ColMeta = {
    import org.apache.spark.sql.types._
    def druid(dt: DataType): Option[String] = dt match {
      case StringType => Some("STRING")
      case LongType | IntegerType | ShortType | ByteType | BooleanType |
           TimestampType | TimestampNTZType | DateType => Some("LONG")
      case FloatType => Some("FLOAT")
      case DoubleType => Some("DOUBLE")
      case _: DecimalType => Some("DOUBLE")
      case ArrayType(e, _) => druid(e).map(t => s"ARRAY<$t>")
      case BinaryType => Some("COMPLEX")
      case _ => None
    }
    val sqlType = field.dataType match {
      case TimestampType | TimestampNTZType => "TIMESTAMP"
      case DateType => "DATE"
      case LongType => "BIGINT"
      case IntegerType => "INTEGER"
      case ShortType => "SMALLINT"
      case ByteType => "TINYINT"
      case BooleanType => "BOOLEAN"
      case FloatType => "FLOAT"
      case DoubleType => "DOUBLE"
      case _: DecimalType => "DECIMAL"
      case StringType => "VARCHAR"
      case _: ArrayType => "ARRAY"
      case _: StructType => "ROW"
      case _ => "OTHER"
    }
    ColMeta(field.name, druid(field.dataType), sqlType)
  }

  private def render(df: DataFrame, format: String, header: Boolean,
      typesHeader: Boolean, sqlTypesHeader: Boolean, maxRows: Int,
      zone: ZoneId = ZoneOffset.UTC): String = {
    val fields = df.schema.fields.toList
    // TIMESTAMP and DATE cells are Druid's ISO millis in the sqlTimeZone
    // ("1999-12-31T16:00:00.000-08:00"); a DATE is that zone's midnight
    // (SqlResourceTest.testTimestampsInResponse expects CAST(__time AS DATE)
    // as a full midnight ISO too)
    val form = TimeForm(iso(_, zone), LocalIso,
      d => iso(LocalDate.ofEpochDay(d.toLong).atStartOfDay(zone).toInstant.toEpochMilli, zone))
    // object rows carry every column, nulls included (the reference's
    // ObjectWriter.writeRowField is called per column)
    val rows = capRows(df, maxRows).toSeq.map(r => JObject(fields.zipWithIndex.map {
      case (f, i) => f.name -> cell(r.get(i), f.dataType, form)
    }))
    renderObjects(rows, fields.map(colMeta), format, header, typesHeader, sqlTypesHeader)
  }

  /** Render result rows in one of ResultFormat.java's five formats, with
    * the writers' exact header and termination shapes. */
  private[server] def renderObjects(parsed: Seq[JObject], metas: Seq[ColMeta],
      format: String, header: Boolean, typesHeader: Boolean,
      sqlTypesHeader: Boolean): String = {
    val cols = metas.map(_.name)
    // ObjectWriter.writeHeader: {"col": null, ...} bare, or {"col":
    // {"type": ..., "sqlType": ...}, ...} when type headers are requested
    def headerObj: JObject =
      if (!typesHeader && !sqlTypesHeader)
        JObject(cols.toList.map(c => c -> (JNull: JValue)))
      else JObject(metas.toList.map { m =>
        val fields =
          (if (typesHeader)
            List("type" -> m.druidType.fold(JNull: JValue)(JString(_))) else Nil) ++
          (if (sqlTypesHeader) List("sqlType" -> (JString(m.sqlType): JValue)) else Nil)
        m.name -> (JObject(fields): JValue)
      })
    // ArrayWriter.writeHeader: a names row, then a Druid-types row iff
    // typesHeader, then a SQL-types row iff sqlTypesHeader
    def arrayHeaderRows: Seq[JValue] =
      Seq(JArray(cols.toList.map(JString(_): JValue))) ++
      (if (typesHeader)
        Seq(JArray(metas.toList.map(_.druidType.fold(JNull: JValue)(JString(_))))) else Nil) ++
      (if (sqlTypesHeader)
        Seq(JArray(metas.toList.map(m => JString(m.sqlType): JValue))) else Nil)
    def rowArray(o: JObject): JValue = JArray(cols.toList.map(o \ _))
    def jsonLine(v: JValue): String = JsonMethods.compact(JsonMethods.render(v))
    format match {
      case "object" =>
        val headerRow = if (header) Seq(headerObj: JValue) else Nil
        // writeResponseEnd terminates the array with LF (ObjectWriter.java:63)
        jsonLine(JArray((headerRow ++ parsed).toList)) + "\n"
      case "array" =>
        val withHeader =
          (if (header) arrayHeaderRows else Nil) ++ parsed.map(rowArray)
        jsonLine(JArray(withHeader.toList)) + "\n"
      case "objectLines" | "arrayLines" =>
        // one JSON value per LF-terminated line; writeResponseEnd adds the
        // blank trailer line (ObjectLinesWriter/ArrayLinesWriter)
        val lines =
          if (format == "objectLines")
            (if (header) Seq(headerObj: JValue) else Nil) ++ parsed
          else (if (header) arrayHeaderRows else Nil) ++ parsed.map(rowArray)
        lines.map(l => jsonLine(l) + "\n").mkString + "\n"
      case "csv" =>
        val headerLines: Seq[String] =
          if (!header) Nil
          else Seq(cols.map(csvField).mkString(",")) ++
            (if (typesHeader)
              Seq(metas.map(_.druidType.fold("")(csvField)).mkString(",")) else Nil) ++
            (if (sqlTypesHeader)
              Seq(metas.map(m => csvField(m.sqlType)).mkString(",")) else Nil)
        val dataLines = parsed.map(o => csvRow(o, cols))
        // like the Lines formats, a blank trailer line ends the response
        (headerLines ++ dataLines).map(_ + "\n").mkString + "\n"
      case other => throw new IllegalArgumentException(s"resultFormat: $other")
    }
  }

  /** RFC-4180-ish quoting (the reference's opencsv CSVWriter defaults):
    * quote a field only when it contains a quote, comma, or newline; double
    * embedded quotes. */
  private def csvField(s: String): String =
    if (s.exists(c => c == '"' || c == ',' || c == '\n' || c == '\r'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s

  private def csvRow(o: JObject, cols: Seq[String]): String = {
    val vals = cols.map(c => o \ c match {
      case JNull => "" // "CSV cannot differentiate null and empty string"
      case JString(s) => s
      case v => JsonMethods.compact(JsonMethods.render(v))
    })
    // CsvWriter.writeRowEnd: a single-empty-field row is written quoted so
    // users can't confuse it with the blank trailer line
    if (vals.length == 1 && vals.head.isEmpty) "\"\""
    else vals.map(csvField).mkString(",")
  }
}
