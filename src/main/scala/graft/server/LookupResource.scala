package graft.server

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.sources.LookupRegistry

/** The lookup admin + introspection HTTP surface, served over the process
  * LookupRegistry:
  *
  * Coordinator config CRUD (server/.../http/LookupCoordinatorResource.java —
  * `@Path("/druid/coordinator/v1/lookups")`, config endpoints at :97-360):
  *
  *   GET    /config                  → tier names
  *   GET    /config/all              → {tier: {lookup: container}}
  *   GET    /config/{tier}           → lookup names in the tier (404 unknown)
  *   GET    /config/{tier}/{lookup}  → the container spec (404 unknown)
  *   POST   /config/{tier}/{lookup}  → create/update from a container (202)
  *   DELETE /config/{tier}/{lookup}  → drop (202, 404 when absent)
  *
  * The container is the reference's LookupExtractorFactoryMapContainer:
  * `{"version": v, "lookupExtractorFactory": {"type": "map", "map": {...}}}`
  * (the pre-0.10 `{"type": "map", ...}` spelling is accepted too). This
  * engine has no tier routing — every server sees every lookup — so the
  * single tier is `__default` (the reference's default tier name,
  * LookupConfig.DEFAULT_TIER).
  *
  * Introspection (server/.../lookup/LookupIntrospectionResource.java
  * `@Path("/druid/v1/lookups/introspect")` routing to the map factory's
  * handler, MapLookupExtractorFactory.java:132-151):
  *
  *   GET /{lookupId}         → the full key→value map
  *   GET /{lookupId}/keys    → the key list
  *   GET /{lookupId}/values  → the value list
  *
  * Reads are bounded by the registry's `asMap` cap — introspecting a
  * lookup bigger than the driver-side limit fails loudly rather than
  * OOMing, the same guard the scalar-lookup path uses.
  */
object LookupResource {

  val DefaultTier = "__default"

  /** lookups-cached-single factories (r15): `loadingLookup` /
    * `pollingLookup` containers POSTed to the config surface build
    * [[graft.sources.SingleLookup]] policies instead of a map snapshot
    * (LookupExtractionModule.java registers exactly these two type names;
    * factory JSON per LoadingLookupFactory.java:40-56 /
    * PollingLookupFactory.java:41-60, dataFetcher per JdbcDataFetcher
    * .java:73-77). Instances are held per (registry, name) so GET returns
    * the original container and DELETE closes the policy. Both factories
    * return a null introspect handler in the reference
    * (LoadingLookupFactory.java:108-112, PollingLookupFactory.java:125-129),
    * so introspection on them is 404 here too. */
  private final case class SingleEntry(
      container: JValue,
      loading: Option[graft.sources.SingleLookup.LoadingLookup],
      polling: Option[graft.sources.SingleLookup.PollingLookup],
      pollTask: Option[java.util.concurrent.ScheduledFuture[_]] = None)
  private val singles =
    scala.collection.concurrent.TrieMap.empty[(LookupRegistry, String), SingleEntry]

  /** Fixed-delay poll scheduler for registered pollingLookups (the
    * reference's PollingLookup runs pollAndSwap on a ScheduledExecutor —
    * PollingLookup.java:88-103); one shared daemon thread drives every
    * registered lookup's cadence. */
  private lazy val pollScheduler: java.util.concurrent.ScheduledExecutorService =
    java.util.concurrent.Executors.newSingleThreadScheduledExecutor { r =>
      val t = new Thread(r, "graft-lookup-poll")
      t.setDaemon(true)
      t
    }

  private def cancelEntry(e: SingleEntry): Unit = {
    e.pollTask.foreach(_.cancel(false))
    e.polling.foreach(_.close()) // also drops the registry row
  }

  /** Scalar application of a registered single lookup (the extraction-fn
    * path a reference node serves from its local LoadingLookup/
    * PollingLookup). */
  def applySingle(lookups: LookupRegistry, name: String, key: String): Option[String] =
    singles.get((lookups, name)).flatMap { e =>
      e.loading.map(_.apply(key)).getOrElse(e.polling.get.apply(key))
    }

  def isSingle(lookups: LookupRegistry, name: String): Boolean =
    singles.contains((lookups, name))

  /** The `pollPeriod` in millis, 0 when absent. The reference reads a Joda
    * Period and takes `toStandardDuration`, which refuses months and years
    * (their length varies); so does this. */
  private def pollMillis(factory: JValue): Either[String, Long] =
    str(factory \ "pollPeriod").fold[Either[String, Long]](Right(0L)) { p =>
      scala.util.Try(graft.functions.TimeFunctions.periodParts(p)).toOption
        .filter(_.months == 0).map(_.fixedMillis)
        .toRight(s"pollPeriod [$p] is not a fixed-length ISO period")
    }

  private def str(v: JValue): Option[String] =
    v match { case JString(s) => Some(s); case _ => None }
  private def lng(v: JValue): Option[Long] = v match {
    case JInt(i) => Some(i.toLong); case JLong(l) => Some(l)
    case JDouble(d) => Some(d.toLong); case _ => None
  }

  private def parseFetcher(spark: SparkSession,
      v: JValue): Either[String, graft.sources.SingleLookup.DataFetcher] =
    (v \ "type") match {
      case JString("jdbcDataFetcher") =>
        val uri = str(v \ "connectorConfig" \ "connectURI")
        val table = str(v \ "table")
        val key = str(v \ "keyColumn")
        val value = str(v \ "valueColumn")
        if (uri.isEmpty || table.isEmpty || key.isEmpty || value.isEmpty)
          Left("jdbcDataFetcher needs connectorConfig.connectURI, table, keyColumn, valueColumn")
        else {
          val props =
            str(v \ "connectorConfig" \ "user").map("user" -> _).toMap ++
              str(v \ "connectorConfig" \ "password").map("password" -> _).toMap
          Right(new graft.sources.SingleLookup.JdbcDataFetcher(
            spark, uri.get, table.get, key.get, value.get, props))
        }
      case JString(other) => Left(s"unsupported dataFetcher type [$other]")
      case _ => Left("missing dataFetcher type")
    }

  private def parsePolicy(v: JValue): graft.sources.SingleLookup.CachePolicy =
    graft.sources.SingleLookup.CachePolicy(
      maximumSize = lng(v \ "maximumSize"),
      expireAfterAccessMs = lng(v \ "expireAfterAccess"),
      expireAfterWriteMs = lng(v \ "expireAfterWrite"))

  private def registerSingle(spark: SparkSession, lookups: LookupRegistry,
      name: String, kind: String, container: JValue, factory: JValue,
      version: String): (Int, String) = {
    val parsed = pollMillis(factory)
      .flatMap(p => parseFetcher(spark, factory \ "dataFetcher").map((p, _)))
    parsed match {
      case Left(msg) => (400, error(msg))
      case Right((period, fetcher)) =>
        // replacing an existing single lookup cancels its poll task and
        // closes the old instance
        singles.remove((lookups, name)).foreach(cancelEntry)
        val entry = kind match {
          case "loadingLookup" =>
            // the query path (LOOKUP() / registeredLookup / lookup
            // datasource) resolves through the registry, so the loading
            // lookup ALSO registers its backing source as a live relation —
            // load-on-use from queries, eviction-cached scalar reads on the
            // HTTP/applySingle path
            lookups.register(name, fetcher.relation(spark), version)
            SingleEntry(container,
              Some(new graft.sources.SingleLookup.LoadingLookup(
                fetcher, parsePolicy(factory \ "loadingCacheSpec"))), None)
          case "pollingLookup" =>
            val polling = new graft.sources.SingleLookup.PollingLookup(
              spark, name, fetcher, period, lookups)
            // fixed-delay refresh (pollPeriod == 0 → load-once, no task —
            // PollingLookup.java:88-93 skips the executor entirely)
            val task =
              if (period <= 0) None
              else Some(pollScheduler.scheduleWithFixedDelay(
                () => try polling.pollIfDue() catch { case _: Exception => () },
                period, period, java.util.concurrent.TimeUnit.MILLISECONDS))
            SingleEntry(container, None, Some(polling), task)
        }
        // pin the container version on the registry entry
        if (entry.polling.isDefined && version != null)
          lookups.register(name, lookups.get(name), version)
        singles.put((lookups, name), entry)
        (202, "")
    }
  }

  /** Handle a coordinator `/druid/coordinator/v1/lookups` request.
    * `subPath` is the path after the resource root. Returns (status, body). */
  def config(spark: SparkSession, lookups: LookupRegistry, method: String,
      rawSubPath: String, body: String): (Int, String) = {
    val subPath = rawSubPath.takeWhile(_ != '?')
    val parts = subPath.split("/").filter(_.nonEmpty).toList
    (method, parts) match {
      case ("GET", List("config")) =>
        ok(JArray(List(JString(DefaultTier))))
      case ("GET", List("config", "all")) =>
        ok(JObject(DefaultTier -> JObject(
          allNames(lookups).map(n => n -> container(lookups, n)))))
      case ("GET", List("config", DefaultTier)) =>
        ok(JArray(allNames(lookups).map(JString(_))))
      case ("GET", List("config", tier)) => notFound(s"tier [$tier] not found")
      case ("GET", List("config", DefaultTier, name)) =>
        if (lookups.contains(name) || singles.contains((lookups, name)))
          ok(container(lookups, name))
        else notFound(s"lookup [$name] not found")
      case ("POST", List("config", DefaultTier, name)) =>
        val spec = JsonMethods.parseOpt(body).getOrElse(
          return (400, error("malformed lookup container")))
        val factory = (spec \ "lookupExtractorFactory") match {
          case JNothing => spec // pre-0.10 bare-factory spelling
          case f => f
        }
        val version0 = (spec \ "version") match {
          case JString(v) => v; case _ => null
        }
        (factory \ "type") match {
          case JString("map") => ()
          case JString(t @ ("loadingLookup" | "pollingLookup")) =>
            return registerSingle(spark, lookups, name, t, spec, factory, version0)
          case JString(other) =>
            return (400, error(s"unsupported lookupExtractorFactory type [$other]"))
          case _ => return (400, error("missing lookupExtractorFactory type"))
        }
        val entries = (factory \ "map") match {
          case JObject(fields) => fields.map {
            case (k, JString(v)) => k -> v
            case (k, JNull) => k -> null
            case (k, v) => k -> JsonMethods.compact(JsonMethods.render(v))
          }
          case _ => return (400, error("missing map"))
        }
        val version = (spec \ "version") match {
          case JString(v) => v; case _ => null
        }
        import spark.implicits._
        lookups.register(name, entries.toDF("k", "v"), version)
        (202, "")
      case ("DELETE", List("config", DefaultTier, name)) =>
        val single = singles.remove((lookups, name))
        single.foreach(cancelEntry)
        if (lookups.remove(name) || single.isDefined) (202, "")
        else notFound(s"lookup [$name] not found")
      case ("POST" | "DELETE", List("config", tier, _)) =>
        notFound(s"tier [$tier] not found")
      case _ => (405, error(s"unsupported: $method $subPath"))
    }
  }

  /** Handle a `/druid/v1/lookups/introspect` request. */
  def introspect(lookups: LookupRegistry, method: String,
      rawSubPath: String): (Int, String) = {
    if (method != "GET") return (405, error("GET only"))
    val parts = rawSubPath.takeWhile(_ != '?').split("/").filter(_.nonEmpty).toList
    parts match {
      // loadingLookup/pollingLookup factories have no introspect handler in
      // the reference (getIntrospectHandler → null → 404)
      case name :: _ if singles.contains((lookups, name)) =>
        notFound(s"lookup [$name] does not support introspection")
      case name :: rest if lookups.contains(name) =>
        val m = lookups.asMap(name)
        rest match {
          case Nil =>
            ok(JObject(m.toList.sortBy(_._1).map { case (k, v) =>
              k -> (if (v == null) JNull else JString(v): JValue)
            }))
          case List("keys") => ok(JArray(m.keys.toList.sorted.map(JString(_))))
          case List("values") =>
            ok(JArray(m.toList.sortBy(_._1).map(_._2)
              .map(v => if (v == null) JNull else JString(v): JValue)))
          case _ => notFound(s"unsupported introspection: ${rest.mkString("/")}")
        }
      case name :: _ => notFound(s"lookup [$name] not found")
      case Nil => notFound("lookup id required")
    }
  }

  private def allNames(lookups: LookupRegistry): List[String] =
    (lookups.names ++ singles.keys.collect { case (r, n) if r eq lookups => n })
      .distinct.sorted.toList

  private def container(lookups: LookupRegistry, name: String): JValue = {
    // single-lookup containers round-trip the POSTed spec verbatim
    singles.get((lookups, name)).foreach(e => return e.container)
    val m = lookups.asMap(name)
    JObject(
      "version" -> lookups.version(name).fold(JNull: JValue)(JString(_)),
      "lookupExtractorFactory" -> JObject(
        "type" -> JString("map"),
        "map" -> JObject(m.toList.sortBy(_._1).map { case (k, v) =>
          k -> (if (v == null) JNull else JString(v): JValue)
        })))
  }

  private def ok(v: JValue): (Int, String) =
    (200, JsonMethods.compact(JsonMethods.render(v)))
  private def error(msg: String): String =
    JsonMethods.compact(JsonMethods.render(JObject("error" -> JString(msg))))
  private def notFound(msg: String): (Int, String) = (404, error(msg))
}
