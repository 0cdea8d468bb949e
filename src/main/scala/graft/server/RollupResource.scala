package graft.server

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.operators.DruidTime
import graft.plans.RollupRewrite
import graft.plans.RollupRewrite.{Catalog, RollupDef}

/** Rollup-catalog admin over HTTP — the facade-only embedder's way to
  * register/list/drop rollup materializations so the optimizer rewrite
  * ([[graft.plans.RollupRewrite]]) redirects base-table aggregates to them.
  * Reference analog: the coordinator owns which datasources are
  * rollup-materialized and serves that metadata over its datasource admin
  * surface (server/.../http/DataSourcesResource.java); here the catalog IS
  * that metadata, and registration also arms the rewrite rule on the
  * serving session.
  *
  *   GET    /            → registered defs (including streamed-rollup
  *                         handoffs that target the same catalog —
  *                         StreamingIngest.handoffToCatalog)
  *   POST   /            → register (replace for same base+granularity):
  *                         {"basePath", "rollupPath", "dimensions": [..],
  *                          "metricMap": {"base": [{"op", "column"}, ..]},
  *                          "countColumn", "timeColumn"?, "granularity"?}
  *                         granularity: any native query granularity
  *                         (DruidTime.granularity: "P1D", "hour",
  *                         {"type": "period", ...}, {"type": "duration", ...})
  *   DELETE /?basePath=… → drop every def for that base → {"removed": n}
  */
object RollupResource {

  def handle(spark: SparkSession, catalog: Catalog, method: String,
      rawSubPath: String, body: String): (Int, String) = {
    val (subPath, query) = rawSubPath.indexOf('?') match {
      case -1 => (rawSubPath, "")
      case i => (rawSubPath.substring(0, i), rawSubPath.substring(i + 1))
    }
    val parts = subPath.split("/").filter(_.nonEmpty).toList
    (method, parts) match {
      case ("GET", Nil) =>
        ok(JArray(catalog.all.map(renderDef).toList))

      case ("POST", Nil) =>
        val spec = JsonMethods.parseOpt(body) match {
          case Some(o: JObject) => o
          case _ => return (400, error("malformed rollup spec"))
        }
        try {
          val d = parseDef(spark, spec)
          // replace-for-same-(base, granularity): re-POSTing after a
          // rebuild swaps the materialization without a stale twin
          catalog.replace(d)
          // arm the rewrite on the serving session (idempotent per catalog)
          RollupRewrite.enable(spark, catalog)
          ok(JObject("registered" -> JString(d.basePath),
            "defs" -> JInt(catalog.all.size)))
        } catch {
          case e: IllegalArgumentException => (400, error(e.getMessage))
          case e: org.apache.spark.sql.AnalysisException => (400, error(e.getMessage))
        }

      case ("DELETE", Nil) =>
        queryParam(query, "basePath") match {
          case Some(bp) => ok(JObject("removed" -> JInt(catalog.unregister(bp))))
          case None => (400, error("basePath query parameter required"))
        }

      case _ => (405, error(s"$method not supported on /rollups/$subPath"))
    }
  }

  private def parseDef(spark: SparkSession, spec: JObject): RollupDef = {
    def reqStr(field: String): String = spec \ field match {
      case JString(s) => s
      case _ => throw new IllegalArgumentException(s"rollup spec requires string '$field'")
    }
    val basePath = reqStr("basePath")
    val rollupPath = reqStr("rollupPath")
    val dims = spec \ "dimensions" match {
      case JArray(xs) => xs.collect { case JString(s) => s }.toSet
      case JNothing => Set.empty[String]
      case _ => throw new IllegalArgumentException("'dimensions' must be a string array")
    }
    val metricMap: Map[String, Seq[(String, String)]] = spec \ "metricMap" match {
      case JObject(fields) => fields.map { case (base, v) =>
        val ops = v match {
          case JArray(entries) => entries.map {
            case o: JObject => (o \ "op", o \ "column") match {
              case (JString(op), JString(c)) => op -> c
              case _ => throw new IllegalArgumentException(
                s"metricMap['$base'] entries need string 'op' and 'column'")
            }
            case _ => throw new IllegalArgumentException(
              s"metricMap['$base'] must be an array of {op, column}")
          }
          case _ => throw new IllegalArgumentException(
            s"metricMap['$base'] must be an array of {op, column}")
        }
        base -> ops
      }.toMap
      case JNothing => Map.empty[String, Seq[(String, String)]]
      case _ => throw new IllegalArgumentException("'metricMap' must be an object")
    }
    val countColumn = reqStr("countColumn")
    val timeColumn = spec \ "timeColumn" match {
      case JString(s) => Some(s)
      case _ => None
    }
    // absent: the rollup declares no time granularity
    val granularity = spec \ "granularity" match {
      case JNothing | JNull => None
      case g => Some(DruidTime.granularity(g))
    }
    RollupDef(
      basePath = basePath,
      rollup = spark.read.parquet(rollupPath),
      dimensions = dims,
      metricMap = metricMap,
      countColumn = countColumn,
      timeColumn = timeColumn,
      granularity = granularity)
  }

  private def renderDef(d: RollupDef): JValue = JObject(
    "basePath" -> JString(d.basePath),
    "dimensions" -> JArray(d.dimensions.toList.sorted.map(JString(_))),
    "metricMap" -> JObject(d.metricMap.toList.sortBy(_._1).map { case (base, ops) =>
      base -> JArray(ops.toList.map { case (op, c) =>
        JObject("op" -> JString(op), "column" -> JString(c))
      })
    }),
    "countColumn" -> JString(d.countColumn),
    "timeColumn" -> d.timeColumn.map(JString(_)).getOrElse(JNull),
    "granularity" -> d.granularity.map(DruidTime.render).getOrElse(JNull))

  private def queryParam(query: String, name: String): Option[String] =
    query.split("&").filter(_.nonEmpty).collectFirst {
      case kv if kv.takeWhile(_ != '=') == name =>
        java.net.URLDecoder.decode(kv.dropWhile(_ != '=').stripPrefix("="),
          java.nio.charset.StandardCharsets.UTF_8)
    }

  private def error(msg: String): String =
    JsonMethods.compact(JsonMethods.render(JObject("error" -> JString(msg))))
  private def ok(v: JValue): (Int, String) =
    (200, JsonMethods.compact(JsonMethods.render(v)))
}
