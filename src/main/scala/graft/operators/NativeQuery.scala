package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.functions.{DruidFunctions, LocaleTimeFormat, MathExpr, StringOrderings, TimeFunctions}
import graft.sources.LookupRegistry

/** JSON native-query API (reference: processing/.../query/Query.java:55-75 —
  * the JSON-native query objects POSTed to /druid/v2, §3.2 of SURVEY).
  *
  * `NativeQuery.run(spark, json, resolver)` parses a Druid-style native query
  * object and compiles it through the typed DSL to a DataFrame — so a user
  * of the reference can submit the same JSON queries. Covered: timeseries
  * (zero-filled by default, skipEmptyBuckets context flag), topN (numeric/
  * dimension/inverted metric specs with StringComparator orderings),
  * groupBy (limitSpec dimensionOrder comparators, subtotals), scan, search,
  * timeBoundary, segmentMetadata, dataSourceMetadata; datasource types
  * table/union/query/join (AND-of-equi-conditions)/lookup/inline (typed)/
  * globalTable; the §2.4 filter surface incl. bound orderings, fragment
  * search specs, spatial and bloom filters, and any-element matching on
  * multi-value (ArrayType) dimensions; the §2.6 aggregators incl. sketches
  * and stringFirst/Last maxStringBytes; arithmetic/fieldAccess/constant/
  * expression post-aggregators; the §2.7 extraction-fn surface; period
  * granularities with origin.
  *
  * JSON `expression` strings (virtualColumns, expression filters/aggs/
  * post-aggs) accept the Druid math-expr dialect verbatim via
  * [[graft.functions.MathExpr]]; `timeColumn` (an extension) names the
  * event-time column when it is not `__time`.
  */
/** Raised for an unknown/unsupported native queryType — a dedicated type so
  * the HTTP façade's 501 mapping can't swallow an incidental
  * UnsupportedOperationException thrown by Spark or library code
  * (QueryUnsupportedException.java:39-40). */
final class QueryUnsupportedException(msg: String)
  extends UnsupportedOperationException(msg)

/** Raised when a subquery datasource produces more rows than the query's
  * `maxSubqueryRows` context allows (ClientQuerySegmentWalker.java:166-336 —
  * the broker inlines subqueries under a row-limit accumulator and fails
  * with ResourceLimitExceededException past it). */
final class SubqueryRowLimitExceededException(max: Int)
  extends RuntimeException(
    s"Subquery generated results beyond maximum[$max]")

object NativeQuery {

  type Resolver = String => DataFrame

  def run(spark: SparkSession, json: String, resolve: Resolver): DataFrame =
    run(spark, JsonMethods.parse(json), resolve, LookupRegistry.global)

  def run(spark: SparkSession, json: String, resolve: Resolver,
      lookups: LookupRegistry): DataFrame =
    run(spark, JsonMethods.parse(json), resolve, lookups)

  /** Compile an already-parsed native query (the HTTP façade parses each
    * body once; subqueries recurse on their parsed form). */
  def run(spark: SparkSession, q0: JValue, resolve: Resolver,
      lookups: LookupRegistry): DataFrame = {
    // the engine's session setup (conf defaults, SQL functions, optimizer
    // rules) holds wherever a query enters — not just the launchers
    graft.GraftSession.configure(spark)
    // the `finalize` context key (QueryContexts.isFinalize): false skips
    // AggregatorFactory.finalizeComputation so sketch aggregators emit their
    // RAW state (the merged collector / sketch bytes). The broker runs every
    // SUBQUERY with finalize=false (ClientQuerySegmentWalker inlining) so an
    // outer aggregator can re-fold the inner state —
    // GroupByQueryRunnerTest.testSubqueryWithHyperUniquesPostAggregator
    // pipes the collector through a fieldAccess post-agg into an outer
    // hyperUnique. Implemented by injecting shouldFinalize=false on the
    // sketch-typed aggregators that have a non-identity finalization.
    // (cardinality's collector state is not exposed this way — its
    // finalize=false form stays an estimate, a documented divergence.)
    val q = (q0 \ "context" \ "finalize") match {
      case JBool(false) => q0 match {
        case jo: JObject => JObject(jo.obj.map {
          case ("aggregations", aggs) => ("aggregations", injectNoFinalize(aggs))
          case kv => kv
        })
        case x => x
      }
      case _ => q0
    }
    // aggregator/post-aggregator OUTPUT names must be unique across both
    // lists (Queries.prepareAggregations' verifyAggregations — "[%s]
    // already defined"; FixedBucketsHistogramGroupByQueryTest
    // .testGroupByWithSameNameComplexPostAgg expects the IAE)
    locally {
      val outNames = arr(q \ "aggregations").flatMap(a => strOpt(a \ "name")) ++
        arr(q \ "postAggregations").flatMap(p => strOpt(p \ "name"))
      outNames.groupBy(identity).collectFirst { case (n, xs) if xs.size > 1 => n }
        .foreach(n => throw new IllegalArgumentException(s"[$n] already defined"))
    }
    // maxSubqueryRows (QueryContexts.getMaxSubqueryRows): caps every inlined
    // subquery datasource of this query
    val maxSubqueryRows = (q \ "context" \ "maxSubqueryRows") match {
      case JInt(n) => Some(n.toInt); case JLong(n) => Some(n.toInt); case _ => None
    }
    val ds = dataSource(spark, q \ "dataSource", resolve, lookups, maxSubqueryRows)
    val timeCol = strOpt(q \ "timeColumn").getOrElse("__time")
    val prepared = applyVirtualColumns(applyIntervals(ds, q \ "intervals", timeCol), q \ "virtualColumns")
    val finalizeAggs = aggFinalizers(q \ "aggregations")
    // bySegment (QueryContexts.java:70 BY_SEGMENT_KEY): return PER-SEGMENT
    // results, unmerged. Superset envelope: the source parquet FILE is the
    // segment analog — "__segmentId" (input_file_name) joins the grouping so
    // per-segment partials come back without the cross-segment merge; rows
    // carry the id as a leading flat column instead of the reference's
    // nested BySegmentResultValue {results, segment, interval}. Honored for
    // groupBy / timeseries (which compiles through the groupBy path and so
    // does NOT zero-fill — a segment's result never spans beyond its rows) /
    // scan; other query types ignore the flag (COVERAGE.md).
    val bySegment = (q \ "context" \ "bySegment") == JBool(true)
    val segDims: Seq[DimSpec] =
      if (bySegment) Seq(ExprDim(input_file_name(), "__segmentId")) else Nil
    val queryType0 = str(q \ "queryType")
    val queryType =
      if (queryType0 == "timeseries" && bySegment) "groupBy" else queryType0
    queryType match {
      case "timeseries" =>
        TimeseriesQuery(
          timeColumn = timeCol,
          granularity = DruidTime.granularity(q \ "granularity"),
          filter = filterOpt(q \ "filter", prepared.schema).orNull,
          // aggregator-less timeseries emits empty value maps (bucket rows
          // only), unlike the other query types' implicit count
          aggregations = (q \ "aggregations") match {
            case JNothing | JNull | JArray(Nil) => Nil
            case a => aggregations(a, timeCol, prepared)
          },
          postAggregations = postAggs(q \ "postAggregations",
            aggFinalizerPairs(q \ "aggregations").toMap),
          descending = boolOpt(q \ "descending").getOrElse(false),
          grandTotal = (q \ "context" \ "grandTotal") == JBool(true),
          limit = intOpt(q \ "limit"),
          // reference default: zero-fill unless skipEmptyBuckets set
          // (TimeseriesQueryEngine.java:131,210)
          skipEmptyBuckets = (q \ "context" \ "skipEmptyBuckets") == JBool(true),
          fillIntervals = DruidTime.intervals(q \ "intervals"),
          timestampResultField = strOpt(q \ "context" \ "timestampResultField")
        ).run(prepared).transform(finalizeAggs)
      case "topN" =>
        val dim = dimSpec(q \ "dimension", prepared.schema)
        // metric specs (query/topn/TopNMetricSpec.java): numeric (default
        // descending), dimension (ordered by dimension value under a
        // StringComparator, ascending), inverted (wraps + flips either)
        def metricSpec(m: JValue): (String, Boolean, Option[Column], Option[Column]) = m match {
          case JString(name) => (name, false, None, None)
          case o => str(o \ "type") match {
            case "numeric" => (str(o \ "metric"), false, None, None)
            // "lexicographic"/"alphaNumeric" are the legacy spellings of the
            // dimension spec with a fixed ordering (LexicographicTopNMetricSpec
            // / AlphaNumericTopNMetricSpec); all carry "previousStop"
            // pagination — only values strictly past the stop in the SORT
            // direction return (the result builder compares with the spec's
            // own comparator, which inverted reverses — BaseTopNAlgorithm
            // .makeResultBuilder hands the reversed comparator to shouldAdd)
            case "dimension" | "lexicographic" | "alphaNumeric" =>
              val ord = (str(o \ "type"), strOpt(o \ "ordering")) match {
                case ("lexicographic", _) => "lexicographic"
                case ("alphaNumeric", _) => "alphanumeric"
                case (_, s) => s.getOrElse("lexicographic")
              }
              // the dimension's resolved type enables the numeric
              // comparator's no-regex fast path (a TYPED dim spec is an
              // ExprDim — probe its expression's type)
              val dimType = dim match {
                case Dim(name, _) => prepared.schema.fields.collectFirst {
                  case f if f.name == name => f.dataType
                }
                case e: ExprDim =>
                  scala.util.Try(prepared.select(e.col).schema.head.dataType).toOption
                case _ => None
              }
              val key = comparatorKey(ord, col(dim.output), dimType)
              val stopKey = strOpt(o \ "previousStop")
                .map(s => comparatorKeyLit(ord, s))
              (dim.output, true, Some(key), stopKey)
            case "inverted" =>
              val (n, asc, k, stopKey) = metricSpec(o \ "metric")
              (n, !asc, k, stopKey)
            case t => throw new IllegalArgumentException(s"topN metric spec: $t")
          }
        }
        val (metricName, asc, sortKey, stopKeyOpt) = metricSpec(q \ "metric")
        // build the stop predicate AFTER inversion is resolved: ascending
        // pages keep key > stop, inverted (descending) pages keep key < stop
        val stopFilter = (sortKey, stopKeyOpt) match {
          case (Some(k), Some(s)) => Some(if (asc) k > s else k < s)
          case _ => None
        }
        // a FILTERED-DECORATOR dim over a scalar DROPS non-matching rows in
        // topN (the segment algorithm's predicate-filtered dictionary never
        // creates their bucket — TopNQueryRunnerTest
        // .testFullOnTopNNumericStringColumnWithDecoration expects NO null
        // row), unlike groupBy's row-based engine which groups them under
        // null (testGroupByNumericStringsAsNumericWithDecoration)
        val decoratorDropsNulls = strOpt(q \ "dimension" \ "type")
          .exists(t => t == "listFiltered" || t == "regexFiltered" ||
            t == "prefixFiltered") && !dim.isMultiValue
        val userFilter = filterOpt(q \ "filter", prepared.schema)
        val topnFilter =
          if (!decoratorDropsNulls) userFilter.orNull
          else userFilter.map(_ && dim.col.isNotNull).getOrElse(dim.col.isNotNull)
        TopNQuery(
          dimension = dim,
          metric = metricName,
          threshold = int(q \ "threshold"),
          filter = topnFilter,
          // aggregator-less topN ranks distinct dimension values — the
          // DSL's dummy-agg path (TopNQueryRunnerTest.testSortOnDoubleAsLong)
          aggregations = (q \ "aggregations") match {
            case JNothing | JNull | JArray(Nil) => Nil
            case a => aggregations(a, timeCol, prepared)
          },
          postAggregations = postAggs(q \ "postAggregations",
            aggFinalizerPairs(q \ "aggregations").toMap),
          ascending = asc,
          sortKey = sortKey,
          stopFilter = stopFilter,
          // finalize sketches before the metric sort — ordering raw sketch
          // bytes would not match the reference's estimate comparators
          finalizeFn = finalizeAggs,
          granularity = DruidTime.granularity(q \ "granularity"),
          timeColumn = timeCol
        ).run(prepared)
      case "groupBy" =>
        val ls = q \ "limitSpec"
        // a non-ALL granularity buckets __time into an implicit LEADING
        // dimension (GroupByQuery's ResultRow carries the bucket timestamp
        // first; the merge orders by it before the dims) — `none` keeps
        // every distinct timestamp (NoneGranularity). The bucket computes
        // under an INTERNAL output name so the raw time column stays
        // readable by aggregators (first/last keys, filtered aggs) and is
        // renamed back to the time column on the result.
        val granBucketName = "__gran_bucket"
        val granDims: Seq[DimSpec] = DruidTime.granularity(q \ "granularity") match {
          case AllGranularity => Nil
          case NoneGranularity =>
            Seq(ExprDim(col(timeCol).cast("timestamp_ntz"), granBucketName))
          case g: PeriodGranularity =>
            Seq(ExprDim(g.bucket(col(timeCol)), granBucketName))
          case g: DurationGranularity =>
            Seq(ExprDim(g.bucket(col(timeCol)), granBucketName))
        }
        val userDims = arr(q \ "dimensions").map(dimSpec(_, prepared.schema))
        // groupByEnableMultiValueUnnesting=false rejects a groupBy that
        // would implicitly unnest a multi-value dimension
        // (GroupByQueryConfig.CTX_KEY_ENABLE_MULTI_VALUE_UNNESTING;
        // GroupByQueryRunnerTest.testMultiValueDimensionNotAllowed pins the
        // message). Array-OUTPUT dims group on the whole array and stay
        // legal.
        if ((q \ "context" \ "groupByEnableMultiValueUnnesting") == JBool(false))
          arr(q \ "dimensions").zip(userDims).collectFirst {
            case (dj, _: MvDim) => dj match {
              case JString(s) => s; case o => str(o \ "dimension")
            }
          }.foreach { dimName =>
            throw new UnsupportedOperationException(
              s"Encountered multi-value dimension [$dimName] that cannot be " +
              "processed with 'groupByEnableMultiValueUnnesting' set to false. " +
              "Consider setting 'groupByEnableMultiValueUnnesting' to true in " +
              "your query context.")
          }
        // output-name validation (GroupByQuery.verifyOutputNames): '__time'
        // is reserved for the bucket timestamp, and dimension / aggregator /
        // post-aggregator outputs must be unique
        // (GroupByQueryRunnerTest.testGroupByTimeExtractionNamedUnderUnderTime,
        // testGroupByWithOutputNameCollisions)
        locally {
          val aggNames = arr(q \ "aggregations").flatMap(a =>
            strOpt(a \ "name").orElse(strOpt(a \ "aggregator" \ "name")))
          val postNames = arr(q \ "postAggregations").flatMap(p => strOpt(p \ "name"))
          val outNames = userDims.map(_.output) ++ aggNames ++ postNames
          if (outNames.contains(timeCol))
            throw new IllegalArgumentException(
              s"'$timeCol' cannot be used as an output name for dimensions, " +
              "aggregators, or post-aggregators.")
          outNames.diff(outNames.distinct).headOption.foreach { d =>
            throw new IllegalArgumentException(s"[$d] already defined")
          }
        }
        val dims = segDims ++ granDims ++ userDims
        val dimOutputs = dims.map(_.output).toSet
        // resolved types of EXPRESSION dim outputs (typed extraction specs,
        // array-output dims): the implicit merge order and limit tie-breaks
        // compare dims by their TYPED natural comparator
        // (RowBasedGrouperHelper.compareDimsInRows) — a LONG strlen
        // extraction orders 4<6<...<13, not lexicographically
        // (testGroupByLimitPushDownWithLongDimensionNotInLimitSpec); ARRAY
        // outputs order natively element-wise like ComparableList/
        // ComparableStringArray (testGroupByWithLongArrays)
        lazy val exprDimTypes: Map[String, org.apache.spark.sql.types.DataType] =
          dims.collect {
            case d: ExprDim => d.output -> prepared.select(d.col).schema.head.dataType
          }.toMap
        lazy val arrayDimOutputs: Set[String] = exprDimTypes.collect {
          case (n, _: org.apache.spark.sql.types.ArrayType) => n
        }.toSet
        GroupByQuery(
          dimensions = dims,
          filter = filterOpt(q \ "filter", prepared.schema).orNull,
          // aggregator-less groupBy emits the distinct dimension rows — the
          // DSL's dummy-agg path (GroupByQueryRunnerTest.testGroupByNoAggregators)
          aggregations = (q \ "aggregations") match {
            case JNothing | JNull | JArray(Nil) => Nil
            case a => aggregations(a, timeCol, prepared)
          },
          postAggregations = postAggs(q \ "postAggregations",
            aggFinalizerPairs(q \ "aggregations").toMap),
          having = havingOpt(q \ "having").orNull,
          limitSpec = LimitSpec(
            orderBy = {
              val explicitCols = arr(ls \ "columns")
              // the implicit merge order compares dims by their TYPED
              // natural comparator (RowBasedGrouperHelper.compareDimsInRows:
              // LONG/DOUBLE dims numerically, naturalNullsFirst); the
              // lexicographic key is only for string-typed dims — a numeric
              // dim sorted lexicographically would return DIFFERENT rows
              // under a limit (1,10,100,... instead of 1,2,3,...)
              def naturalDimKey(d: DimSpec): Column = {
                val numeric = d match {
                  case Dim(name, _) => prepared.schema.fields.collectFirst {
                    case f if f.name == name => f.dataType
                  }.exists(_.isInstanceOf[org.apache.spark.sql.types.NumericType])
                  case _: ExprDim => exprDimTypes.get(d.output)
                    .exists(_.isInstanceOf[org.apache.spark.sql.types.NumericType])
                  case _ => false
                }
                if (numeric || arrayDimOutputs(d.output)) col(d.output)
                else comparatorKey("lexicographic", col(d.output))
              }
              // a limit/offset WITHOUT ordering columns still truncates a
              // DIM-SORTED stream in the reference (groupBy v2's merge
              // emits rows ordered by dimensions; DefaultLimitSpec only
              // adds to that) — reproduce by defaulting the ordering to
              // the dimension outputs in natural ascending order
              if (explicitCols.isEmpty &&
                  (intOpt(ls \ "limit").nonEmpty || intOpt(ls \ "offset").exists(_ > 0)))
                dims.map(d => naturalDimKey(d).asc)
              else {
                // explicit columns sort a stream the engine already emits
                // dim-ordered, and the reference's sort is STABLE — ties on
                // the explicit columns keep dimension order. Reproduce by
                // appending the dimension outputs as tie-breakers when a
                // limit/offset makes the order significant.
                val explicitNames = explicitCols.map {
                  case JString(c) => c; case o => str(o \ "dimension")
                }.toSet
                // non-ALL granularity: the bucket timestamp wraps the user
                // ordering — PREPENDED by default, appended under the
                // sortByDimsFirst context (DefaultLimitSpec.makeComparator:
                // timeOrdering.compound(ordering) vs ordering.compound(
                // timeOrdering); GroupByQueryRunnerTest
                // .testGroupByWithSubtotalsSpecWithOrderLimit pins the
                // time-major default)
                val sortByDimsFirst = (q \ "context" \ "sortByDimsFirst") match {
                  case JBool(b) => b; case _ => false
                }
                val timeKey =
                  if (granDims.nonEmpty && !explicitNames(granBucketName))
                    Seq(col(granBucketName).asc)
                  else Nil
                val tieBreak =
                  if (intOpt(ls \ "limit").nonEmpty || intOpt(ls \ "offset").exists(_ > 0))
                    dims.filterNot(d => explicitNames(d.output) ||
                        (!sortByDimsFirst && d.output == granBucketName))
                      .map(d => naturalDimKey(d).asc)
                  else Nil
                val userOrder = (explicitCols.map { o =>
              val name = o match { case JString(c) => c; case _ => str(o \ "dimension") }
              val base = col(name)
              // OrderByColumnSpec.dimensionOrder: a StringComparator name
              // (string or {"type": ...}). Absent, a DIMENSION column takes
              // the spec's lexicographic DEFAULT — numbers sort like strings
              // (DefaultLimitSpecTest.testSortDimensionDescending pins it) —
              // while a metric keeps its aggregator's natural comparator
              val explicit = (o \ "dimensionOrder") match {
                case JString(n) => Some(n)
                case obj: JObject => strOpt(obj \ "type")
                case _ => None
              }
              val keyed = explicit match {
                case _ if arrayDimOutputs(name) => base
                case Some(n) => comparatorKey(n, base)
                case None if dimOutputs(name) => comparatorKey("lexicographic", base)
                case None => base
              }
              if (strOpt(o \ "direction").contains("descending")) keyed.desc else keyed.asc
              }) ++ tieBreak
                if (sortByDimsFirst) userOrder ++ timeKey else timeKey ++ userOrder
              }
            },
            // DefaultLimitSpec rejects a negative limit at construction
            // (Preconditions "limit[%s] must be >= 0";
            // GroupByQueryRunnerTest.testMergeResultsWithNegativeLimit)
            limit = intOpt(ls \ "limit").map { n =>
              require(n >= 0, s"limit[$n] must be >= 0"); n
            },
            offset = intOpt(ls \ "offset").getOrElse(0)),
          subtotalsSpec = q \ "subtotalsSpec" match {
            // the bucket timestamp survives every subtotal set (the
            // reference keeps ResultRow timestamps across subtotal rows)
            case JArray(sets) => sets.map(s => granDims.map(_.output) ++
              arr(s).map { case JString(d) => d; case x => str(x) })
            case _ => null
          },
          havingTimeBucket = if (granDims.nonEmpty) Some(granBucketName) else None
        ).run(prepared).transform(finalizeAggs)
          .withColumnRenamed(granBucketName, timeCol)
      case "scan" =>
        val scanInput = if (bySegment)
          prepared.withColumn("__segmentId", input_file_name()) else prepared
        val explicitScanCols =
          arr(q \ "columns").map { case JString(c) => c; case x => str(x) }
        ScanQuery(
          columns = if (bySegment && explicitScanCols.nonEmpty)
            "__segmentId" +: explicitScanCols else explicitScanCols,
          filter = filterOpt(q \ "filter", prepared.schema).orNull,
          timeColumn = timeCol,
          order = strOpt(q \ "order") match {
            case Some("ascending") => Some(true)
            case Some("descending") => Some(false)
            case _ => None
          },
          // limit 0 is UNLIMITED (ScanQuery.isLimited: 0 and Long.MAX both
          // mean no limit — ScanQueryRunnerTest loops limits {3,1,5,7,0})
          limit = intOpt(q \ "limit").filter(_ > 0),
          offset = intOpt(q \ "offset").getOrElse(0),
          // generalized per-column ordering (ScanQuery.OrderBy JSON:
          // [{"columnName": c, "order": "ascending"|"descending"}],
          // ScanQuerySpecTest.java:130-170)
          orderBy = arr(q \ "orderBy").map { o =>
            str(o \ "columnName") -> !strOpt(o \ "order").contains("descending")
          }
        ).run(scanInput)
      case "search" =>
        // searchDimensions accept full dimension SPECS (extraction/typed —
        // SearchQueryRunnerTest.testSearchOnTime/testSearchOnLongColumn);
        // ABSENT dimensions search every string dimension of the datasource
        // (SearchQuery.getDimensions == null → all dims)
        // a dimension MISSING from the datasource has no selector and
        // contributes no hits at all — unlike a present column's null
        // values, which DO hit match-all specs
        // (testSearchWithNotExistedDimension vs testSearchWithNullValueInDimension)
        def exists(x: JValue): Boolean = {
          val n = x match {
            case JString(s) => s
            case o => strOpt(o \ "dimension").getOrElse("")
          }
          n == timeCol || prepared.columns.contains(n)
        }
        // search hit values render from the column's NATIVE type — a
        // default spec's outputType does not re-type the hit
        // (testSearchOnFloatColumn expects the float32 rendering)
        def searchDim(x: JValue): DimSpec = x match {
          case o: JObject if strOpt(o \ "type").contains("default") =>
            dimSpec(JObject(o.obj.filterNot(_._1 == "outputType")), prepared.schema)
          case other => dimSpec(other, prepared.schema)
        }
        val searchSpecs: Seq[DimSpec] = arr(q \ "searchDimensions") match {
          case Nil => prepared.schema.fields.collect {
            case f if f.name != timeCol &&
                (f.dataType == org.apache.spark.sql.types.StringType ||
                 f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]) =>
              dimSpec(JString(f.name), prepared.schema)
          }.toSeq
          case ds => ds.filter(exists).map(searchDim)
        }
        val searchCols: Map[String, Column] = searchSpecs.map {
          case MvDim(c, out) => out -> transform(c, _.cast("string"))
          case d => d.output -> array(d.col.cast("string"))
        }.toMap
        SearchQuery(
          searchDimensions = searchSpecs.map(_.output),
          dimColumns = searchCols,
          matcher = searchMatcher(q \ "query"),
          filter = filterOpt(q \ "filter", prepared.schema).orNull,
          limit = intOpt(q \ "limit"),
          // SearchSortSpec JSON: {"sort": {"type": "strlen" | ...}}
          sort = ((q \ "sort") match {
            case JString(n) => Some(n)
            case o: JObject => strOpt(o \ "type")
            case _ => None
          }).getOrElse("lexicographic")
        ).run(prepared)
      case "timeBoundary" =>
        TimeBoundaryQuery(timeCol, filterOpt(q \ "filter", prepared.schema).orNull,
          strOpt(q \ "bound")).run(prepared)
      case "dataSourceMetadata" =>
        DataSourceMetadataQuery(timeCol).run(prepared)
      case "segmentMetadata" =>
        val analyses = (q \ "analysisTypes") match {
          case JArray(as) =>
            // base analyses always run; minmax/size/aggregators/rollup/
            // queryGranularity/timestampSpec opt-in (AnalysisType enum,
            // SegmentMetadataQuery.java:50)
            Set("cardinality", "nulls") ++ as.map {
              case JString(s) => s; case x => str(x)
            }
          case _ => Set("cardinality", "nulls")
        }
        // spec-describing analyses resolve through the ingest catalog by
        // datasource name (the coordinator's segment-metadata analog)
        val dsName = (q \ "dataSource") match {
          case JString(n) => Some(n)
          case o => strOpt(o \ "name")
        }
        // toInclude (ColumnIncluderator — SegmentMetadataQuery.java:64):
        // "all" (default) analyzes every column, "list" only the named
        // ones, "none" returns no per-column analyses
        val metaInput = (q \ "toInclude") match {
          case o if strOpt(o \ "type").contains("list") =>
            val names = arr(o \ "columns").map(str).toSet
            prepared.select(prepared.columns.filter(names).map(col): _*)
          case o if strOpt(o \ "type").contains("none") => prepared
          case _ => prepared
        }
        // "approximate" in analysisTypes (an extension flag) switches to the
        // single-scan mode: approx_count_distinct per column, one Aggregate,
        // one FileScan — the 100 TB shape; default stays exact per the
        // reference's bitmap-index cardinality analysis
        val metaOut = SegmentMetadataQuery(exact = !analyses("approximate"),
          analysisTypes = analyses,
          ingestSpec = dsName.flatMap(graft.sources.BatchIngest.specOf)).run(metaInput)
        if (strOpt(q \ "toInclude" \ "type").contains("none")) metaOut.limit(0)
        else metaOut
      // movingAverage (extensions-contrib/moving-average-query): window
      // averagers over the buckets of the inner groupBy — the inner query
      // re-enters this dispatch so every datasource/filter/agg feature
      // composes (MovingAverageQueryRunner.java runs the same inner query)
      case "movingAverage" =>
        MovingAverageQuery.run(spark, q, inner => run(spark, inner, resolve, lookups))
      // surfaces as QueryUnsupportedException — "Unsupported query" at 501
      // (QueryUnsupportedException.java:39-40, QueryResourceTest
      // testUnsupportedQueryThrowsException)
      case t => throw new QueryUnsupportedException(s"unsupported queryType: $t")
    }
  }

  // ---- datasource (§2.2) ----
  private def dataSource(spark: SparkSession, j: JValue, resolve: Resolver,
      lookups: LookupRegistry, maxSubqueryRows: Option[Int] = None): DataFrame = j match {
    case JString(name) => resolve(name)
    case o =>
      str(o \ "type") match {
        case "table" => resolve(str(o \ "name"))
        case "union" =>
          // evolved union: per-source schemas may disagree on a column's
          // type or presence (SchemaEvolutionTest.java — the reference
          // queries such segment mixes freely); identical schemas
          // pass through untouched
          graft.sources.Sources.unionEvolved(arr(o \ "dataSources").map {
            case JString(n) => resolve(n)
            case d => dataSource(spark, d, resolve, lookups, maxSubqueryRows)
          })
        case "query" =>
          // subqueries run UNFINALIZED (ClientQuerySegmentWalker inlines
          // with finalize=false): sketch aggregators keep their raw state so
          // the outer query can re-fold it. An explicit inner context
          // finalize flag wins.
          val innerQ = (o \ "query") match {
            case jo: JObject if (jo \ "context" \ "finalize") == JNothing =>
              val ctx = (jo \ "context") match {
                case c: JObject => c.obj; case _ => Nil
              }
              JObject(jo.obj.filterNot(_._1 == "context") :+
                ("context" -> JObject(ctx :+ ("finalize" -> JBool(false)))))
            case x => x
          }
          val sub0 = run(spark, innerQ, resolve, lookups)
          // a groupBy's merged result is ORDERED by bucket time then
          // dimensions (RowBasedGrouperHelper merge order) — the row order
          // is part of the subquery contract: an outer first/last breaks
          // timestamp ties by it (GroupByQueryRunnerTest
          // .testSubqueryWithFirstLast expects the dim-ordered fold)
          val (subPre, ordered) = {
            val iq = o \ "query"
            val naturalOrder: Seq[String] = strOpt(iq \ "queryType") match {
              case Some("groupBy") =>
                val t = strOpt(iq \ "timeColumn").getOrElse("__time")
                val dims = arr(iq \ "dimensions").map {
                  case JString(d) => d
                  case d => strOpt(d \ "outputName").getOrElse(str(d \ "dimension"))
                }
                (t +: dims).filter(sub0.columns.contains)
              case _ => Nil
            }
            if (naturalOrder.isEmpty) (sub0, false)
            else (sub0.orderBy(naturalOrder.map(col): _*), true)
          }
          val sub = subPre.transform { s =>
            // an ALL-granularity inner result has no time column, but its
            // ResultRows are TIMESTAMPED at the inner interval's start — the
            // outer query's interval filter applies against that
            // (GroupByQueryRunnerTest.testGroupByNestedWithInnerQueryNumericsWithLongTime)
            val innerTimeCol = strOpt(o \ "query" \ "timeColumn").getOrElse("__time")
            if (s.columns.contains(innerTimeCol)) s
            else DruidTime.intervals(o \ "query" \ "intervals").headOption match {
              case Some(i) => s.withColumn(innerTimeCol, lit(i.start))
              case None => s
            }
          }
          // The broker-side inlining semantics (ClientQuerySegmentWalker):
          // materialize the subquery ONCE, bounded at maxSubqueryRows + 1,
          // and serve the outer query from the inlined rows — a probe
          // count() followed by re-execution would run the subquery twice
          // and could return different rows for nondeterministic inputs.
          // The limit comes from the query's context, which carries the
          // server-level default when one is configured
          // (HttpFacade.start's defaultContext); absent both, it is
          // QueryContexts.DEFAULT_MAX_SUBQUERY_ROWS = 100000. <= 0 disables
          // inlining (the subquery stays a lazy distributed plan, unbounded).
          val max = maxSubqueryRows.getOrElse(100000)
          if (max <= 0) sub
          else {
            val rows = sub.limit(max + 1).collect()
            if (rows.length > max) throw new SubqueryRowLimitExceededException(max)
            if (!ordered)
              spark.createDataFrame(
                java.util.Arrays.asList(rows: _*), sub.schema)
            else {
              // the merged-result order is part of the contract (first/last
              // breaks timestamp ties by it), but DataFrame row order does
              // not survive partial-aggregate merges once the inlined rows
              // re-parallelize across partitions — materialize the order as
              // an explicit rank column; first/last fold on (time, rank)
              val withIdx = rows.zipWithIndex.map { case (r, i) =>
                org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i.toLong)
              }
              spark.createDataFrame(
                java.util.Arrays.asList(withIdx: _*),
                sub.schema.add(QueryCommon.RowOrderCol,
                  org.apache.spark.sql.types.LongType, nullable = false))
            }
          }
        case "globalTable" => broadcast(resolve(str(o \ "name")))
        // lookup datasource (reference: query/LookupDataSource.java:41 —
        // joinable, always broadcast, fixed string schema (k, v))
        case "lookup" =>
          val kv = lookups.get(str(o \ "lookup"))
          val (k, v) = (kv.columns(0), kv.columns(1))
          broadcast(kv.select(
            col(s"`$k`").cast("string").as("k"),
            col(s"`$v`").cast("string").as("v")))
        case "join" =>
          val left = dataSource(spark, o \ "left", resolve, lookups, maxSubqueryRows)
          val right = dataSource(spark, o \ "right", resolve, lookups, maxSubqueryRows)
          val prefix = strOpt(o \ "rightPrefix").getOrElse("r.")
          val renamed = right.columns.foldLeft(right)((d, c) => d.withColumnRenamed(c, prefix + c))
          // condition: conjunction of equi-conditions "a == b && c == d"
          // (reference: segment/join/JoinConditionAnalysis.java decomposes
          // on AND; each conjunct must be left == right-column)
          val joinType = strOpt(o \ "joinType").getOrElse("INNER").toLowerCase
          val conds = str(o \ "condition").split("&&").map(_.trim).map { one =>
            val sides = one.split("==").map(_.trim.stripPrefix("\"").stripSuffix("\""))
            require(sides.length == 2, s"join condition must be equi: $one")
            val rightKey = prefix + sides(1).stripPrefix(prefix)
            left(sides(0)) === renamed(s"`$rightKey`")
          }
          left.join(broadcast(renamed), conds.reduce(_ && _), joinType)
        case "inline" =>
          inlineDataSource(spark, o)
        case t => throw new IllegalArgumentException(s"unsupported dataSource type: $t")
      }
  }

  /** inline datasource (reference: query/InlineDataSource.java:48 — carries
    * a typed RowSignature). Types come from `columnTypes` when present, else
    * are inferred from the JSON row values (long < double < string). */
  private def inlineDataSource(spark: SparkSession, o: JValue): DataFrame = {
    import org.apache.spark.sql.types._
    val names = arr(o \ "columnNames").map { case JString(s) => s; case x => str(x) }
    // JSON array cells survive as Seq[Any] for ARRAY<> columns (ColumnType
    // array forms, ColumnType.java:30-41 — InlineDataSource rows may carry
    // MV/array values)
    val rows = arr(o \ "rows").map(r => arr(r).map {
      case JArray(vs) => vs.map(jvalueToAny)
      case v => jvalueToAny(v)
    })
    def sparkType(t: String): DataType = t.toUpperCase match {
      case "STRING" => StringType
      case "LONG" => LongType
      case "DOUBLE" => DoubleType
      case "FLOAT" => FloatType
      case "ARRAY<STRING>" | "STRING_ARRAY" => ArrayType(StringType)
      case "ARRAY<LONG>" | "LONG_ARRAY" => ArrayType(LongType)
      case "ARRAY<DOUBLE>" | "DOUBLE_ARRAY" => ArrayType(DoubleType)
      case x => throw new IllegalArgumentException(s"inline columnType: $x")
    }
    val declared = arr(o \ "columnTypes").map { case JString(s) => s; case x => str(x) }
    val types: Seq[DataType] =
      if (declared.nonEmpty) declared.map(sparkType)
      else names.indices.map { i =>
        val vs = rows.map(_(i)).filter(_ != null)
        if (vs.isEmpty) StringType
        else if (vs.forall(_.isInstanceOf[Long])) LongType
        else if (vs.forall(v => v.isInstanceOf[Long] || v.isInstanceOf[Double])) DoubleType
        else if (vs.forall(_.isInstanceOf[Seq[_]])) {
          val es = vs.flatMap(_.asInstanceOf[Seq[Any]]).filter(_ != null)
          if (es.nonEmpty && es.forall(_.isInstanceOf[Long])) ArrayType(LongType)
          else if (es.nonEmpty && es.forall(v => v.isInstanceOf[Long] || v.isInstanceOf[Double]))
            ArrayType(DoubleType)
          else ArrayType(StringType)
        }
        else StringType
      }
    val coerced = rows.map { r =>
      org.apache.spark.sql.Row.fromSeq(r.zip(types).map {
        case (null, _) => null
        case (v, LongType) => v match {
          case n: Long => n
          case n: Double => n.toLong
          case s => s.toString.toLong
        }
        case (v, DoubleType) => v match {
          case n: Long => n.toDouble
          case n: Double => n
          case s => s.toString.toDouble
        }
        case (v, FloatType) => v match {
          case n: Long => n.toFloat
          case n: Double => n.toFloat
          case s => s.toString.toFloat
        }
        case (v, ArrayType(et, _)) => v match {
          case vs: Seq[_] => vs.map {
            case null => null
            case e => et match {
              case LongType => e match {
                case n: Long => n; case n: Double => n.toLong
                case s => s.toString.toLong
              }
              case DoubleType => e match {
                case n: Long => n.toDouble; case n: Double => n
                case s => s.toString.toDouble
              }
              case _ => e.toString
            }
          }
          case s => Seq(s.toString) // scalar in an MV cell: single-element wrap
        }
        case (v, _) => v.toString
      })
    }
    spark.createDataFrame(spark.sparkContext.parallelize(coerced),
      StructType(names.zip(types).map { case (n, t) => StructField(n, t) }))
  }

  private def jvalueToAny(j: JValue): Any = j match {
    case JString(s) => s
    case JInt(i) => i.toLong
    case JLong(l) => l
    case JDouble(d) => d
    case JBool(b) => b
    case JNull => null
    case x => x.toString
  }

  // ---- intervals / virtual columns ----
  private def applyIntervals(df: DataFrame, j: JValue, timeCol: String): DataFrame = {
    val is = DruidTime.intervals(j)
    if (is.isEmpty) df
    else df.filter(is.map(_.containsTime(col(timeCol))).reduce(_ || _))
  }

  // virtualColumns accept the Druid math-expr dialect verbatim (identifier
  // quoting + &&/||/! handled by MathExpr; Druid function names registered
  // in GraftSqlFunctions). Spark SQL syntax remains a superset for exprs
  // that use neither double-quoted identifiers nor &&/||.
  private def applyVirtualColumns(df: DataFrame, j: JValue): DataFrame = j match {
    case JArray(vcs) =>
      vcs.foldLeft(df) { (d, vc) =>
        // the reference registers TWO virtual column subtypes
        // (VirtualColumn.java:50-53): "expression" (the default spelling)
        // and "mv-filtered" (ListFilteredVirtualColumn)
        strOpt(vc \ "type").getOrElse("expression") match {
          case "expression" =>
            // Druid auto-applies scalar functions over multi-value
            // identifiers (Parser.applyUnappliedBindings) — lift against
            // THIS datasource's array columns before resolution
            val arrayCols = d.schema.fields.collect {
              case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] => f.name
            }.toSet
            val c0 = MathExpr.expr(str(vc \ "expression"))
            val raw = if (arrayCols.isEmpty) c0 else {
              val bridge = org.apache.spark.sql.graftbridge.CatalystBridge
              val t = bridge.expression(c0)
              val lifted = graft.functions.MvAutoApply.lift(t, arrayCols)
              if (lifted eq t) c0 else bridge.column(lifted)
            }
            // ExpressionVirtualColumn.outputType casts the result (STRING/LONG/
            // DOUBLE/FLOAT and the ARRAY<> forms; ColumnType.java:30-41).
            // A SCALAR outputType over an expression that actually evaluates
            // to an ARRAY keeps the array (element-cast only): Druid treats
            // outputType as a HINT and the selector still presents the
            // multi-value — `map(x -> ..., tags)` declared STRING is the
            // documented MV idiom (MultiValuedDimensionTest
            // testGroupByExpression; ExpressionVirtualColumn.java
            // capabilities stay multi-value). Casting the array to a scalar
            // string here would collapse the MV into "[a, b]" junk.
            val rawType = d.select(raw).schema.head.dataType
            val isArray = rawType.isInstanceOf[org.apache.spark.sql.types.ArrayType]
            // under an EXPLICIT scalar outputType, a TIMESTAMP-valued
            // expression is a LONG of epoch millis in the math-expr dialect
            // (timestamp_floor feeding a LONG virtual column —
            // GroupByQueryRunnerTest.testGroupByOnVirtualColumnTimeFloor),
            // never epoch seconds. Without an outputType the timestamp stays
            // a timestamp — a virtual column may BE the query's time column
            // (timestamp_parse defining timeColumn).
            val raw1 = rawType match {
              case org.apache.spark.sql.types.TimestampType |
                   org.apache.spark.sql.types.TimestampNTZType
                  if strOpt(vc \ "outputType").nonEmpty =>
                unix_millis(raw.cast("timestamp"))
              case _ => raw
            }
            val typed = strOpt(vc \ "outputType").fold(raw1) { t =>
              val u = t.toUpperCase(java.util.Locale.ENGLISH)
              (u, isArray) match {
                case ("STRING", true) => raw1.cast("array<string>")
                case ("LONG", true) => raw1.cast("array<bigint>")
                case ("DOUBLE", true) => raw1.cast("array<double>")
                case ("FLOAT", true) => raw1.cast("array<float>")
                case ("STRING", _) => raw1.cast("string")
                case ("LONG", _) => raw1.cast("long")
                case ("DOUBLE", _) => raw1.cast("double")
                case ("FLOAT", _) => raw1.cast("float")
                case ("STRING_ARRAY" | "ARRAY<STRING>", _) => raw1.cast("array<string>")
                // a LONG_ARRAY declaration over a FLOATING-element array
                // keeps the raw values: the reference's outputType is a
                // capabilities hint, not a coercion — `array(index)` declared
                // LONG_ARRAY groups on the raw doubles
                // (GroupByQueryRunnerTest.testGroupByWithLongArrays)
                case ("LONG_ARRAY" | "ARRAY<LONG>", _) => rawType match {
                  case org.apache.spark.sql.types.ArrayType(
                      org.apache.spark.sql.types.DoubleType |
                      org.apache.spark.sql.types.FloatType, _) => raw1
                  case _ => raw1.cast("array<bigint>")
                }
                case ("DOUBLE_ARRAY" | "ARRAY<DOUBLE>", _) => raw1.cast("array<double>")
                case (x, _) => throw new IllegalArgumentException(s"virtualColumn outputType: $x")
              }
            }
            d.withColumn(str(vc \ "name"), typed)
          case "mv-filtered" =>
            // ListFilteredVirtualColumn.java:66-77: delegate (a DimensionSpec),
            // values, isAllowList (default true). The selector yields NULL —
            // not an empty cell — when nothing survives the list, which
            // mvFilterOnly/None already reproduce.
            val delegate: Column = (vc \ "delegate") match {
              case JString(dim) => col(dim)
              case o => str(o \ "type") match {
                case "default" => col(str(o \ "dimension"))
                case "extraction" =>
                  transform(col(str(o \ "dimension")),
                    x => extractionFn(o \ "extractionFn", x))
                case t => throw new IllegalArgumentException(s"mv-filtered delegate spec: $t")
              }
            }
            val values = arr(vc \ "values").map { case JString(s) => s; case x => str(x) }
            val allow = boolOpt(vc \ "isAllowList").getOrElse(true)
            // the delegate may be a SCALAR dimension (BaseFilterTest's
            // allow-dim0/deny-dim0): the decoration then keeps the value
            // when it passes the list, else NULL — the single-value
            // dimension-selector form of the same decorator
            val isScalarDelegate = !d.select(delegate).schema.head.dataType
              .isInstanceOf[org.apache.spark.sql.types.ArrayType]
            val filtered =
              if (isScalarDelegate) {
                val keep = if (allow) delegate.isin(values: _*)
                           else !coalesce(delegate.isin(values: _*), lit(false))
                when(keep, delegate)
              }
              else if (allow) DruidFunctions.mvFilterOnly(delegate, values)
              else DruidFunctions.mvFilterNone(delegate, values)
            d.withColumn(str(vc \ "name"), filtered)
          case t => throw new IllegalArgumentException(s"virtualColumn type: $t")
        }
      }
    case _ => df
  }

  /** StringComparators as sort/compare KEYS (reference: query/ordering/
    * StringComparators.java) — used by bound-filter orderings, limitSpec
    * dimensionOrder, and the dimension topN metric spec. `inputType` (when
    * the caller can resolve the column's schema type) short-circuits the
    * numeric comparator's per-row parseability regex for columns that are
    * already numeric. */
  private def comparatorKey(ordering: String, c: Column,
      inputType: Option[org.apache.spark.sql.types.DataType] = None): Column =
    // comparator names resolve case-insensitively ("NuMeRiC" —
    // StringComparatorsTest.java:217, StringComparator's @JsonCreator)
    StringOrderings.key(ordering.toLowerCase(java.util.Locale.ENGLISH), c, inputType)

  /** Comparator key of a plan-time string literal — parseability for the
    * numeric comparator is decided on the driver, no runtime regex. */
  private def comparatorKeyLit(ordering: String, s: String): Column =
    ordering.toLowerCase(java.util.Locale.ENGLISH) match {
      case "numeric" => StringOrderings.numericKeyLiteral(s)
      case o => StringOrderings.key(o, lit(s))
    }

  /** The schema type a value filter's per-value predicate sees for
    * `dimension`: the element type for an (MV) array column, the column
    * type otherwise; None when an extractionFn intervenes (its output is a
    * string) or the schema is unknown. */
  private def dimValueType(j: JValue,
      schema: org.apache.spark.sql.types.StructType): Option[org.apache.spark.sql.types.DataType] = {
    if (schema == null || (j \ "extractionFn") != JNothing) return None
    val name = str(j \ "dimension")
    schema.fields.collectFirst {
      case f if f.name == name => f.dataType match {
        case a: org.apache.spark.sql.types.ArrayType => a.elementType
        // TIMESTAMP columns present as epoch-millis longs to value filters
        case org.apache.spark.sql.types.TimestampType |
             org.apache.spark.sql.types.TimestampNTZType =>
          org.apache.spark.sql.types.LongType
        case t => t
      }
    }
  }

  // ---- dimension specs (§2.7) ----
  /** Schema-aware: a default/extraction spec over a MULTI-VALUE (ArrayType)
    * column explodes — one group per element (SURVEY §1.4,
    * GroupByQueryEngineV2.java:603), with extraction fns applied per
    * element like the reference's per-value dimension selector. Call sites
    * without a schema (cardinality field specs, bloom field) keep the
    * scalar behavior. */
  /** An ARRAY outputType over an array-valued dimension/expression: STRING
    * declarations convert elements to their string form; NUMERIC
    * declarations keep the expression's own element type — the reference
    * never narrows (GroupByQueryRunnerTest.testGroupByWithLongArrays:
    * `array(index)` declared LONG_ARRAY still groups and sorts on the raw
    * DOUBLE values). */
  private def arrayOutCast(src: Column, upperType: String): Column =
    upperType match {
      case "STRING_ARRAY" | "ARRAY<STRING>" => src.try_cast("array<string>")
      case _ => src
    }

  private def dimSpec(j: JValue, schema: org.apache.spark.sql.types.StructType = null): DimSpec = {
    def isArrayCol(name: String): Boolean = schema != null &&
      schema.fields.exists(f => f.name == name &&
        f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
    // a dimension naming a column the datasource doesn't have reads as NULL
    // (the reference's missing-column selector; schema-evolved segments and
    // TopNQueryRunnerTest.testTopNOnMissingColumnWithExtractionFn rely on
    // it). "__time" stays a loud error under a custom timeColumn.
    def missing(name: String): Boolean =
      schema != null && name != "__time" && !schema.fieldNames.contains(name)
    // a COMPLEX (binary) column has no string dimension selector: grouping
    // on it yields NULL groups (GroupByQueryRunnerTest.testGroupByComplexColumn)
    def isBinaryCol(name: String): Boolean = schema != null &&
      schema.fields.exists(f => f.name == name &&
        f.dataType == org.apache.spark.sql.types.BinaryType)
    // a TIMESTAMP column used as a dimension is a LONG of epoch millis
    // (__time has no timestamp type in the reference —
    // GroupByQueryRunnerTest.testGroupByLongTimeColumn)
    def isTsCol(name: String): Boolean = schema != null &&
      schema.fields.exists(f => f.name == name && (f.dataType match {
        case org.apache.spark.sql.types.TimestampType |
             org.apache.spark.sql.types.TimestampNTZType => true
        case _ => false
      }))
    def tsMillis(name: String): Column = unix_millis(col(name).cast("timestamp"))
    // DefaultDimensionSpec's outputType DEFAULTS TO STRING
    // (DefaultDimensionSpec.getOutputType: null → ColumnType.STRING): a
    // numeric or timestamp column named without an explicit outputType
    // groups — and orders, and renders — as its STRING form
    // (GroupByQueryRunnerTest.testGroupByLongAndFloatOutputAsString pins
    // "1200"/"12000.0"). Spark's cast matches the reference's
    // String.valueOf rendering for long/float/double.
    def isNumericCol(name: String): Boolean = schema != null &&
      schema.fields.exists(f => f.name == name &&
        f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
    j match {
    case JString(d) =>
      if (missing(d) || isBinaryCol(d)) ExprDim(lit(null).cast("string"), d)
      else if (isArrayCol(d)) MvDim(col(d), d)
      else if (isTsCol(d)) ExprDim(tsMillis(d).cast("string"), d)
      else if (isNumericCol(d)) ExprDim(col(d).cast("string"), d)
      else Dim(d)
    case o =>
      // lazy: the filtered-decorator specs carry a DELEGATE spec instead of
      // a direct dimension (ListFilteredDimensionSpec.java "delegate")
      lazy val dim = str(o \ "dimension")
      lazy val out = strOpt(o \ "outputName").getOrElse(dim)
      // DefaultDimensionSpec outputType coerces the dimension value
      // (DimensionHandlerUtils.convertObjectTo*: numeric parse of strings,
      // null on unparseable — Spark's cast has the same contract)
      def coerce(t: String): Option[String] = t.toUpperCase match {
        case "STRING" => Some("string")
        case "LONG" => Some("long")
        case "FLOAT" => Some("float")
        case "DOUBLE" => Some("double")
        case _ => None
      }
      // a typeless {"dimension": ..., "outputName": ...} object is a
      // DefaultDimensionSpec: DimensionSpec's @JsonTypeInfo declares
      // defaultImpl = LegacyDimensionSpec (DimensionSpec.java), which the
      // IT corpora rely on (nestedquerypushdown_queries.json's inner dims)
      strOpt(o \ "type").getOrElse("default") match {
        case "default" if missing(dim) || isBinaryCol(dim) =>
          ExprDim(lit(null).cast("string"), out)
        case "default" =>
          // an ARRAY outputType groups on the WHOLE array VALUE — no
          // multi-value unnesting (GroupByQueryRunnerTest
          // .testMultiValueDimensionAsArray: mv_to_array(placementish)
          // declared STRING_ARRAY yields one group per distinct array). A
          // SCALAR source wraps into a one-element array
          // (testSingleValueDimensionAsStringArrayWithoutExpression:
          // "placement" as STRING_ARRAY groups as ["preferred"]).
          strOpt(o \ "outputType").map(_.toUpperCase(java.util.Locale.ENGLISH))
              .filter(t => t.endsWith("_ARRAY") || t.startsWith("ARRAY<")) match {
            case Some(t) =>
              val src = if (isArrayCol(dim)) col(dim)
                else if (missing(dim)) lit(null).cast("array<string>")
                else array(col(dim))
              ExprDim(arrayOutCast(src, t), out)
            case None =>
          if (isArrayCol(dim)) MvDim(col(dim), out)
          else {
            val src = if (isTsCol(dim)) tsMillis(dim) else col(dim)
            strOpt(o \ "outputType").flatMap(coerce) match {
              // try_cast: DimensionHandlerUtils.convertObjectTo* returns
              // NULL on an unparseable value (TopNQueryRunnerTest
              // .testSortOnStringAsDouble), never an error
              case Some(t) => ExprDim(src.try_cast(t), out)
              // no outputType → STRING (DefaultDimensionSpec default)
              case None if isTsCol(dim) || isNumericCol(dim) =>
                ExprDim(src.cast("string"), out)
              case None => Dim(dim, out)
            }
          }
          }
        case "extraction" if isArrayCol(dim) =>
          // an ARRAY outputType keeps the transformed array whole (grouping
          // on the extracted tuple); otherwise the extraction applies per
          // element and the groups unnest (the reference's per-value
          // dimension selector — testExtractionStringSpecWithMultiValue-
          // VirtualDimAsInput pins the unnested form, and the *ArraySpec*
          // sibling documents the whole-array form its v2 engine rejects)
          val transformed = transform(col(dim), x => extractionFn(o \ "extractionFn", x))
          strOpt(o \ "outputType").map(_.toUpperCase(java.util.Locale.ENGLISH))
              .filter(t => t.endsWith("_ARRAY") || t.startsWith("ARRAY<")) match {
            case Some(t) => ExprDim(arrayOutCast(transformed, t), out)
            case None => MvDim(transformed, out)
          }
        case "extraction" =>
          // time-based extraction fns read the raw timestamp; every other fn
          // over a TIMESTAMP column sees the epoch-millis long (the
          // reference's __time selector is a long —
          // GroupByQueryRunnerTest.testGroupByLongTimeColumnWithExFn)
          val timeBased = strOpt(o \ "extractionFn" \ "type")
            .exists(t => t == "timeFormat" || t == "time")
          val src =
            if (missing(dim) || isBinaryCol(dim)) lit(null).cast("string")
            else if (isTsCol(dim) && !timeBased) tsMillis(dim)
            else col(dim)
          // an extraction spec's outputType re-types the EXTRACTED value
          // (ExtractionDimensionSpec.java outputType; strlen → LONG in
          // GroupByQueryRunnerTest.testGroupByStringOutputAsLong)
          val extracted = extractionFn(o \ "extractionFn", src)
          val typedOut = strOpt(o \ "outputType").flatMap(coerce)
            .fold(extracted)(t => extracted.try_cast(t))
          ExprDim(typedOut, out)
        // filtered decorators over a DELEGATE spec (ListFilteredDimensionSpec
        // .java "delegate"): match against the delegate's RAW (pre-
        // outputType) value in its STRING form — the decoration wraps the
        // string dimension selector BEFORE type conversion, so a STRING
        // column "170000" typed FLOAT still matches the pattern "170000"
        // (testGroupByNumericStringsAsNumericWithDecoration) while a LONG
        // column 1700 matches "1700" (testGroupByDecorationOnNumerics) —
        // and keep the delegate's TYPED value; a filtered-out SCALAR groups
        // as NULL
        case t @ ("listFiltered" | "regexFiltered" | "prefixFiltered")
            if (o \ "delegate") != JNothing =>
          val d = dimSpec(o \ "delegate", schema)
          val dRaw = dimSpec(o \ "delegate" match {
            case del: JObject => JObject(del.obj.filterNot(_._1 == "outputType"))
            case del => del
          }, schema)
          val keep: Column => Column = t match {
            case "listFiltered" =>
              val vs = arr(o \ "values").map { case JString(s) => s; case x => str(x) }
              val allow = boolOpt(o \ "isWhitelist").getOrElse(true)
              c => if (allow) c.cast("string").isin(vs: _*)
                   else !coalesce(c.cast("string").isin(vs: _*), lit(false))
            case "regexFiltered" => c => c.cast("string").rlike(str(o \ "pattern"))
            case "prefixFiltered" => c => c.cast("string").startsWith(str(o \ "prefix"))
          }
          d match {
            case MvDim(c, dout) =>
              MvDim(org.apache.spark.sql.functions.filter(c, keep), dout)
            case other => ExprDim(when(keep(dRaw.col), other.col), other.output)
          }
        case "listFiltered" =>
          ListFilteredDim(col(dim), arr(o \ "values").map { case JString(s) => s; case x => str(x) }, out)
        case "regexFiltered" =>
          MvDim(org.apache.spark.sql.functions.filter(
            col(dim), x => x.rlike(str(o \ "pattern"))), out)
        case "prefixFiltered" =>
          PrefixFilteredDim(col(dim), str(o \ "prefix"), out)
        case t => throw new IllegalArgumentException(s"dimension spec: $t")
      }
    }
  }

  private def extractionFn(j: JValue, c: Column): Column = str(j \ "type") match {
    case "identity" => c
    case "substring" =>
      // SubstringDimExtractionFn: values at or shorter than the start index
      // map to null (SubstringDimExtractionFnTest.java:34-42,89-99);
      // a zero/negative length is a construction-time error (:44-49)
      val idx = intOpt(j \ "index").getOrElse(0)
      val len = intOpt(j \ "length")
      len.foreach(l => require(l > 0, "length must be strictly positive"))
      val sub = len.fold(c.substr(lit(idx + 1), length(c)))(l => c.substr(lit(idx + 1), lit(l)))
      when(length(c) > idx, sub)
    case "upper" => upper(c)
    case "lower" => lower(c)
    case "strlen" => length(c).cast("string")
    case "regex" =>
      // RegexDimExtractionFn.apply (RegexDimExtractionFn.java:104-117):
      // find() the pattern, emit the configured group (default 1); on no
      // match, the ORIGINAL value — or replaceMissingValueWith when
      // replaceMissingValue is set
      val expr = str(j \ "expr")
      val idx = intOpt(j \ "index").getOrElse(1)
      val onMiss =
        if (boolOpt(j \ "replaceMissingValue").getOrElse(false))
          strOpt(j \ "replaceMissingValueWith").map(lit).getOrElse(lit(null).cast("string"))
        else c
      when(c.rlike(expr), regexp_extract(c, expr, idx)).otherwise(onMiss)
    case "timeFormat" =>
      // TimeFormatExtractionFn: optional granularity truncation, then
      // Joda-style pattern rendering with locale + zone; a null pattern
      // renders ISO-8601 millis; asMillis reads the input as epoch millis
      val tz = strOpt(j \ "timeZone").orNull
      val localeTag = strOpt(j \ "locale").orNull
      // input typing is schema-dependent (raw __time is a timestamp, a
      // re-extracted inner dim is an epoch-millis LONG): DruidTimeInput
      // resolves it lazily per TimeFormatExtractionFn.apply's contract
      val t0 = {
        val bridge = org.apache.spark.sql.graftbridge.CatalystBridge
        bridge.column(graft.functions.TimeFormatExtractionInput(
          bridge.expression(c), boolOpt(j \ "asMillis").getOrElse(false)))
      }
      val t = (j \ "granularity") match {
        case JNothing | JNull | JString("none") => t0
        case g => DruidTime.granularity(g) match {
          case AllGranularity | NoneGranularity => t0
          case pg: PeriodGranularity => pg.bucket(t0).cast("timestamp")
          case dg: DurationGranularity => dg.bucket(t0).cast("timestamp")
        }
      }
      strOpt(j \ "format") match {
        // asMillis with NO format: the formatter is null and apply returns
        // String.valueOf(truncated millis)
        // (TimeFormatExtractionFn.java:62, apply(long))
        case None if boolOpt(j \ "asMillis").getOrElse(false) =>
          unix_millis(t).cast("string")
        // Spark's pattern dialect caps day-of-week text at E..EEE; full
        // names (Joda "EEEE", TimeFormatExtractionFn's dialect) render
        // through the java.time formatter instead
        case Some(f) if localeTag == null && tz == null && !f.matches(".*E{4,}.*") =>
          date_format(t, f)
        case fmt =>
          val bridge = org.apache.spark.sql.graftbridge.CatalystBridge
          bridge.column(LocaleTimeFormat(
            bridge.expression(unix_millis(t)), fmt.orNull, localeTag, tz))
      }
    // time: reparse with timeFormat, re-render with resultFormat; values the
    // input format cannot parse pass through UNCHANGED (TimeDimExtractionFn
    // .java apply — TimeDimExtractionFnTest.java:46-60 "foo" → "foo")
    case "time" =>
      val parsed = try_to_timestamp(c, lit(str(j \ "timeFormat")))
      when(parsed.isNotNull, date_format(parsed, str(j \ "resultFormat"))).otherwise(c)
    // stringFormat: sprintf of the value (StringFormatExtractionFn);
    // nullHandling NULLSTRING (default) formats null as the string "null"
    case "stringFormat" =>
      val fmt = str(j \ "format")
      // empty format is a construction-time error
      // (StringFormatExtractionFnTest.java:65-69)
      require(fmt != null && fmt.nonEmpty, "format string should not be empty")
      // NullHandling.forValue uppercases, unknown values error
      // (StringFormatExtractionFn.java forValue; Test.java:80-86)
      strOpt(j \ "nullHandling").getOrElse("NULLSTRING")
          .toUpperCase(java.util.Locale.ENGLISH) match {
        case "RETURNNULL" => when(c.isNull, lit(null)).otherwise(format_string(fmt, c))
        case "EMPTYSTRING" => format_string(fmt, coalesce(c.cast("string"), lit("")))
        case "NULLSTRING" => format_string(fmt, coalesce(c.cast("string"), lit("null")))
        case o => throw new IllegalArgumentException(s"invalid nullHandling value: $o")
      }
    // partial: value when it matches the regex, else null
    // (MatchingDimExtractionFn)
    case "partial" => when(c.rlike(str(j \ "expr")), c)
    // searchQuery: value when the search spec matches, else null
    // (SearchQuerySpecDimExtractionFn)
    case "searchQuery" => when(searchMatcher(j \ "query")(c), c)
    // lookup: inline map ({"lookup": {"type": "map", "map": {...}}}) or
    // registered name — map-literal apply, retain/replace missing semantics
    // (LookupExtractionFn / RegisteredLookupExtractionFn)
    case "lookup" | "registeredLookup" =>
      val m: Map[String, String] = (j \ "lookup") match {
        case JString(name) => LookupRegistry.global.asMap(name)
        case o => (o \ "map") match {
          // a key mapped to JSON null behaves exactly like an UNMAPPED key
          // under every retain/replace flag combination (LookupExtractionFn
          // .apply routes null and missing through the same
          // isNullOrEmpty(retVal) branch; GroupByQueryRunnerTest
          // .testGroupByWithExtractionDimFilterCaseMappingValueIsNullOrEmpty
          // maps mezzanine→null and expects it NOT to match '')
          case JObject(fs) => fs.collect {
            case (k, v) if v != JNull && v != JNothing => k -> str(v)
          }.toMap
          case x => throw new IllegalArgumentException(s"lookup extractionFn map: $x")
        }
      }
      val hit = element_at(typedLit(m), c.cast("string"))
      // the extraction output contract is STRING: retaining a NUMERIC
      // original must retain its string form, or coalesce's type coercion
      // silently casts the map values to the column's numeric type
      // (LongFilteringTest.testLongFilterWithExtractionFn)
      if (boolOpt(j \ "retainMissingValue").getOrElse(false))
        coalesce(hit, c.cast("string"))
      else strOpt(j \ "replaceMissingValueWith").fold(hit)(r => coalesce(hit, lit(r)))
    case "bucket" =>
      // BucketExtractionFn.bucket (BucketExtractionFn.java:95-99): string
      // output, whole values rendered as longs ("2" not "2.0"), unparseable
      // input → null (the parseable gate covers Double.parseDouble's common
      // decimal/exponent forms)
      val size = dblOpt(j \ "size").getOrElse(1.0)
      val off = dblOpt(j \ "offset").getOrElse(0.0)
      val s = c.cast("string")
      val num = when(s.rlike("^[+-]?(\\d+(\\.\\d*)?|\\.\\d+)([eE][+-]?\\d+)?$"), s.cast("double"))
      val b = floor((num - off) / size) * size + off
      when(b === b.cast("long"), b.cast("long").cast("string")).otherwise(b.cast("string"))
    case "cascade" =>
      arr(j \ "extractionFns").foldLeft(c)((cc, f) => extractionFn(f, cc))
    case t => throw new IllegalArgumentException(s"extractionFn: $t")
  }

  /** Search query specs (reference: query/search/SearchQuerySpec.java:32-36 —
    * contains / insensitive_contains / fragment), shared by the search query
    * type, the search filter, and the searchQuery extraction fn. Fragment
    * matches when ALL fragments occur. `caseSensitive` is a primitive
    * boolean in the reference (ContainsSearchQuerySpec.java:41,
    * FragmentSearchQuerySpec), so the JSON default is false. */
  private def searchMatcher(spec: JValue): Column => Column = {
    val caseSensitive = boolOpt(spec \ "caseSensitive").getOrElse(false)
    def one(v: String): Column => Column =
      if (caseSensitive) _.contains(v) else c => lower(c).contains(v.toLowerCase)
    spec match {
      // absent query / bare string: Druids.newSearchQueryBuilder().query(s)
      // is an InsensitiveContainsSearchQuerySpec; absent matches everything
      // (SearchQueryRunnerTest.testSearchAll's no-query variant)
      case JNothing | JNull => return (_ => lit(true))
      case JString(s) =>
        val v = s; return (c => lower(c).contains(v.toLowerCase))
      case _ => ()
    }
    str(spec \ "type") match {
      case "contains" => one(str(spec \ "value"))
      case "insensitive_contains" =>
        val v = str(spec \ "value"); c => lower(c).contains(v.toLowerCase)
      case "fragment" =>
        val frags = arr(spec \ "values").map { case JString(s) => s; case x => str(x) }
        c => frags.map(f => one(f)(c)).reduce(_ && _)
      // regex find() over the value (RegexSearchQuerySpec.java:77-84);
      // nulls never match
      case "regex" =>
        val p = str(spec \ "pattern"); c => c.rlike(p)
      // everything matches, nulls included (AllSearchQuerySpec.java:31-34)
      case "all" => _ => lit(true)
      case t => throw new IllegalArgumentException(s"search spec: $t")
    }
  }

  // ---- filters (§2.4) ----
  private def filterOpt(j: JValue, schema: org.apache.spark.sql.types.StructType = null): Option[Column] = j match {
    case JNothing | JNull => None
    case o => Some(filter(o, schema))
  }

  /** Multi-value dimension semantics (SURVEY §1.4, Filter.java:93): a value
    * filter on an ArrayType column matches when ANY element matches, so the
    * per-value predicate is wrapped in exists() when the input schema says
    * the dimension is an array (and no extractionFn intervenes). */
  /** A value filter's plan-time literal parsed to the dimension's COLUMN
    * type (DimensionHandlerUtils.convertObjectTo* — a FLOAT column matches
    * "1.1" as the float 1.1f, not the double 1.1). None = the value cannot
    * represent in the column's type, so the filter matches nothing. */
  private def typedFilterValue(raw: Any,
      vt: Option[org.apache.spark.sql.types.DataType]): Option[Any] = {
    import org.apache.spark.sql.types._
    def num[T](f: String => T): Option[Any] =
      try Some(f(raw.toString)) catch {
        case _: NumberFormatException | _: ArithmeticException => None
      }
    vt match {
      case Some(FloatType) => num(_.toFloat)
      case Some(DoubleType) => num(_.toDouble)
      // integral columns accept EXACT decimal forms: "3.0" selects the
      // long 3, "3.000...001" selects nothing
      // (DimensionHandlerUtils.getExactLongFromDecimalString;
      // LongFilteringTest.testLongColumnFiltering)
      case Some(LongType) =>
        num(s => new java.math.BigDecimal(s).longValueExact())
      case Some(IntegerType) =>
        num(s => new java.math.BigDecimal(s).intValueExact())
      case _ => Some(raw)
    }
  }

  private def mvAware(j: JValue, schema: org.apache.spark.sql.types.StructType)(
      pred: Column => Column): Column = {
    val name = str(j \ "dimension")
    val isArray = schema != null &&
      schema.fields.exists(f => f.name == name &&
        f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
    // a filter naming a column the datasource doesn't have evaluates over
    // NULL (missing-column selector: selector(bogus, null) matches every
    // row, any concrete value matches none — the reference's
    // nonexistent-dimension filter semantics). "__time" is exempt: under a
    // custom timeColumn a __time reference is a query bug that must stay a
    // loud analysis error, not silently null
    val missing = schema != null && name != "__time" &&
      !schema.fieldNames.contains(name)
    // a COMPLEX (binary, stored-sketch) column has no string dimension
    // selector — filters over it see NULL, so selector(complexCol, null)
    // matches every row (GroupByQueryRunnerTest.testGroupByComplexColumn)
    val complex = schema != null && schema.fields.exists(f =>
      f.name == name && f.dataType == org.apache.spark.sql.types.BinaryType)
    if (isArray) {
      // per-ELEMENT matching, with extraction fns applied per element (the
      // per-value dimension selector). An EMPTY multi-value cell (and a
      // null one) presents as a NULL row value — Druid stores [] as a null
      // selector value, so IN(null)/selector(null) match the empty-cell
      // rows (InFilterTest.testMultiValueStringColumn: dim2=[] matches
      // null) and an extraction over an empty cell extracts from null
      // (SelectorFilterTest.testSelectorWithLookupExtractionFn: the
      // replace-missing lookup turns dim2=[] into its replacement)
      val elemPred: Column => Column = c => pred((j \ "extractionFn") match {
        case JNothing | JNull => c
        case f => extractionFn(f, c)
      })
      val arr = col(name)
      when(arr.isNull || size(arr) === 0, elemPred(lit(null).cast("string")))
        .otherwise(exists(arr, e => elemPred(e)))
    }
    else if (missing || complex) {
      val nullCol = lit(null).cast("string")
      pred((j \ "extractionFn") match {
        case JNothing | JNull => nullCol
        case f => extractionFn(f, nullCol)
      })
    } else {
      // a TIMESTAMP column presents to value filters as its epoch-millis
      // LONG — the reference's __time dimension selector is a long, so a
      // bound/selector compares against "1301616000000"
      // (GroupByQueryRunnerTest.testGroupByWithTimeColumn's time predicate,
      // testGroupByWithHavingSpecOnLongAndFloat's time_alias selector)
      val isTs = schema != null && schema.fields.exists(f =>
        f.name == name && (f.dataType match {
          case org.apache.spark.sql.types.TimestampType |
               org.apache.spark.sql.types.TimestampNTZType => true
          case _ => false
        }))
      if (!isTs) pred(dimWithExtraction(j))
      else {
        val base = unix_millis(col(name).cast("timestamp"))
        pred((j \ "extractionFn") match {
          case JNothing | JNull => base
          case f => extractionFn(f, base)
        })
      }
    }
  }

  private def filter(j: JValue, schema: org.apache.spark.sql.types.StructType = null): Column = str(j \ "type") match {
    case "and" => arr(j \ "fields").map(filter(_, schema)).reduce(_ && _)
    case "or" => arr(j \ "fields").map(filter(_, schema)).reduce(_ || _)
    case "not" => !filter(j \ "field", schema)
    // "extraction" is the deprecated spelling of selector + extractionFn
    // (ExtractionDimFilter.java — "use a selector filter with an
    // extractionFn instead"; GroupByQueryRunnerTest's extraction-filter
    // family still issues it)
    case "selector" | "extraction" =>
      (j \ "value") match {
        case JNull | JNothing => mvAware(j, schema)(_.isNull)
        case v => typedFilterValue(jvalueToAny(v), dimValueType(j, schema)) match {
          // an unparseable value against a NUMERIC column matches nothing
          // (DimensionHandlerUtils parse-to-column-type; never errors)
          case None => mvAware(j, schema)(_ => lit(false))
          case Some(tv) => mvAware(j, schema)(_ <=> lit(tv))
        }
      }
    case "in" =>
      // a null in the value list matches null dimension values
      // (InDimFilter's containsNull handling) — isin alone would return
      // null for them; non-null values parse to the COLUMN'S type like the
      // selector (a FLOAT column matches "1.1" as 1.1f —
      // SelectorFilterTest.testExpressionVirtualColumn)
      val vt = dimValueType(j, schema)
      val vs0 = arr(j \ "values").map(jvalueToAny)
      val (nulls, vsRaw) = vs0.partition(_ == null)
      val vs = vsRaw.flatMap(v => typedFilterValue(v, vt))
      mvAware(j, schema) { c =>
        val base = if (vs.isEmpty) lit(false) else c.isin(vs: _*)
        if (nulls.nonEmpty) base <=> lit(true) || c.isNull else base
      }
    case "bound" =>
      // ordering: lexicographic (reference default) / numeric / alphanumeric
      // / version / strlen — both sides compared through the comparator KEY
      // (BoundDimFilter.java:50 + StringComparators), so e.g. version
      // ordering puts "1.2.10" above "1.2.9" instead of silently comparing
      // lexicographically
      val ordering = strOpt(j \ "ordering").getOrElse("lexicographic")
      def boundLit(v: JValue) = comparatorKeyLit(ordering, jvalueToAny(v).toString)
      val inputType = dimValueType(j, schema)
      val lowerAbsent = (j \ "lower") match {
        case JNothing | JNull => true; case _ => false
      }
      mvAware(j, schema) { c0 =>
        val c = comparatorKey(ordering, c0, inputType)
        val lower = (j \ "lower") match {
          case JNothing | JNull => None
          case v => Some(if (boolOpt(j \ "lowerStrict").getOrElse(false)) c > boundLit(v) else c >= boundLit(v))
        }
        val upper = (j \ "upper") match {
          case JNothing | JNull => None
          case v => Some(if (boolOpt(j \ "upperStrict").getOrElse(false)) c < boundLit(v) else c <= boundLit(v))
        }
        val cond = (lower ++ upper).reduce(_ && _)
        // SQL-compatible null handling: a NULL value matches exactly when
        // the bound has NO lower limit — null sorts below everything
        // (BoundDimFilter's null predicate branch;
        // BoundFilterTest.testLexicographicMatchMissingColumn pins
        // lower=null/upper="" matching every null row while
        // lower=""/upper=null matches none)
        when(c0.isNull, lit(lowerAbsent)).otherwise(cond)
      }
    case "like" =>
      // LikeDimFilter: %/_ pattern with an optional custom escape character
      // (LikeDimFilter.java `escape`; LikeDimFilterTest.java:38 posts "@").
      // Druid's escape may precede ANY character (it just literalizes it —
      // "@bar" means "bar", an escape escaping itself doubles), and % / _
      // cross NEWLINES (the compiled matcher is DOTALL) — Spark's LIKE
      // rejects mid-pattern escapes, so the pattern compiles to the
      // reference's own anchored DOTALL regex at plan time
      // (LikeDimFilter.LikeMatcher.from).
      val pattern = str(j \ "pattern")
      val escapeChar: Option[Char] = strOpt(j \ "escape").map { e =>
        require(e.length == 1, "Escape must be null or a single character")
        e.charAt(0)
      }
      val rx = new StringBuilder("(?s)^")
      var i = 0
      while (i < pattern.length) {
        val ch = pattern.charAt(i)
        if (escapeChar.contains(ch) && i + 1 < pattern.length) {
          rx.append(java.util.regex.Pattern.quote(pattern.charAt(i + 1).toString))
          i += 2
        } else {
          ch match {
            case '%' => rx.append(".*")
            case '_' => rx.append(".")
            case c => rx.append(java.util.regex.Pattern.quote(c.toString))
          }
          i += 1
        }
      }
      rx.append("$")
      val compiled = rx.toString
      mvAware(j, schema)(_.rlike(compiled))
    case "regex" => mvAware(j, schema)(_.rlike(str(j \ "pattern")))
    case "search" => mvAware(j, schema)(searchMatcher(j \ "query"))
    case "interval" =>
      // the reference applies interval filters to __time AND to plain LONG
      // millis columns (IntervalDimFilter.java — bounds become long range
      // filters); branch on the column's schema type so a long column
      // compares against epoch-millis bounds instead of a timestamp literal
      val dimName = str(j \ "dimension")
      val c0 = col(dimName)
      // long/int columns hold epoch millis; STRING dimensions parse each
      // value as an epoch-millis long too (IntervalDimFilter builds long
      // range predicates via DimensionHandlerUtils —
      // TimeFilteringTest.testIntervalFilterOnStringDimension matches the
      // string "3" against the .003 interval); only genuine time columns
      // compare as timestamps
      val dimType = schema match {
        case null => None
        case s => s.fields.collectFirst { case f if f.name == dimName => f.dataType }
      }
      val (c, asMillis) = dimType match {
        case Some(org.apache.spark.sql.types.LongType |
                  org.apache.spark.sql.types.IntegerType) => (c0, true)
        case Some(org.apache.spark.sql.types.StringType) =>
          (c0.try_cast("long"), true)
        case _ => (c0, false)
      }
      DruidTime.intervals(j \ "intervals").map { i =>
        if (asMillis) i.containsMillis(c) else i.containsTime(c)
      }.reduce(_ || _)
    case "columnComparison" =>
      // ColumnComparisonFilter.overlap: each dimension's VALUE SET (every
      // multi-value element, rendered as its string form; a missing column
      // or empty MV cell contributes the null value) must share at least
      // one value with the FIRST dimension's set — null compares equal to
      // null (ColumnComparisonFilterTest: the two missing columns match on
      // every row, and "8" matches the long 8 through the string form)
      def valueSet(dj: JValue): Column = {
        val name = dj match {
          case JString(d) => d
          case o => str(o \ "dimension")
        }
        val exFn: Column => Column = dj match {
          case o: JObject if (o \ "extractionFn") != JNothing =>
            c => extractionFn(o \ "extractionFn", c)
          case _ => identity
        }
        val absent = schema != null && !schema.fieldNames.contains(name)
        val isArr = schema != null && schema.fields.exists(f =>
          f.name == name && f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
        if (absent) array(exFn(lit(null).cast("string")))
        else if (isArr) {
          val c = col(name)
          when(c.isNull || size(c) === 0, array(exFn(lit(null).cast("string"))))
            .otherwise(transform(c, x => exFn(x.cast("string"))))
        } else array(exFn(col(name).cast("string")))
      }
      val sets = arr(j \ "dimensions").map(valueSet)
      val first = sets.head
      sets.tail.map(s => exists(first, x => exists(s, y => x <=> y)))
        .reduce(_ && _)
    // spatial filter (SpatialDimFilter.java): the dimension is an
    // "x,y"-encoded coordinate (Druid spatial dims join coords with ',');
    // bounds rectangular / radius / polygon over SpatialFunctions — the
    // rectangle conjuncts stay min/max-prunable
    case "spatial" =>
      val c = col(str(j \ "dimension"))
      // unparseable coordinates ("_mmx.unknown" in the reference's own
      // fixture, SpatialFilterTest) read as null and never match — never
      // an ANSI cast error
      val x = split(c, ",").getItem(0).try_cast("double")
      val y = split(c, ",").getItem(1).try_cast("double")
      val b = j \ "bound"
      str(b \ "type") match {
        case "rectangular" =>
          val mins = arr(b \ "minCoords").map(dbl)
          val maxs = arr(b \ "maxCoords").map(dbl)
          graft.functions.SpatialFunctions.withinRectangle(x, y, mins(0), mins(1), maxs(0), maxs(1))
        case "radius" =>
          val cc = arr(b \ "coords").map(dbl)
          graft.functions.SpatialFunctions.withinRadius(x, y, cc(0), cc(1), dbl(b \ "radius"))
        case "polygon" =>
          graft.functions.SpatialFunctions.withinPolygon(x, y,
            arr(b \ "abscissa").map(dbl), arr(b \ "ordinate").map(dbl))
        case t => throw new IllegalArgumentException(s"spatial bound: $t")
      }
    // bloom filter (extensions-core/druid-bloom-filter BloomDimFilter):
    // bloomKFilter carries the base64 serialized filter. Documented
    // Both binary formats are accepted, dispatched on the first byte: the
    // reference's BloomKFilter starts with numHashFunctions ≥ 1
    // (BloomKFilter.java:135 serialize), Spark's bloom sketch with a
    // big-endian version int whose first byte is 0 — so filters POSTed by
    // a real Druid client (BloomDimFilter.java base64) test natively, and
    // Spark-built filters keep working.
    case "bloom" =>
      // MIME decoder: accepts both a Druid client's unchunked base64 and
      // Spark's line-wrapped base64() output fed back from the bloom agg.
      // Routed through mvAware like selector/in, so multi-value columns
      // test per element (empty cell → null), missing columns test null,
      // and extraction fns apply per element — BloomDimFilterTest's
      // testMultiValueStringColumn / testMissingColumn* /
      // testSelectorWithLookupExtractionFn semantics
      val bytes = java.util.Base64.getMimeDecoder.decode(str(j \ "bloomKFilter"))
      mvAware(j, schema) { c =>
        if (bytes.nonEmpty && bytes(0) != 0)
          graft.plans.BloomFunctions.druidBloomTest(lit(bytes), c)
        else
          graft.plans.BloomFunctions.mightContain(lit(bytes), c)
      }
    // predicate-position truthiness: a numeric/string-valued expression is
    // true when > 0 / parses "true" (Evals.java:60-73) — boolean
    // expressions resolve through untouched (RuntimeReplaceable)
    case "expression" =>
      val bridge = org.apache.spark.sql.graftbridge.CatalystBridge
      val t00 = bridge.expression(MathExpr.expr(str(j \ "expression")))
      // identifiers the datasource doesn't have evaluate as NULL — the
      // missing-column selector semantics apply inside expressions too
      // (ExpressionFilterTest.testMissingColumn: "missing == ''" matches
      // nothing in SQL-compatible mode rather than failing analysis)
      val t0 = if (schema == null) t00 else t00.transformUp {
        case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
            if ua.nameParts.length == 1 &&
              !schema.fieldNames.contains(ua.nameParts.head) =>
          org.apache.spark.sql.catalyst.expressions.Literal(
            null, org.apache.spark.sql.types.StringType)
      }
      val arrayCols: Set[String] =
        if (schema == null) Set.empty
        else schema.fields.collect {
          case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] => f.name
        }.toSet
      val t = if (arrayCols.isEmpty) t0 else graft.functions.MvAutoApply.lift(t0, arrayCols)
      if (t eq t0) bridge.column(graft.functions.DruidTruthyExpr(t0))
      else
        // the auto-apply lifted a scalar predicate over an MV column to an
        // ARRAY — ExpressionFilter.makeMatcher then matches when ANY
        // non-null element is truthy, and a null array matches nothing
        // (ExpressionFilter.java matches() isArray branch)
        coalesce(
          org.apache.spark.sql.functions.exists(bridge.column(t),
            x => bridge.column(graft.functions.DruidTruthyExpr(bridge.expression(x)))),
          lit(false))
    case "true" => lit(true)
    case "false" => lit(false)
    case t => throw new IllegalArgumentException(s"filter type: $t")
  }

  private def dimWithExtraction(j: JValue): Column = {
    val c = col(str(j \ "dimension"))
    (j \ "extractionFn") match {
      case JNothing | JNull => c
      case f => extractionFn(f, c)
    }
  }

  /** finalize=false context → default shouldFinalize to false on every
    * finalizable aggregator (explicit per-agg flags win). Recurses into
    * filtered wrappers. */
  private def injectNoFinalize(aggsJ: JValue): JValue = aggsJ match {
    case JArray(as) => JArray(as.map {
      case o: JObject if strOpt(o \ "type").contains("filtered") =>
        JObject(o.obj.map {
          case ("aggregator", inner) =>
            ("aggregator", injectNoFinalize(JArray(List(inner))) match {
              case JArray(List(x)) => x; case x => x
            })
          case kv => kv
        })
      case o: JObject if strOpt(o \ "type").exists(Finalizers.contains) &&
          (o \ "shouldFinalize") == JNothing =>
        JObject(o.obj :+ ("shouldFinalize" -> JBool(false)))
      case x => x
    })
    case x => x
  }

  /** Output-time finalization of sketch-typed aggregators, matching the
    * reference's AggregatorFactory.finalizeComputation contract: post-aggs
    * see the raw sketch column, but the query OUTPUT carries the finalized
    * value — theta → estimate (SketchMergeAggregatorFactory.java:125-131,
    * unless shouldFinalize=false), quantiles sketch → stream length n
    * (DoublesSketchAggregatorFactory.java:354-357), HLL → estimate with
    * optional round (HllSketchAggregatorFactory.java:180-190), tuple sketch
    * → distinct-key estimate. */
  private def aggFinalizers(j: JValue): DataFrame => DataFrame = {
    val fs = aggFinalizerPairs(j)
    df => fs.foldLeft(df) { case (d, (n, f)) =>
      if (d.columns.contains(n)) d.withColumn(n, f(col(n))) else d
    }
  }

  /** The aggregator types whose finalizeComputation is non-identity, with
    * their output-time step (given the aggregator's spec). Under a
    * `finalize=false` context every type here emits raw state instead
    * ([[injectNoFinalize]]). hyperUnique finalizes at eval time — its
    * aggregation reads shouldFinalize itself — so it has no output step,
    * and cardinality (whose collector state is not exposed) is absent. */
  private val Finalizers: Map[String, Option[JValue => Column => Column]] = {
    import graft.plans.SketchFunctions
    def each(types: String*)(f: JValue => Column => Column) = types.map(_ -> Some(f))
    Map[String, Option[JValue => Column => Column]]("hyperUnique" -> None) ++
    // approxHistogram renders to the centroid summary unless a post-agg
    // reads the raw state column (shouldFinalize contract)
    each("approxHistogram", "approxHistogramFold")(_ => c => {
      val bridge = org.apache.spark.sql.graftbridge.CatalystBridge
      bridge.column(graft.plans.ApproxHistPostAgg(bridge.expression(c), "summary"))
    }) ++
    // incl. the OLD API names (OldApiSketchModule sketchBuild/Merge)
    each("thetaSketch", "sketchBuild", "sketchMerge")(_ => SketchFunctions.thetaEstimate) ++
    // bloom renders base64 of the BloomKFilter bytes
    // (BloomFilterSerializersModule); unfinalized (a subquery) it stays
    // BINARY so an outer bloom aggregate can MERGE it
    each("bloom")(_ => base64) ++
    // shouldFinalize=false keeps the serialized bytes — the shape a
    // re-aggregating outer query (or a rollup sink) consumes
    each("arrayOfDoublesSketch")(_ => SketchFunctions.tupleEstimate) ++
    each("quantilesDoublesSketch", "quantilesDoublesSketchMerge")(_ => SketchFunctions.kllN) ++
    // shouldFinalize=false keeps DataSketches HLL bytes for an outer
    // HLLSketchMerge — same contract as the theta/tuple/kll families
    each("HLLSketchBuild", "HLLSketchMerge") { a =>
      val doRound = boolOpt(a \ "round").getOrElse(false)
      c =>
        // round=false must yield the fractional DataSketches estimate
        // (HllSketchAggregatorFactory.finalizeComputation); round=true
        // the rounded long. Computed from the graft expression, NOT
        // the "hll_sketch_estimate" name: Spark 4's functions API
        // resolves by name through the session registry, where the
        // Druid-parity HLL_SKETCH_ESTIMATE override (fractional
        // DOUBLE) would hijack this engine-internal call
        if (doRound) round(SketchFunctions.hyperUniqueEstimate(c)).cast("long")
        else SketchFunctions.hyperUniqueEstimate(c)
    }
  }

  /** name → finalizer for every aggregator with an output-time step in
    * [[Finalizers]] and shouldFinalize unset or true. */
  private def aggFinalizerPairs(j: JValue): Seq[(String, Column => Column)] =
    arr(j).flatMap { a0 =>
      // a filtered wrapper finalizes like its inner aggregator
      val a = if (strOpt(a0 \ "type").contains("filtered")) a0 \ "aggregator" else a0
      for {
        name <- (strOpt(a0 \ "name") orElse strOpt(a \ "name")).toSeq
        if boolOpt(a \ "shouldFinalize").getOrElse(true)
        f <- strOpt(a \ "type").flatMap(Finalizers.get).flatten.toSeq
      } yield name -> f(a)
    }

  // ---- aggregations (§2.6) ----

  /** Druid's lenient per-value numeric coercion for aggregator inputs
    * (Rows.objectToNumber — a STRING metric column aggregates by parsing
    * each value, long first then double with truncation toward zero;
    * unparseable → null, skipped by the aggregate;
    * SchemaEvolutionTest.java:258 pins longSum/doubleSum over a string c1).
    * try_cast keeps proper numeric columns exact and never raises under
    * ANSI. */
  private def lenientLong(f: Column): Column =
    coalesce(f.try_cast("long"), f.try_cast("double").try_cast("long"))
  private def lenientDouble(f: Column): Column = f.try_cast("double")

  private def aggregations(j: JValue, timeCol: String, input: DataFrame): Seq[Agg] = j match {
    case JNothing | JNull => Seq(Agg("count", count(lit(1))))
    case a => arr(a).map(aggregation(_, timeCol, input))
  }

  /** Does the aggregator's fieldName resolve to a BINARY column of the
    * datasource? The signal the sketch factories use to pick MERGE over
    * BUILD for stored COMPLEX metric columns. */
  private def fieldIsBinary(j: JValue, input: DataFrame): Boolean =
    (j \ "fieldName") match {
      case JString(n) => input != null && input.schema.fields.exists(fld =>
        fld.name == n && fld.dataType == org.apache.spark.sql.types.BinaryType)
      case _ => false
    }

  private def aggregation(j: JValue, timeCol: String, input: DataFrame): Agg = {
    def name = str(j \ "name") // lazy: "filtered" may carry the name on the inner aggregator
    // simple aggregators accept "expression" in place of "fieldName"
    // (e.g. LongSumAggregatorFactory(name, null, "c1 * 1") —
    // SchemaEvolutionTest.java:272-273), evaluated in the math-expr dialect
    def f = (j \ "fieldName") match {
      case JString(n) =>
        // a column ABSENT from the datasource aggregates as all-NULL —
        // Druid's schema-on-read missing column (SketchAggregationTest's
        // non_existing_col_validation expects an empty sketch's 0.0, not an
        // analysis error)
        if (input == null || input.columns.contains(n)) {
          // the time column is a LONG of epoch millis to every aggregator
          // (Druid has no timestamp type — TIME_LONG_SUM in
          // TimeseriesQueryRunnerTest.testTimeseriesWithTimeColumn)
          val isTs = input != null && (input.schema(n).dataType match {
            case org.apache.spark.sql.types.TimestampType |
                 org.apache.spark.sql.types.TimestampNTZType => true
            case _ => false
          })
          if (isTs) unix_millis(col(n).cast("timestamp")) else col(n)
        } else lit(null).cast("string")
      case _ => MathExpr.expr(str(j \ "expression"))
    }
    // first/last ordering key: when the datasource is an inlined subquery
    // carrying an explicit row-order rank (QueryCommon.RowOrderCol), fold on
    // (time, rank) so timestamp ties break by the subquery's merged-result
    // order DETERMINISTICALLY — encounter order does not survive
    // partial-aggregate merges once rows re-parallelize across partitions
    def flKey(tc: String): Column =
      if (input != null && input.columns.contains(QueryCommon.RowOrderCol))
        struct(col(tc), col(QueryCommon.RowOrderCol))
      else col(tc)
    // a numeric aggregator over a MULTI-VALUE string dimension folds EVERY
    // element (the per-value dimension selector feeds the aggregator once
    // per element, nulls skipped — StringColumnAggregationTest: doubleSum
    // over ["v", null, "v"] contributes 2v per row). Per-row element fold
    // composes with the outer aggregate; a row with no parseable elements
    // contributes null (skipped), like an unparseable scalar.
    def fieldIsArray: Boolean = (j \ "fieldName") match {
      case JString(n) => input != null && input.schema.fields.exists(fld =>
        fld.name == n && fld.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
      case _ => false
    }
    def mvElems(cast: Column => Column): Column =
      org.apache.spark.sql.functions.filter(
        org.apache.spark.sql.functions.transform(f, e => cast(e.cast("string"))),
        x => x.isNotNull)
    def mvSum(cast: Column => Column): Column = {
      val es = mvElems(cast)
      when(size(es) === 0, lit(null).cast("double")).otherwise(
        org.apache.spark.sql.functions.aggregate(
          es, lit(0.0), (acc, x) => acc + x.cast("double")))
    }
    // first/last FOLD detection (StringFirstLastUtils.selectorNeedsFoldCheck
    // / StringFirstTimeseriesQueryTest's "folding" vector): a fieldName that
    // resolves to a stored (t, v) pair struct — this engine's first/last
    // rollup state — re-folds at query time instead of aggregating the
    // rendered struct
    def fieldIsPairStruct: Boolean = (j \ "fieldName") match {
      case JString(nm) => input != null && input.schema.fields.exists(fld =>
        fld.name == nm && (fld.dataType match {
          case st: org.apache.spark.sql.types.StructType =>
            st.fieldNames.length == 2 &&
              st.fieldNames(0) == "t" && st.fieldNames(1) == "v"
          case _ => false
        }))
      case _ => false
    }
    // stringFirst/Last over a stored NUMERIC column yields the nil pair —
    // finalized null (StringFirstTimeseriesQueryTest pins "numeric" →
    // SerializablePairLongString(MAX, null)); numeric values reach string
    // first/last only through expression virtual columns, like the SQL
    // planner's casts
    def fieldIsStoredNumeric: Boolean = (j \ "fieldName") match {
      case JString(nm) => input != null && input.schema.fields.exists(fld =>
        fld.name == nm &&
          fld.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
      case _ => false
    }
    str(j \ "type") match {
      case "count" => Agg(name, count(lit(1)))
      // contrib time-min-max (TimestampMinMaxModule.java:39-40 registers
      // timeMax/timeMin): fold epoch millis of the field (fieldName
      // defaults to the time column), finalize to the DateTime
      // (TimestampAggregatorFactory.finalizeComputation:162-165). An
      // explicit timeFormat parses string inputs; "auto"/absent casts.
      case "timeMin" | "timeMax" =>
        val raw = (j \ "fieldName") match {
          case JString(n) => col(n); case _ => col(timeCol)
        }
        val ts = strOpt(j \ "timeFormat").filterNot(_ == "auto") match {
          case Some(fmt) => to_timestamp(raw, fmt)
          case None => raw.cast("timestamp")
        }
        val millis = unix_millis(ts)
        Agg(name, timestamp_millis(
          if (str(j \ "type") == "timeMin") min(millis) else max(millis))
          .cast("timestamp_ntz"))
      // contrib distinctcount (DistinctCountDruidModule.java:33
      // "distinctCount"): exact distinct values per group. The reference is
      // exact only when a value's rows share a segment (per-segment bitmap
      // union of longSum partials); this engine computes the GLOBALLY exact
      // distinct count — a strict superset of the same query surface.
      case "distinctCount" => Agg(name, countDistinct(f))
      case "longSum" =>
        if (fieldIsArray) Agg(name, sum(mvSum(lenientLong)).cast("long"))
        else Agg(name, sum(lenientLong(f)))
      case "doubleSum" =>
        if (fieldIsArray) Agg(name, sum(mvSum(lenientDouble)))
        else Agg(name, sum(lenientDouble(f)))
      case "longMin" =>
        if (fieldIsArray) Agg(name, min(array_min(mvElems(lenientLong))))
        else Agg(name, min(lenientLong(f)))
      case "longMax" =>
        if (fieldIsArray) Agg(name, max(array_max(mvElems(lenientLong))))
        else Agg(name, max(lenientLong(f)))
      case "doubleMin" =>
        if (fieldIsArray) Agg(name, min(array_min(mvElems(lenientDouble))))
        else Agg(name, min(lenientDouble(f)))
      case "doubleMax" =>
        if (fieldIsArray) Agg(name, max(array_max(mvElems(lenientDouble))))
        else Agg(name, max(lenientDouble(f)))
      // the FLOAT factories read the selector as float32 and emit FLOAT
      // (FloatMinAggregator stores selector.getFloat();
      // TimeseriesQueryRunnerTest.testFullOnTimeseriesMinMaxAggregators
      // pins the float32 forms 59.021023f/1870.061f) — min/max of the
      // rounded values ARE the rounded min/max; the sum accumulates wider
      // and rounds at output, a documented precision superset of the
      // reference's sequential float32 accumulation
      case "floatSum" =>
        if (fieldIsArray)
          Agg(name, sum(mvSum(c => lenientDouble(c).cast("float"))).cast("float"))
        else Agg(name, sum(lenientDouble(f).cast("float")).cast("float"))
      case "floatMin" =>
        if (fieldIsArray)
          Agg(name, min(array_min(mvElems(c => lenientDouble(c).cast("float")))))
        else Agg(name, min(lenientDouble(f).cast("float")))
      case "floatMax" =>
        if (fieldIsArray)
          Agg(name, max(array_max(mvElems(c => lenientDouble(c).cast("float")))))
        else Agg(name, max(lenientDouble(f).cast("float")))
      case "doubleMean" =>
        // element-weighted over MV: DoubleMeanAggregator.aggregate adds
        // EVERY element — a null/unparseable element contributes 0 to the
        // numerator but still counts in the denominator
        // (Numbers.tryParseDouble(e, 0d); DoubleMeanAggregationTest pins
        // meanOnMultiValue = 4.1333 over [v, null, v] rows, not 6.2)
        if (fieldIsArray)
          Agg(name, sum(org.apache.spark.sql.functions.aggregate(
              org.apache.spark.sql.functions.transform(f,
                e => coalesce(lenientDouble(e.cast("string")), lit(0.0))),
              lit(0.0), (acc, x) => acc + x)) /
            sum(size(f).cast("double")))
        else Agg(name, avg(lenientDouble(f)))
      // timeColumn is optional in the reference and defaults to __time
      // (LongFirstAggregatorFactory.java:94); fall back to the query-level
      // time column so standard Druid JSON first/last aggregators work.
      // first/last/any compile to the hash-plannable pair folds
      // (graft.functions.FirstLastFoldAgg/AnyFoldAgg — the reference's
      // incremental first/last lifecycle, ObjectHashAggregate-eligible)
      case "longFirst" | "doubleFirst" | "floatFirst" =>
        val cast: Column => Column = str(j \ "type") match {
          // the typed factories COERCE the stored value (LongFirstAggregator
          // stores selector.getLong() — truncating; float stores float32)
          case "longFirst" => lenientLong
          case "floatFirst" => c => lenientDouble(c).cast("float")
          case _ => identity
        }
        if (fieldIsPairStruct)
          Agg(name, cast(FirstLast.refoldFirst(f).getField("v")))
        else Agg(name, graft.functions.FirstLastAgg.earliest(
          cast(f), flKey(strOpt(j \ "timeColumn").getOrElse(timeCol))))
      case "longLast" | "doubleLast" | "floatLast" =>
        val cast: Column => Column = str(j \ "type") match {
          case "longLast" => lenientLong
          case "floatLast" => c => lenientDouble(c).cast("float")
          case _ => identity
        }
        if (fieldIsPairStruct)
          Agg(name, cast(FirstLast.refoldLast(f).getField("v")))
        else Agg(name, graft.functions.FirstLastAgg.latest(
          cast(f), flKey(strOpt(j \ "timeColumn").getOrElse(timeCol))))
      // stringFirst/Last truncate the stored value to maxStringBytes
      // (StringFirstAggregatorFactory.java, default 1024; chars ≈ bytes for
      // the ASCII dimensions this targets)
      case "stringFirst" =>
        val n = intOpt(j \ "maxStringBytes").getOrElse(1024)
        if (fieldIsPairStruct)
          Agg(name, substring(
            FirstLast.refoldFirst(f).getField("v").cast("string"), 1, n))
        else if (fieldIsStoredNumeric)
          Agg(name, max(lit(null).cast("string")))
        else Agg(name, graft.functions.FirstLastAgg.earliest(
          substring(f.cast("string"), 1, n),
          flKey(strOpt(j \ "timeColumn").getOrElse(timeCol))))
      case "stringLast" =>
        val n = intOpt(j \ "maxStringBytes").getOrElse(1024)
        if (fieldIsPairStruct)
          Agg(name, substring(
            FirstLast.refoldLast(f).getField("v").cast("string"), 1, n))
        else if (fieldIsStoredNumeric)
          Agg(name, max(lit(null).cast("string")))
        else Agg(name, graft.functions.FirstLastAgg.latest(
          substring(f.cast("string"), 1, n),
          flKey(strOpt(j \ "timeColumn").getOrElse(timeCol))))
      case "longAny" | "doubleAny" | "floatAny" | "stringAny" =>
        Agg(name, graft.functions.FirstLastAgg.anyValue(f))
      // cardinality (CardinalityAggregatorFactory.java:110-128): byRow=false
      // (the default, "byValue") counts distinct over the UNION of the
      // fields' values; byRow=true counts distinct value tuples. Both ride
      // exactness-tunable theta sketches (values hashed as strings, like the
      // reference's String-based CardinalityAggregator); `round` finalizes
      // to a long, else the estimate stays a double per the reference.
      case "hyperUnique" if fieldIsBinary(j, input) =>
        // a stored COMPLEX hyperUnique column (per-row HyperLogLogCollector
        // bytes, e.g. TestIndex's quality_uniques) UNIONS collectors and
        // estimates with the HLLC estimator — byte-exact with the
        // reference's HyperUniquesAggregatorFactory (the classic
        // UNIQUES_9 = 9.019833517963864); `round` → Math.round to long.
        // shouldFinalize=false keeps the merged collector's V1 BYTES so an
        // outer query (or rollup sink) can re-union them
        // (testSubqueryWithHyperUniques)
        if (!boolOpt(j \ "shouldFinalize").getOrElse(true))
          Agg(name, graft.plans.SketchFunctions.hllcUnion(f))
        else {
          val est = graft.plans.SketchFunctions.hllcUnionEstimate(f)
          Agg(name, if (boolOpt(j \ "round").getOrElse(false))
            round(est).cast("long") else est)
        }
      case "cardinality" | "hyperUnique" =>
        import graft.plans.SketchFunctions.hllcCardinality
        val fields = (j \ "fields") match {
          case JArray(fs) => fs.map { fj =>
            // a COMPLEX (stored sketch) column has no dimension selector —
            // cardinality over it counts nothing and estimates 0.0
            // (TimeseriesQueryRunnerTest.testTimeseriesCardinalityAggOnHyperUnique)
            val dname = fj match {
              case JString(s) => s
              case o => strOpt(o \ "dimension").getOrElse("")
            }
            if (input != null && input.schema.fields.exists(x =>
                x.name == dname && x.dataType == org.apache.spark.sql.types.BinaryType))
              lit(null).cast("string")
            else dimSpec(fj).col
          }
          case _ => Seq(f)
        }
        val byRow = boolOpt(j \ "byRow").getOrElse(false)
        // an ARRAY (multi-value) field keeps its array shape so
        // HllcCardinality adds each ELEMENT separately (the reference's
        // StringCardinalityAggregatorColumnSelectorStrategy.hashValues loops
        // the row's IndexedInts); elements normalize to their string form
        def isArrayField(c: Column): Boolean = input != null &&
          scala.util.Try(input.select(c).schema.head.dataType
            .isInstanceOf[org.apache.spark.sql.types.ArrayType]).getOrElse(false)
        // HyperLogLogCollector semantics, matching the reference
        // (CardinalityAggregator.java): byValue adds each non-null field
        // value (each ELEMENT of a multi-value field) to one collector per
        // group; byRow hashes the value tuple -- dims separated (the
        // reference puts a 0-byte between dims, here a U+0001 char), a
        // null dim contributing NOTHING (SQL-compatible hashRow,
        // StringCardinalityAggregatorColumnSelectorStrategy.java:52-80),
        // and the row hash added UNCONDITIONALLY, so the all-null tuple
        // still counts as one distinct value. A multi-value field under
        // byRow joins its SORTED elements (the reference sorts for
        // cross-segment consistency), nulls as the U+0000 sentinel.
        // Values hash as UTF-16 chars like the reference; register
        // placement differs only where the reference hashes raw bytes, and
        // the low-range estimate depends only on the occupied-register
        // count, so the published small-n constants UNIQUES_9 / UNIQUES_2 /
        // 13.041435202975777 reproduce exactly.
        val est =
          if (byRow) {
            val parts = fields.map { c =>
              val s = if (isArrayField(c))
                array_join(array_sort(transform(c,
                  e => coalesce(e.cast("string"), lit("\u0000")))), "\u0001")
              else c.cast("string")
              coalesce(s, lit(""))
            }
            val rowKey = concat(
              parts.head +: parts.tail.flatMap(p => Seq(lit("\u0001"), p)): _*)
            hllcCardinality(Seq(rowKey))
          } else hllcCardinality(fields.map { c =>
            // numeric fields stay typed: HllcCardinality hashes them by
            // value bits like the reference's per-type selector strategies
            val dt = if (input == null) None
              else scala.util.Try(input.select(c).schema.head.dataType).toOption
            dt match {
              case Some(_: org.apache.spark.sql.types.ArrayType) =>
                transform(c, _.cast("string"))
              case Some(_: org.apache.spark.sql.types.NumericType) => c
              case _ => c.cast("string")
            }
          })
        Agg(name, if (boolOpt(j \ "round").getOrElse(false)) round(est).cast("long") else est)
      // "sketchBuild"/"sketchMerge" are the OLD theta API's names for the
      // same factories (OldApiSketchModule.java:41-42;
      // OldApiSketchAggregationTest runs the oldapi query resources) — the
      // build/merge choice still follows isInputThetaSketch/binariness
      case "thetaSketch" | "sketchBuild" | "sketchMerge" =>
        val lgK = intOpt(j \ "size")
          .map(n => math.max(4, (math.log(n.toDouble) / math.log(2.0)).round.toInt)).getOrElse(12)
        // SketchMergeAggregatorFactory: pre-built sketch inputs UNION
        // instead of updating as items — forced by isInputThetaSketch,
        // auto-detected for BINARY columns (a stored COMPLEX theta metric,
        // e.g. a rollup segment re-aggregated at query time;
        // SketchAggregatorFactory.java isInputThetaSketch + factorize)
        val sketchInput = boolOpt(j \ "isInputThetaSketch")
          .getOrElse(fieldIsBinary(j, input))
        Agg(name,
          if (sketchInput) graft.plans.SketchFunctions.thetaUnionAgg(f, lgK)
          else graft.plans.SketchFunctions.thetaSketch(f, lgK))
      // quantiles sketch (DoublesSketchModule.java:46 "quantilesDoublesSketch";
      // the KLL family is this engine's quantile sketch — exact while n ≤ k).
      // The Merge spelling — and a BINARY input column on the build spelling
      // (DoublesSketchAggregatorFactory over a COMPLEX stored metric) —
      // MERGES serialized sketches instead of updating values.
      case "quantilesDoublesSketch" | "quantilesDoublesSketchMerge" =>
        val k = intOpt(j \ "k").getOrElse(128)
        val merge = str(j \ "type") == "quantilesDoublesSketchMerge" ||
          fieldIsBinary(j, input)
        Agg(name,
          if (merge) graft.plans.SketchFunctions.kllMerge(f, k)
          else graft.plans.SketchFunctions.kllSketch(f, k))
      // HLL sketches (HllSketchModule.java:49-50) over Spark's DataSketches-
      // backed HLL functions; Merge unions pre-built sketch bytes. A
      // MULTI-VALUE (array) column updates once per ELEMENT (the reference's
      // multi-value dimension selector; HllSketchAggregatorTest
      // .buildSketchesAtQueryTimeMultiValue counts 14 distinct elements):
      // each row folds its elements into a per-row DataSketches HLL via the
      // hyper_unique expression macros, and rows union with hll_union_agg.
      case "HLLSketchBuild" =>
        val lgK = intOpt(j \ "lgK").getOrElse(12)
        val isArray = (j \ "fieldName") match {
          case JString(n) => input != null && input.schema.fields.exists(fld =>
            fld.name == n && fld.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
          case _ => false
        }
        if (isArray)
          Agg(name, hll_union_agg(
            aggregate(f, graft.plans.SketchFunctions.dsHyperUnique(lgK),
              (acc, x) => graft.plans.SketchFunctions.dsHyperUniqueAdd(x, acc)), lit(true)))
        else Agg(name, hll_sketch_agg(f, lgK))
      case "HLLSketchMerge" =>
        Agg(name, hll_union_agg(f, true))
      // variance (extensions-core/stats VarianceAggregatorFactory.java:77-89:
      // estimator "population" → population variance, else sample) —
      // collector-exact fold, count==1 → 0 / count==0 → null, with the
      // inputType-driven value coercion and output width
      case "variance" | "varianceFold" =>
        val pop = strOpt(j \ "estimator").exists(_.equalsIgnoreCase("population"))
        // the native factory defaults the input to FLOAT when unspecified
        // (VarianceAggregatorFactory.getInputType:315 — even over a double
        // column, values accumulate at float32, which is what
        // VarianceGroupByQueryTest's 543195.4271253889-style pins encode);
        // the finalized variance is always DOUBLE (typedOutput=false)
        val it = strOpt(j \ "inputType").map(_.toLowerCase).getOrElse("float")
        Agg(name, org.apache.spark.sql.graftbridge.CatalystBridge.column(
          graft.plans.DruidVarianceAgg(
            org.apache.spark.sql.graftbridge.CatalystBridge.expression(f), pop, it,
            typedOutput = false)
            .toAggregateExpression()))
      // approxHistogram / approxHistogramFold (ApproximateHistogram
      // AggregatorFactory.java:69-75 + the folding factory): the aggregate
      // carries the RAW histogram state so the module's post-aggs
      // (quantile/quantiles/min/max/buckets/...) can read it; a bare
      // aggregate finalizes to the engine's "x:y,..." centroid render
      // (aggFinalizerPairs). A BINARY input folds stored state.
      case "approxHistogram" | "approxHistogramFold" =>
        val res = intOpt(j \ "resolution").getOrElse(50)
        val bridge = org.apache.spark.sql.graftbridge.CatalystBridge
        Agg(name, bridge.column(graft.plans.ApproxHistAgg(bridge.expression(f), res,
          foldInput = fieldIsBinary(j, input)).toAggregateExpression()))
      // fixedBucketsHistogram (FixedBucketsHistogramAggregatorFactory.java:
      // 66-72); outlierHandlingMode clip/ignore/overflow (overflow's
      // separate outlier counters are not part of this rendering — bucket
      // values match); rendered as comma-joined bucket counts
      case "fixedBucketsHistogram" =>
        val mode = strOpt(j \ "outlierHandlingMode").getOrElse("ignore").toLowerCase
        Agg(name, array_join(transform(
          DruidFunctions.fixedBucketsHistogram(f,
            dbl(j \ "lowerLimit"), dbl(j \ "upperLimit"),
            intOpt(j \ "numBuckets").getOrElse(10), mode),
          x => x.cast("string")), ","))
      // bloom (druid-bloom-filter BloomFilterAggregatorFactory.java:81-83:
      // field is a DimensionSpec); the aggregate carries the serialized
      // filter BYTES in the REFERENCE'S BloomKFilter format — feedable back
      // into the JSON bloom filter here or into a real Druid cluster's —
      // and finalizes to base64 at the top level (aggFinalizerPairs), so an
      // unfinalized inner query hands bytes to an outer bloom-MERGE
      // (BloomFilterMergeAggregator: selected when the field column is the
      // bloom COMPLEX type — here, BinaryType). A field naming a MISSING
      // column is the reference's NoopBloomFilterAggregator: a totally
      // EMPTY filter, not per-row null adds
      // (BloomFilterGroupByQueryTest.testQueryFakeDimension).
      case "bloom" =>
        val maxN = intOpt(j \ "maxNumEntries").getOrElse(1500)
        def fieldName: Option[String] = (j \ "field") match {
          case JString(nm) => Some(nm)
          case o => strOpt(o \ "dimension")
        }
        def fieldType: Option[org.apache.spark.sql.types.DataType] =
          fieldName.flatMap(nm =>
            if (input == null) None
            else input.schema.fields.find(_.name == nm).map(_.dataType))
        val missing = input != null && fieldName.isDefined && fieldType.isEmpty &&
          !fieldName.contains(timeCol)
        if (missing) {
          val empty = graft.plans.DruidBloomBytes.serialize(
            new org.apache.hive.common.util.BloomKFilter(maxN.toLong))
          Agg(name, max(lit(empty)))
        } else {
          val fold = fieldType.contains(org.apache.spark.sql.types.BinaryType)
          Agg(name, graft.plans.BloomFunctions.druidBloomAgg(
            dimSpec(j \ "field").col, maxN.toLong, foldInput = fold))
        }
      // ArrayOfDoublesSketchAggregatorFactory: fieldName is the key,
      // metricColumns the carried double metrics, nominalEntries the size.
      // With NO metricColumns the input is pre-built sketches and the
      // aggregate UNIONS them (the factory's documented merge mode —
      // "metricColumns should be omitted when the input is sketches")
      case "arrayOfDoublesSketch" =>
        val metrics = arr(j \ "metricColumns").map { case JString(s) => col(s); case x => col(str(x)) }
        val lgK = intOpt(j \ "nominalEntries")
          .map(n => math.max(4, (math.log(n.toDouble) / math.log(2.0)).round.toInt)).getOrElse(12)
        Agg(name,
          if (metrics.isEmpty)
            graft.plans.SketchFunctions.tupleUnionAgg(f,
              intOpt(j \ "numberOfValues").getOrElse(1), lgK)
          else graft.plans.SketchFunctions.tupleSketch(f, metrics, lgK))
      case "filtered" =>
        // FILTER(WHERE) via conditional input (FilteredAggregatorFactory);
        // schema-aware so a filter on a NONEXISTENT dimension evaluates over
        // NULL instead of failing analysis
        // (testTimeSeriesWithFilteredAggDimensionNotPresent*)
        val pred = filter(j \ "filter",
          if (input == null) null else input.schema)
        val aggName = strOpt(j \ "name").orElse(strOpt(j \ "aggregator" \ "name")).get
        if (str(j \ "aggregator" \ "type") == "count")
          Agg(aggName, sum(when(pred, 1L).otherwise(0L)))
        else Agg(aggName, rebuildFiltered(j, pred))
      // expression lambda aggregator (ExpressionLambdaAggregatorFactory
      // .java:103-125): the real JSON lifecycle carries fields/
      // accumulatorIdentifier/initialValue/fold/combine/finalize math-expr
      // strings. A bare "expression" string (an extension shortcut: a full
      // Spark aggregate expression) remains accepted when no fold is given.
      case "expression" => (j \ "fold") match {
        case JNothing | JNull => Agg(name, MathExpr.expr(str(j \ "expression")))
        case foldJ =>
          val fields = arr(j \ "fields").map { case JString(s) => s; case x => str(x) }
          // maxSizeBytes accepts a number or a HumanReadableBytes string
          // ("1KiB" — HumanReadableBytes.parse); default 1 KiB
          // (ExpressionLambdaAggregatorFactory.java:68)
          val maxSize = (j \ "maxSizeBytes") match {
            case JInt(n) => n.toInt
            case JLong(n) => n.toInt
            case JString(s) => parseHumanReadableBytes(s)
            case _ => 1024
          }
          def boolDefault(v: JValue, default: Boolean): Boolean = v match {
            case JBool(b) => b; case _ => default
          }
          // null-handling knobs (ExpressionLambdaAggregatorFactory.java:
          // 108-131): shouldCombineAggregateNullInputs defaults to
          // shouldAggregateNullInputs; isNullUnlessAggregated defaults to
          // sql-compatible (true)
          val aggNulls = boolDefault(j \ "shouldAggregateNullInputs", true)
          Agg(name, graft.functions.ExpressionLambda.fold(
            input.sparkSession, input.schema,
            fields,
            strOpt(j \ "accumulatorIdentifier").getOrElse("__acc"),
            str(j \ "initialValue"),
            str(foldJ),
            strOpt(j \ "combine"),
            strOpt(j \ "finalize"),
            name,
            maxSize,
            aggregateNullInputs = aggNulls,
            combineNullInputs = boolDefault(j \ "shouldCombineAggregateNullInputs", aggNulls),
            nullUnlessAggregated = boolDefault(j \ "isNullUnlessAggregated", true)))
      }
      case t => throw new IllegalArgumentException(s"aggregator type: $t")
    }
  }

  /** HumanReadableBytes string forms (core/.../HumanReadableBytes.java:
    * parse): plain number or K/M/G(i)B suffixes, binary multiples. */
  private def parseHumanReadableBytes(s: String): Int = {
    val t = s.trim.toLowerCase(java.util.Locale.ENGLISH)
    val m = "^(\\d+)\\s*(kib|mib|gib|k|m|g|kb|mb|gb)?$".r
    t match {
      case m(n, null) => n.toInt
      case m(n, suffix) =>
        val mult = suffix.charAt(0) match {
          case 'k' => 1L << 10
          case 'm' => 1L << 20
          case 'g' => 1L << 30
        }
        math.min(n.toLong * mult, Int.MaxValue.toLong).toInt
      case _ => throw new IllegalArgumentException(s"Invalid byte size: $s")
    }
  }

  private def rebuildFiltered(j: JValue, pred: Column): Column = {
    val inner = j \ "aggregator"
    val f = when(pred, col(str(inner \ "fieldName")))
    str(inner \ "type") match {
      case "longSum" => sum(lenientLong(f))
      case "doubleSum" => sum(lenientDouble(f))
      case "longMin" => min(lenientLong(f))
      case "longMax" => max(lenientLong(f))
      case "doubleMin" => min(lenientDouble(f))
      case "doubleMax" => max(lenientDouble(f))
      // FLOAT factories emit FLOAT (float32 selector reads) — see the
      // unfiltered cases
      case "floatSum" => sum(lenientDouble(f).cast("float")).cast("float")
      case "floatMin" => min(lenientDouble(f).cast("float"))
      case "floatMax" => max(lenientDouble(f).cast("float"))
      // sketch builders take conditional input the same way: a null input
      // never updates the sketch (FilteredAggregatorFactory around any
      // AggregatorFactory in the reference)
      case "thetaSketch" =>
        val lgK = intOpt(inner \ "size")
          .map(n => math.max(4, (math.log(n.toDouble) / math.log(2.0)).round.toInt)).getOrElse(12)
        // filtered MERGE over a stored sketch column (explicit flag — the
        // filtered wrapper has no schema to auto-detect from)
        if (boolOpt(inner \ "isInputThetaSketch").getOrElse(false))
          graft.plans.SketchFunctions.thetaUnionAgg(f, lgK)
        else graft.plans.SketchFunctions.thetaSketch(f, lgK)
      case "HLLSketchBuild" =>
        hll_sketch_agg(f, intOpt(inner \ "lgK").getOrElse(12))
      case "quantilesDoublesSketch" =>
        graft.plans.SketchFunctions.kllSketch(f, intOpt(inner \ "k").getOrElse(128))
      case "arrayOfDoublesSketch" =>
        // null key never updates the sketch; metric columns pass unfiltered
        // (they are only read when the key row matches)
        val metrics = arr(inner \ "metricColumns").map {
          case JString(s) => col(s); case x => col(str(x))
        }
        val lgK = intOpt(inner \ "nominalEntries")
          .map(n => math.max(4, (math.log(n.toDouble) / math.log(2.0)).round.toInt)).getOrElse(12)
        graft.plans.SketchFunctions.tupleSketch(f, metrics, lgK)
      case t => throw new IllegalArgumentException(s"filtered aggregator: $t")
    }
  }

  // ---- post-aggregations (§2.9) ----
  private def postAggs(j: JValue,
      fin: Map[String, Column => Column] = Map.empty): Seq[PostAgg] = j match {
    case JArray(ps) => ps.map(p => PostAgg(str(p \ "name"), postAggExpr(p, fin)))
    case _ => Nil
  }

  private def postAggExpr(j: JValue,
      fin: Map[String, Column => Column] = Map.empty): Column = {
    // recursive positions inherit the finalizer scope
    def postAggExprRec(jj: JValue): Column = postAggExpr(jj, fin)
    postAggExpr0(j, fin, postAggExprRec)
  }

  private def postAggExpr0(j: JValue, fin: Map[String, Column => Column],
      postAggExpr: JValue => Column): Column = str(j \ "type") match {
    case "arithmetic" =>
      // ArithmeticPostAggregator computes in DOUBLE regardless of the
      // operand types (compute() folds over doubles) — long+long stays
      // double-typed in the result row
      val fields = arr(j \ "fields").map(f => postAggExpr(f).cast("double"))
      str(j \ "fn") match {
        case "+" => fields.reduce(_ + _)
        case "-" => fields.reduce(_ - _)
        case "*" => fields.reduce(_ * _)
        case "/" => fields.reduce(DruidFunctions.safeDivide) // Druid / is safe-divide (0 default)
        case "quotient" => fields.reduce(_ / _)
        case f => throw new IllegalArgumentException(s"arithmetic fn: $f")
      }
    // fieldAccess reads the aggregate's RAW value (sketch bytes for the
    // sketch families); finalizingFieldAccess applies the aggregator's
    // finalizer (FinalizingFieldAccessPostAggregator — estimate/getN), so
    // arithmetic over finalized sketch aggregates computes on numbers
    // (FinalizingFieldAccessPostAggregatorTest
    // .testIngestAndQueryWithArithmeticPostAggregator). Aggregators that
    // finalize at eval time (hyperUnique/cardinality) have no entry and
    // read the (already finalized) column either way.
    // histogram module post-aggs (extensions-core/histogram): quantile /
    // quantiles / min / max / buckets / customBuckets / equalBuckets over
    // an approxHistogram aggregate's raw state
    case "quantile" =>
      val bridge = org.apache.spark.sql.graftbridge.CatalystBridge
      bridge.column(graft.plans.ApproxHistPostAgg(
        bridge.expression(col(str(j \ "fieldName"))), "quantile",
        Seq(dbl(j \ "probability"))))
    case "quantiles" =>
      val bridge = org.apache.spark.sql.graftbridge.CatalystBridge
      bridge.column(graft.plans.ApproxHistPostAgg(
        bridge.expression(col(str(j \ "fieldName"))), "quantiles",
        arr(j \ "probabilities").map(dbl)))
    case "min" | "max" =>
      val bridge = org.apache.spark.sql.graftbridge.CatalystBridge
      bridge.column(graft.plans.ApproxHistPostAgg(
        bridge.expression(col(str(j \ "fieldName"))), str(j \ "type")))
    case "customBuckets" =>
      val bridge = org.apache.spark.sql.graftbridge.CatalystBridge
      bridge.column(graft.plans.ApproxHistPostAgg(
        bridge.expression(col(str(j \ "fieldName"))), "customBuckets",
        arr(j \ "breaks").map(dbl)))
    case "equalBuckets" =>
      val bridge = org.apache.spark.sql.graftbridge.CatalystBridge
      bridge.column(graft.plans.ApproxHistPostAgg(
        bridge.expression(col(str(j \ "fieldName"))), "equalBuckets",
        Seq(intOpt(j \ "numBuckets").getOrElse(
          throw new IllegalArgumentException("equalBuckets requires numBuckets")).toDouble)))
    case "buckets" =>
      val bridge = org.apache.spark.sql.graftbridge.CatalystBridge
      bridge.column(graft.plans.ApproxHistPostAgg(
        bridge.expression(col(str(j \ "fieldName"))), "buckets",
        Seq(dbl(j \ "bucketSize"),
          (j \ "offset") match { case JNothing | JNull => 0.0; case o => dbl(o) })))
    // StandardDeviationPostAggregator (extensions-core/stats, JSON type
    // "stddev"): sqrt of a variance aggregator's value. The reference
    // re-reads the raw collector with the post-agg's own estimator; here
    // the variance aggregator finalizes at eval, so the post-agg sqrts the
    // finalized value — identical whenever the estimators agree (the only
    // combination the reference's own tests exercise; a mismatched
    // estimator would need the collector state, an adjudicated non-goal)
    case "stddev" => sqrt(col(str(j \ "fieldName")))
    // teststats (extensions-core/stats): two-sample z-score over conversion
    // rates (ZtestPostAggregator.zScoreTwoSamples:157-177) and the
    // two-tailed p-value from a z-score (PvaluefromZscorePostAggregator)
    case "zscore2sample" =>
      val s1 = postAggExpr(j \ "successCount1").cast("double")
      val p1 = postAggExpr(j \ "sample1Size").cast("double")
      val s2 = postAggExpr(j \ "successCount2").cast("double")
      val p2 = postAggExpr(j \ "sample2Size").cast("double")
      val r1 = s1 / p1
      val r2 = s2 / p2
      (r1 - r2) / sqrt(r1 * (lit(1.0) - r1) / p1 + r2 * (lit(1.0) - r2) / p2)
    case "pvalue2tailedZtest" =>
      val bridge = org.apache.spark.sql.graftbridge.CatalystBridge
      bridge.column(graft.plans.PvalueFromZscore(
        bridge.expression(postAggExpr(j \ "zScore").cast("double"))))
    case "fieldAccess" => col(str(j \ "fieldName"))
    case "finalizingFieldAccess" =>
      val n = str(j \ "fieldName")
      fin.get(n).map(f => f(col(n))).getOrElse(col(n))
    case "constant" => lit(jvalueToAny(j \ "value"))
    case "expression" => MathExpr.expr(str(j \ "expression"))
    case "doubleGreatest" | "longGreatest" => greatest(arr(j \ "fields").map(postAggExpr): _*)
    case "doubleLeast" | "longLeast" => least(arr(j \ "fields").map(postAggExpr): _*)
    case "hyperUniqueCardinality" => col(str(j \ "fieldName"))
    // with errorBoundsStdDev the reference returns {estimate, highBound,
    // lowBound, numStdDev} instead of a double
    // (theta/SketchEstimatePostAggregator.java:88-96)
    case "thetaSketchEstimate" => intOpt(j \ "errorBoundsStdDev") match {
      case Some(n) => graft.plans.SketchFunctions.thetaEstimateBounds(postAggExpr(j \ "field"), n)
      case None => graft.plans.SketchFunctions.thetaEstimate(postAggExpr(j \ "field"))
    }
    case "thetaSketchToString" =>
      graft.plans.SketchFunctions.thetaSummary(postAggExpr(j \ "field"))
    // OLD theta API post-agg names (OldApiSketchModule.java:63-64):
    // "sketchEstimate" ≡ thetaSketchEstimate, "sketchSetOper" ≡
    // thetaSketchSetOp — identical compute, different Jackson names
    case "sketchEstimate" => intOpt(j \ "errorBoundsStdDev") match {
      case Some(n) => graft.plans.SketchFunctions.thetaEstimateBounds(postAggExpr(j \ "field"), n)
      case None => graft.plans.SketchFunctions.thetaEstimate(postAggExpr(j \ "field"))
    }
    case "sketchSetOper" =>
      import graft.plans.SketchFunctions.{thetaUnion, thetaIntersect, thetaNot}
      val op: (Column, Column) => Column = str(j \ "func").toUpperCase match {
        case "UNION" => thetaUnion
        case "INTERSECT" => thetaIntersect
        case "NOT" => thetaNot
        case o => throw new IllegalArgumentException(s"sketchSetOper func: $o")
      }
      arr(j \ "fields").map(postAggExpr).reduce(op)
    // a base64 compact theta sketch carried IN the query
    // (theta/SketchConstantPostAggregator.java — SketchAggregationWith
    // SimpleDataTest's topn_query_sketch_const.json)
    case "thetaSketchConstant" =>
      lit(java.util.Base64.getMimeDecoder.decode(str(j \ "value")))
    // theta set-op post-agg (theta/SketchSetPostAggregator.java:48-56:
    // func UNION | INTERSECT | NOT over ≥2 sketch fields)
    case "thetaSketchSetOp" =>
      import graft.plans.SketchFunctions.{thetaUnion, thetaIntersect, thetaNot}
      val op: (Column, Column) => Column = str(j \ "func").toUpperCase match {
        case "UNION" => thetaUnion
        case "INTERSECT" => thetaIntersect
        case "NOT" => thetaNot
        case o => throw new IllegalArgumentException(s"thetaSketchSetOp func: $o")
      }
      arr(j \ "fields").map(postAggExpr).reduce(op)
    // ArrayOfDoubles tuple-sketch post-aggs (tuple/ArrayOfDoublesSketchModule
    // .java:64-105)
    case "arrayOfDoublesSketchToString" =>
      graft.plans.SketchFunctions.tupleSummary(postAggExpr(j \ "field"))
    // per-column two-sided Welch p-values between two sketches' retained
    // entries (ArrayOfDoublesSketchTTestPostAggregator.java:67-89; the
    // t-distribution CDF is self-contained — plans.StatInference)
    case "arrayOfDoublesSketchTTest" =>
      val fields = arr(j \ "fields").map(postAggExpr)
      require(fields.size == 2, s"Illegal number of fields[${fields.size}], must be 2")
      graft.plans.SketchFunctions.tupleTTest(fields(0), fields(1))
    case "arrayOfDoublesSketchToEstimate" =>
      graft.plans.SketchFunctions.tupleEstimate(postAggExpr(j \ "field"))
    case "arrayOfDoublesSketchToMetricsSumEstimate" =>
      graft.plans.SketchFunctions.tupleMetricsSum(postAggExpr(j \ "field"))
    case "arrayOfDoublesSketchToNumEntries" =>
      graft.plans.SketchFunctions.tupleNumEntries(postAggExpr(j \ "field"))
    case "arrayOfDoublesSketchToMeans" =>
      graft.plans.SketchFunctions.tupleMeans(postAggExpr(j \ "field"))
    case "arrayOfDoublesSketchToVariances" =>
      graft.plans.SketchFunctions.tupleVariances(postAggExpr(j \ "field"))
    case "arrayOfDoublesSketchToEstimateAndBounds" =>
      graft.plans.SketchFunctions.tupleEstimateAndBounds(postAggExpr(j \ "field"),
        intOpt(j \ "numStdDevs").getOrElse(1))
    case "arrayOfDoublesSketchSetOp" =>
      import graft.plans.SketchFunctions.{tupleUnion, tupleIntersect, tupleNot}
      // the documented property is "operation"
      // (ArrayOfDoublesSketchSetOpPostAggregator.java:53 @JsonProperty);
      // "func" tolerated for symmetry with thetaSketchSetOp
      val op: (Column, Column) => Column =
        (strOpt(j \ "operation") orElse strOpt(j \ "func"))
          .getOrElse(throw new IllegalArgumentException(
            "arrayOfDoublesSketchSetOp requires \"operation\""))
          .toUpperCase match {
        case "UNION" => tupleUnion
        case "INTERSECT" => tupleIntersect
        case "NOT" => tupleNot
        case o => throw new IllegalArgumentException(s"arrayOfDoublesSketchSetOp func: $o")
      }
      arr(j \ "fields").map(postAggExpr).reduce(op)
    case "arrayOfDoublesSketchToQuantilesSketch" =>
      graft.plans.SketchFunctions.tupleToKll(postAggExpr(j \ "field"),
        intOpt(j \ "column").getOrElse(1), intOpt(j \ "k").getOrElse(200))
    // quantiles sketch post-aggs (DoublesSketchModule.java:51-56);
    // inclusive=false = the reference's datasketches-3.1.0 getQuantile rule
    // (smallest item whose rank is STRICTLY greater than the fraction)
    case "quantilesDoublesSketchToQuantile" =>
      graft.plans.SketchFunctions.kllQuantile(postAggExpr(j \ "field"), dbl(j \ "fraction"),
        inclusive = false)
    case "quantilesDoublesSketchToQuantiles" =>
      graft.plans.SketchFunctions.kllQuantiles(postAggExpr(j \ "field"),
        arr(j \ "fractions").map(dbl), inclusive = false)
    case "quantilesDoublesSketchToRank" =>
      graft.plans.SketchFunctions.kllRank(postAggExpr(j \ "field"), dbl(j \ "value"))
    case "quantilesDoublesSketchToCDF" =>
      graft.plans.SketchFunctions.kllCdf(postAggExpr(j \ "field"),
        arr(j \ "splitPoints").map(dbl))
    case "quantilesDoublesSketchToHistogram" =>
      graft.plans.SketchFunctions.kllHistogram(postAggExpr(j \ "field"),
        arr(j \ "splitPoints").map(dbl), intOpt(j \ "numBins"))
    // HLL post-aggs (HllSketchModule.java:52-54)
    case "HLLSketchEstimate" =>
      // round=true → rounded long; round=false → fractional double
      // (HllSketchToEstimatePostAggregator semantics). Built from the graft
      // expression, not the overridable "hll_sketch_estimate" name
      if (boolOpt(j \ "round").getOrElse(false))
        round(graft.plans.SketchFunctions.hyperUniqueEstimate(postAggExpr(j \ "field")))
          .cast("long")
      else graft.plans.SketchFunctions.hyperUniqueEstimate(postAggExpr(j \ "field"))
    case "HLLSketchUnion" =>
      arr(j \ "fields").map(postAggExpr).reduce((a, b) => hll_union(a, b, true))
    // [estimate, lower, upper] at numStdDev
    // (hll/HllSketchToEstimateWithBoundsPostAggregator.java:104-108)
    case "HLLSketchEstimateWithBounds" =>
      graft.plans.SketchFunctions.hllEstimateWithBounds(postAggExpr(j \ "field"),
        intOpt(j \ "numStdDev").getOrElse(1))
    case "HLLSketchToString" =>
      graft.plans.SketchFunctions.hllSummary(postAggExpr(j \ "field"))
    case "quantilesDoublesSketchToString" =>
      graft.plans.SketchFunctions.quantilesSummary(postAggExpr(j \ "field"))
    case t => throw new IllegalArgumentException(s"postAggregator: $t")
  }

  // ---- having (§2.6 having spec) ----
  private def havingOpt(j: JValue): Option[Column] = j match {
    case JNothing | JNull => None
    case h => Some(having(h))
  }
  /** Numeric having threshold, type-preserved: integer JSON values compare
    * as longs (HavingSpecMetricComparator.java LONG_PAT branch — a double
    * threshold near Long.MAX_VALUE collapses adjacent longs,
    * HavingSpecTest.java:102-126 pins the exact compare). */
  private def havingValue(j: JValue): Column = j match {
    case JInt(i) => lit(i.longValue)
    case JLong(l) => lit(l)
    case JDouble(d) => lit(d)
    case JDecimal(d) => lit(d.toDouble)
    case x => lit(jvalueToAny(x))
  }
  private def having(j: JValue): Column = str(j \ "type") match {
    case "greaterThan" => col(str(j \ "aggregation")) > havingValue(j \ "value")
    case "lessThan" => col(str(j \ "aggregation")) < havingValue(j \ "value")
    case "equalTo" => col(str(j \ "aggregation")) === havingValue(j \ "value")
    // AlwaysHavingSpec / NeverHavingSpec
    case "always" => lit(true)
    case "never" => lit(false)
    // dimSelector having (DimensionSelectorHavingSpec): filter output rows
    // on a dimension value, through an optional extraction fn
    // (DimensionSelectorHavingSpecTest's extractionFn cases)
    case "dimSelector" => dimWithExtraction(j) <=> lit(jvalueToAny(j \ "value"))
    case "and" => arr(j \ "havingSpecs").map(having).reduce(_ && _)
    case "or" => arr(j \ "havingSpecs").map(having).reduce(_ || _)
    case "not" => !having(j \ "havingSpec")
    case "filter" => filter(j \ "filter")
    case t => throw new IllegalArgumentException(s"having type: $t")
  }

  // ---- json helpers ----
  private[operators] def str(j: JValue): String = j match {
    case JString(s) => s
    case x => throw new IllegalArgumentException(s"expected string, got $x")
  }
  private[operators] def strOpt(j: JValue): Option[String] = j match {
    case JString(s) => Some(s); case _ => None
  }
  private def int(j: JValue): Int = j match {
    case JInt(i) => i.toInt; case JLong(l) => l.toInt
    case JDouble(d) => d.toInt
    case x => throw new IllegalArgumentException(s"expected int, got $x")
  }
  private[operators] def intOpt(j: JValue): Option[Int] = j match {
    case JNothing | JNull => None; case x => Some(int(x))
  }
  private def dbl(j: JValue): Double = j match {
    case JInt(i) => i.toDouble; case JLong(l) => l.toDouble; case JDouble(d) => d
    case x => throw new IllegalArgumentException(s"expected number, got $x")
  }
  private def dblOpt(j: JValue): Option[Double] = j match {
    case JNothing | JNull => None; case x => Some(dbl(x))
  }
  private def boolOpt(j: JValue): Option[Boolean] = j match {
    case JBool(b) => Some(b); case _ => None
  }
  private[operators] def arr(j: JValue): List[JValue] = j match {
    case JArray(a) => a; case JNothing | JNull => Nil
    case x => List(x)
  }
}
