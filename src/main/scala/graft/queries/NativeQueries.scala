package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, element_at, round}
import graft.operators.NativeQuery
import graft.sources.{LookupRegistry, Sources}

/** JSON native-query API coverage: the same queries a reference user POSTs
  * to /druid/v2, submitted verbatim as JSON and compiled to DataFrames.
  * Each is oracle-checked, so the gate verifies the parser + translation,
  * not just the underlying DSL.
  */
object NativeQueries {

  private def res(s: SparkSession, dir: String): NativeQuery.Resolver =
    name => Sources.table(s, dir, name)

  /** Register the nation-name lookup used by the lookup-datasource and
    * LOOKUP() gate queries (idempotent; keys are strings per the reference's
    * String→String lookup model). */
  private def registerNationLookup(s: SparkSession, dir: String): Unit =
    LookupRegistry.global.register("nation_name",
      Sources.table(s, dir, "nation")
        .select(col("n_nationkey").cast("string").as("k"), col("n_name").as("v")))

  /** Gate JSONs also POSTed verbatim by the HTTP façade spec. */
  val TimeseriesGateJson: String =
    """{
      "queryType": "timeseries",
      "dataSource": "lineitem",
      "timeColumn": "l_shipdate",
      "granularity": "quarter",
      "intervals": ["1996-01-01T00:00:00/1999-01-01T00:00:00"],
      "filter": {"type": "and", "fields": [
        {"type": "in", "dimension": "l_returnflag", "values": ["A", "R"]},
        {"type": "bound", "dimension": "l_quantity", "lower": 5, "ordering": "numeric"}
      ]},
      "aggregations": [
        {"type": "count", "name": "cnt"},
        {"type": "doubleSum", "name": "sum_qty", "fieldName": "l_quantity"},
        {"type": "filtered", "name": "qty_a",
         "filter": {"type": "selector", "dimension": "l_returnflag", "value": "A"},
         "aggregator": {"type": "doubleSum", "name": "qty_a", "fieldName": "l_quantity"}}
      ],
      "postAggregations": [
        {"type": "arithmetic", "name": "avg_qty", "fn": "/", "fields": [
          {"type": "fieldAccess", "fieldName": "sum_qty"},
          {"type": "fieldAccess", "fieldName": "cnt"}]}
      ]
    }"""

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "native_timeseries" -> ((s, dir) => {
      NativeQuery.run(s, TimeseriesGateJson, res(s, dir))
    }),

    "native_topn" -> ((s, dir) => {
      NativeQuery.run(s,
        """{
          "queryType": "topN",
          "dataSource": "orders",
          "timeColumn": "o_orderdate",
          "dimension": {"type": "extraction", "dimension": "o_orderpriority",
                        "outputName": "prio_prefix",
                        "extractionFn": {"type": "substring", "index": 0, "length": 1}},
          "metric": "total",
          "threshold": 3,
          "aggregations": [
            {"type": "longSum", "name": "total", "fieldName": "o_orderkey"},
            {"type": "count", "name": "cnt"}
          ]
        }""", res(s, dir))
    }),

    // non-ALL granularity topN: top-K PER TIME BUCKET (r12 — the reference
    // emits one TopNResultValue per granularity bucket; one window pass over
    // the aggregated rows, TopNQueryRunnerTest.testTopNOverFirstLastAggregator)
    "native_topn_bucketed" -> ((s, dir) => {
      NativeQuery.run(s,
        """{
          "queryType": "topN",
          "dataSource": "orders",
          "timeColumn": "o_orderdate",
          "granularity": {"type": "period", "period": "P1Y"},
          "dimension": "o_orderpriority",
          "metric": "total",
          "threshold": 2,
          "aggregations": [
            {"type": "longSum", "name": "total", "fieldName": "o_totalprice"},
            {"type": "count", "name": "cnt"}
          ]
        }""", res(s, dir))
    }),

    "native_groupby" -> ((s, dir) => {
      NativeQuery.run(s,
        """{
          "queryType": "groupBy",
          "dataSource": {"type": "join", "left": "lineitem", "right": "part",
                         "rightPrefix": "r.", "condition": "l_partkey == p_partkey",
                         "joinType": "INNER"},
          "timeColumn": "l_shipdate",
          "dimensions": [{"type": "default", "dimension": "r.p_brand", "outputName": "brand"}],
          "virtualColumns": [{"type": "expression", "name": "qty2",
                              "expression": "l_quantity * 2"}],
          "aggregations": [
            {"type": "count", "name": "cnt"},
            {"type": "doubleSum", "name": "sum_qty2", "fieldName": "qty2"},
            {"type": "doubleMax", "name": "max_qty", "fieldName": "l_quantity"}
          ],
          "having": {"type": "greaterThan", "aggregation": "cnt", "value": 100},
          "limitSpec": {"type": "default", "limit": 10,
            "columns": [{"dimension": "cnt", "direction": "descending"},
                        {"dimension": "brand", "direction": "ascending"}]}
        }""", res(s, dir))
    }),

    // sketch MERGE factories end-to-end: the inner query BUILDS per-group
    // theta sketches (shouldFinalize=false keeps the serialized bytes), the
    // outer re-aggregates them with isInputThetaSketch — the reference's
    // rollup-segment re-aggregation shape (SketchMergeAggregatorFactory).
    // Exact below nominal entries, so the DuckDB oracle pins the value.
    "native_sketch_merge" -> ((s, dir) => {
      NativeQuery.run(s,
        """{
          "queryType": "groupBy",
          "dataSource": {"type": "query", "query": {
            "queryType": "groupBy",
            "dataSource": "orders",
            "timeColumn": "o_orderdate",
            "dimensions": ["o_orderstatus"],
            "aggregations": [
              {"type": "thetaSketch", "name": "sk_cust", "fieldName": "o_custkey",
               "shouldFinalize": false}
            ]
          }},
          "dimensions": [],
          "aggregations": [
            {"type": "thetaSketch", "name": "nd_cust", "fieldName": "sk_cust",
             "isInputThetaSketch": true}
          ]
        }""", res(s, dir))
    }),

    // implicit limit ordering on a numeric column named WITHOUT an
    // outputType: DefaultDimensionSpec defaults to STRING
    // (getOutputType null → ColumnType.STRING), so the merge order is the
    // STRING comparison and the bare limit returns the LEXICOGRAPHICALLY
    // first custkeys (r13 — GroupByQueryRunnerTest
    // .testGroupByLongAndFloatOutputAsString pins the string typing; an
    // explicit outputType LONG would restore numeric order)
    "native_groupby_numeric_limit" -> ((s, dir) => {
      NativeQuery.run(s,
        """{
          "queryType": "groupBy",
          "dataSource": "orders",
          "timeColumn": "o_orderdate",
          "dimensions": [{"type": "default", "dimension": "o_custkey",
                          "outputName": "custkey"}],
          "aggregations": [{"type": "count", "name": "cnt"}],
          "limitSpec": {"type": "default", "limit": 7}
        }""", res(s, dir))
    }),

    // StringComparators in the JSON surface: a version-ordered bound filter
    // ("1.2.9" excluded, "1.10.0" included — lexicographic would invert
    // both) + version dimensionOrder in the limitSpec, over a TYPED inline
    // datasource (InlineDataSource.java:48 RowSignature; longSum over the
    // LONG column proves the typing)
    "native_bound_version" -> ((s, dir) => {
      NativeQuery.run(s,
        """{
          "queryType": "groupBy",
          "dataSource": {"type": "inline",
            "columnNames": ["ver", "n"],
            "columnTypes": ["STRING", "LONG"],
            "rows": [["1.2.9", 1], ["1.2.10", 2], ["1.10.0", 3],
                     ["2.0.0", 4], ["0.9.1", 5], ["1.2.10", 6]]},
          "dimensions": [{"type": "default", "dimension": "ver"}],
          "filter": {"type": "bound", "dimension": "ver",
                     "lower": "1.2.10", "ordering": "version"},
          "aggregations": [
            {"type": "count", "name": "cnt"},
            {"type": "longSum", "name": "sum_n", "fieldName": "n"}],
          "limitSpec": {"type": "default", "columns": [
            {"dimension": "ver", "direction": "ascending",
             "dimensionOrder": {"type": "version"}}]}
        }""", res(s, dir))
    }),

    // dimension topN metric spec (DimensionTopNMetricSpec.java): top 12
    // buckets in ALPHANUMERIC order of the dimension — f9 before f10, which
    // lexicographic ordering would place pages apart. The dimension is a
    // Druid math-expr virtual column, verbatim dialect.
    "native_topn_dimension" -> ((s, dir) => {
      NativeQuery.run(s,
        """{
          "queryType": "topN",
          "dataSource": "part",
          "virtualColumns": [{"type": "expression", "name": "fsize",
                              "expression": "concat('f', \"p_size\")"}],
          "dimension": {"type": "default", "dimension": "fsize"},
          "metric": {"type": "dimension", "ordering": "alphanumeric"},
          "threshold": 12,
          "aggregations": [{"type": "count", "name": "cnt"}]
        }""", res(s, dir))
    }),

    // lookup datasource (LookupDataSource.java:41): joinable broadcast
    // (k, v) table resolved from the registry
    "native_lookup_join" -> ((s, dir) => {
      registerNationLookup(s, dir)
      NativeQuery.run(s,
        """{
          "queryType": "groupBy",
          "dataSource": {"type": "join", "left": "customer",
                         "right": {"type": "lookup", "lookup": "nation_name"},
                         "rightPrefix": "r.", "condition": "c_nationkey == k",
                         "joinType": "LEFT"},
          "dimensions": [{"type": "default", "dimension": "r.v", "outputName": "nation"}],
          "aggregations": [{"type": "count", "name": "cnt"}],
          "limitSpec": {"type": "default", "columns": [
            {"dimension": "nation", "direction": "ascending"}]}
        }""", res(s, dir))
    }),

    // LOOKUP() SQL function (QueryLookupOperatorConversion.java) over the
    // same registry, through spark.sql
    "sql_lookup" -> ((s, dir) => {
      registerNationLookup(s, dir)
      Sources.table(s, dir, "supplier").createOrReplaceTempView("graft_supplier")
      s.sql("""
        SELECT LOOKUP(CAST(s_nationkey AS STRING), 'nation_name') AS nation,
               count(*) AS cnt
        FROM graft_supplier GROUP BY 1 ORDER BY 1""")
    }),

    // Druid math-expr dialect verbatim (core/.../math/expr/Parser.java):
    // double-quoted identifiers, &&/||, ==, case_searched, nested
    // timestamp_floor/timestamp_format macros — submitted exactly as a
    // reference user would write them
    "native_math_expr" -> ((s, dir) => {
      NativeQuery.run(s,
        """{
          "queryType": "groupBy",
          "dataSource": "orders",
          "timeColumn": "o_orderdate",
          "virtualColumns": [
            {"type": "expression", "name": "month",
             "expression": "timestamp_format(timestamp_floor(\"o_orderdate\", 'P3M'), 'yyyy-MM')"},
            {"type": "expression", "name": "prio_class",
             "expression": "case_searched(\"o_orderpriority\" == '1-URGENT' || \"o_orderpriority\" == '2-HIGH', 'high', 'normal')"}
          ],
          "filter": {"type": "expression",
                     "expression": "\"o_totalprice\" > 100000.0 && \"o_orderstatus\" != 'P'"},
          "dimensions": ["month", "prio_class"],
          "aggregations": [{"type": "count", "name": "cnt"}],
          "limitSpec": {"type": "default", "columns": [
            {"dimension": "month"}, {"dimension": "prio_class"}]}
        }""", res(s, dir))
    }),

    // extraction fns beyond the r2 set: stringFormat + timeFormat dims
    // (StringFormatExtractionFn; partial/searchQuery/time/lookup/identity
    // covered in NativeQuerySpec)
    "native_extraction_fns" -> ((s, dir) => {
      NativeQuery.run(s,
        """{
          "queryType": "groupBy",
          "dataSource": "orders",
          "dimensions": [
            {"type": "extraction", "dimension": "o_orderpriority", "outputName": "prio_fmt",
             "extractionFn": {"type": "stringFormat", "format": "[%s]"}},
            {"type": "extraction", "dimension": "o_orderdate", "outputName": "y",
             "extractionFn": {"type": "timeFormat", "format": "yyyy"}}
          ],
          "aggregations": [{"type": "count", "name": "cnt"}],
          "limitSpec": {"type": "default", "columns": [
            {"dimension": "prio_fmt"}, {"dimension": "y"}]}
        }""", res(s, dir))
    }),

    // multi-value dimension filter semantics through JSON (SURVEY §1.4,
    // Filter.java:93): a selector on an ArrayType column matches when ANY
    // element matches — the defining MV-string behavior
    "native_mv_filter" -> ((s, dir) => {
      NativeQuery.run(s,
        """{
          "queryType": "groupBy",
          "dataSource": "part",
          "virtualColumns": [{"type": "expression", "name": "toks",
                              "expression": "string_to_mv(\"p_name\", ' ')"}],
          "filter": {"type": "selector", "dimension": "toks", "value": "widget"},
          "dimensions": [{"type": "default", "dimension": "p_brand"}],
          "aggregations": [{"type": "count", "name": "cnt"}],
          "limitSpec": {"type": "default", "columns": [{"dimension": "p_brand"}]}
        }""", res(s, dir))
    }),

    // the SECOND registered virtual column subtype: "mv-filtered"
    // (ListFilteredVirtualColumn.java:66-77 — delegate DimensionSpec,
    // values, isAllowList default true; the selector yields NULL, not an
    // empty cell, when nothing survives). Chained after an expression VC
    // so the delegate resolves against the derived array column; grouping
    // on it explodes per surviving element.
    "native_mv_filtered_vc" -> ((s, dir) => {
      NativeQuery.run(s,
        """{
          "queryType": "groupBy",
          "dataSource": "part",
          "virtualColumns": [
            {"type": "expression", "name": "toks",
             "expression": "string_to_mv(\"p_name\", ' ')"},
            {"type": "mv-filtered", "name": "toks_f", "delegate": "toks",
             "values": ["small", "red", "blue", "hot"], "isAllowList": true}
          ],
          "dimensions": [{"type": "default", "dimension": "toks_f", "outputName": "token"}],
          "aggregations": [{"type": "count", "name": "cnt"}],
          "limitSpec": {"type": "default", "columns": [{"dimension": "token"}]}
        }""", res(s, dir))
    }),

    // zero-fill over the queried interval: reference default emits one row
    // per day in [1995-01-01, 1995-07-01) even when the filter matches
    // nothing that day (count=0, other aggs null). doubleMax (not sum) keeps
    // the nonempty cells FP-order-independent for the hash compare.
    "native_timeseries_zerofill" -> ((s, dir) => {
      NativeQuery.run(s,
        """{
          "queryType": "timeseries",
          "dataSource": "orders",
          "timeColumn": "o_orderdate",
          "granularity": "day",
          "intervals": ["1995-01-01T00:00:00/1995-07-01T00:00:00"],
          "filter": {"type": "bound", "dimension": "o_totalprice",
                     "lower": 400000.0, "ordering": "numeric"},
          "aggregations": [
            {"type": "count", "name": "cnt"},
            {"type": "doubleMax", "name": "max_price", "fieldName": "o_totalprice"}
          ]
        }""", res(s, dir))
    }),

    "native_scan_search" -> ((s, dir) => {
      // "order": "ascending" on the (unique) key column makes the limit
      // boundary deterministic for the oracle compare
      NativeQuery.run(s,
        """{
          "queryType": "scan",
          "dataSource": "part",
          "timeColumn": "p_partkey",
          "columns": ["p_partkey", "p_name", "p_brand"],
          "filter": {"type": "search", "dimension": "p_name",
                     "query": {"type": "insensitive_contains", "value": "WIDGET"}},
          "order": "ascending",
          "limit": 40
        }""", res(s, dir))
    }),

    // quantilesDoublesSketch aggregator + ToQuantile post-aggs
    // (DoublesSketchModule.java:46,52): the aggregator's OUTPUT finalizes to
    // the stream length n (DoublesSketchAggregatorFactory.java:354-357)
    // while the post-aggs read the raw sketch — both verified here. Exact
    // because n ≤ k.
    "native_sketch_quantiles" -> ((s, dir) => {
      NativeQuery.run(s,
        """{
          "queryType": "groupBy",
          "dataSource": "supplier",
          "dimensions": [],
          "aggregations": [
            {"type": "quantilesDoublesSketch", "name": "sk",
             "fieldName": "s_acctbal", "k": 4096}
          ],
          "postAggregations": [
            {"type": "quantilesDoublesSketchToQuantile", "name": "q25",
             "field": {"type": "fieldAccess", "fieldName": "sk"}, "fraction": 0.25},
            {"type": "quantilesDoublesSketchToQuantile", "name": "q50",
             "field": {"type": "fieldAccess", "fieldName": "sk"}, "fraction": 0.5},
            {"type": "quantilesDoublesSketchToQuantile", "name": "q75",
             "field": {"type": "fieldAccess", "fieldName": "sk"}, "fraction": 0.75}
          ]
        }""", res(s, dir))
    }),

    // thetaSketch aggregators (filtered) + thetaSketchSetOp post-aggs
    // (theta/SketchModule.java:83-87, SketchSetPostAggregator.java:48-56);
    // aggregator outputs finalize to estimates
    // (SketchMergeAggregatorFactory.java:125-131). Exact below nominal 2^16.
    "native_sketch_theta_ops" -> ((s, dir) => {
      NativeQuery.run(s,
        """{
          "queryType": "groupBy",
          "dataSource": "lineitem",
          "dimensions": [],
          "aggregations": [
            {"type": "filtered", "name": "sk_a",
             "filter": {"type": "selector", "dimension": "l_returnflag", "value": "A"},
             "aggregator": {"type": "thetaSketch", "name": "sk_a",
                            "fieldName": "l_suppkey", "size": 65536}},
            {"type": "filtered", "name": "sk_r",
             "filter": {"type": "selector", "dimension": "l_returnflag", "value": "R"},
             "aggregator": {"type": "thetaSketch", "name": "sk_r",
                            "fieldName": "l_suppkey", "size": 65536}}
          ],
          "postAggregations": [
            {"type": "thetaSketchEstimate", "name": "nd_union",
             "field": {"type": "thetaSketchSetOp", "name": "u", "func": "UNION", "fields": [
               {"type": "fieldAccess", "fieldName": "sk_a"},
               {"type": "fieldAccess", "fieldName": "sk_r"}]}},
            {"type": "thetaSketchEstimate", "name": "nd_intersect",
             "field": {"type": "thetaSketchSetOp", "name": "i", "func": "INTERSECT", "fields": [
               {"type": "fieldAccess", "fieldName": "sk_a"},
               {"type": "fieldAccess", "fieldName": "sk_r"}]}}
          ]
        }""", res(s, dir))
    }),

    // the full ArrayOfDoubles tuple post-agg family (tuple/
    // ArrayOfDoublesSketchModule.java:64-105): numEntries, set ops,
    // means/variances over the carried metric, estimate+bounds, and
    // toQuantilesSketch piped into a KLL quantile — all exact below the
    // 2^16 nominal. The trailing .select only unpacks array outputs to
    // scalars (the harness compare cannot hash raw arrays) and rounds the
    // FP stats; every sketch operation happens in the JSON post-aggs.
    "native_tuple_postaggs" -> ((s, dir) => {
      NativeQuery.run(s,
        """{
          "queryType": "groupBy",
          "dataSource": "lineitem",
          "dimensions": [],
          "aggregations": [
            {"type": "filtered", "name": "sk_a",
             "filter": {"type": "selector", "dimension": "l_returnflag", "value": "A"},
             "aggregator": {"type": "arrayOfDoublesSketch", "name": "sk_a",
                            "fieldName": "l_suppkey", "metricColumns": ["l_quantity"],
                            "nominalEntries": 65536}},
            {"type": "filtered", "name": "sk_r",
             "filter": {"type": "selector", "dimension": "l_returnflag", "value": "R"},
             "aggregator": {"type": "arrayOfDoublesSketch", "name": "sk_r",
                            "fieldName": "l_suppkey", "metricColumns": ["l_quantity"],
                            "nominalEntries": 65536}}
          ],
          "postAggregations": [
            {"type": "arrayOfDoublesSketchToNumEntries", "name": "entries_a",
             "field": {"type": "fieldAccess", "fieldName": "sk_a"}},
            {"type": "arrayOfDoublesSketchToEstimate", "name": "nd_union",
             "field": {"type": "arrayOfDoublesSketchSetOp", "name": "u", "func": "UNION",
               "fields": [{"type": "fieldAccess", "fieldName": "sk_a"},
                          {"type": "fieldAccess", "fieldName": "sk_r"}]}},
            {"type": "arrayOfDoublesSketchToEstimate", "name": "nd_intersect",
             "field": {"type": "arrayOfDoublesSketchSetOp", "name": "i", "func": "INTERSECT",
               "fields": [{"type": "fieldAccess", "fieldName": "sk_a"},
                          {"type": "fieldAccess", "fieldName": "sk_r"}]}},
            {"type": "arrayOfDoublesSketchToEstimate", "name": "nd_not",
             "field": {"type": "arrayOfDoublesSketchSetOp", "name": "n", "func": "NOT",
               "fields": [{"type": "fieldAccess", "fieldName": "sk_a"},
                          {"type": "fieldAccess", "fieldName": "sk_r"}]}},
            {"type": "arrayOfDoublesSketchToMeans", "name": "means_a",
             "field": {"type": "fieldAccess", "fieldName": "sk_a"}},
            {"type": "arrayOfDoublesSketchToVariances", "name": "vars_a",
             "field": {"type": "fieldAccess", "fieldName": "sk_a"}},
            {"type": "arrayOfDoublesSketchToEstimateAndBounds", "name": "bounds_a",
             "numStdDevs": 2,
             "field": {"type": "fieldAccess", "fieldName": "sk_a"}},
            {"type": "quantilesDoublesSketchToQuantile", "name": "med_qty_a", "fraction": 0.5,
             "field": {"type": "arrayOfDoublesSketchToQuantilesSketch", "name": "q",
               "column": 1, "k": 4096,
               "field": {"type": "fieldAccess", "fieldName": "sk_a"}}}
          ]
        }""", res(s, dir))
        .select(
          col("entries_a"),
          round(col("nd_union")).cast("long").as("nd_union"),
          round(col("nd_intersect")).cast("long").as("nd_intersect"),
          round(col("nd_not")).cast("long").as("nd_not"),
          round(element_at(col("means_a"), 1), 4).as("mean_qty_a"),
          round(element_at(col("vars_a"), 1), 4).as("var_qty_a"),
          round(element_at(col("bounds_a"), 2)).cast("long").as("lb_a"),
          col("med_qty_a"))
    }),

    // HLLSketchBuild aggregator (HllSketchModule.java:49) with round=true →
    // long estimates in the output; exact at ≤25 distinct nation keys
    // (coupon phase)
    // the UNFINALIZED-subquery contract (r13: ClientQuerySegmentWalker
    // inlines subqueries with finalize=false): the inner query builds
    // per-priority HyperLogLogCollector STATE with the hyper_unique()
    // lambda (raw V1 bytes — no finalize expression), and the OUTER
    // hyperUnique aggregator re-unions the collectors across the hop.
    // round=true → the exact order-status count (HLLC is exact at this
    // cardinality), which the oracle pins with COUNT(DISTINCT).
    "native_subquery_hllc_refold" -> ((s, dir) => {
      NativeQuery.run(s,
        """{
          "queryType": "groupBy",
          "dataSource": {"type": "query", "query": {
            "queryType": "groupBy",
            "dataSource": "orders",
            "timeColumn": "o_orderdate",
            "dimensions": [{"type": "default", "dimension": "o_orderpriority",
                            "outputName": "prio"}],
            "aggregations": [
              {"type": "count", "name": "cnt"},
              {"type": "expression", "name": "status_state",
               "fields": ["o_orderstatus"], "accumulatorIdentifier": "acc",
               "initialValue": "hyper_unique()",
               "fold": "hyper_unique_add(o_orderstatus, acc)",
               "combine": "hyper_unique_add(status_state, acc)"}]
          }},
          "aggregations": [
            {"type": "longSum", "name": "cnt", "fieldName": "cnt"},
            {"type": "hyperUnique", "name": "nd_status",
             "fieldName": "status_state", "round": true}]
        }""", res(s, dir))
    }),

    "native_hll" -> ((s, dir) => {
      NativeQuery.run(s,
        """{
          "queryType": "groupBy",
          "dataSource": "customer",
          "dimensions": [{"type": "default", "dimension": "c_mktsegment"}],
          "aggregations": [
            {"type": "HLLSketchBuild", "name": "nd_nation",
             "fieldName": "c_nationkey", "lgK": 12, "round": true},
            {"type": "count", "name": "cnt"}
          ],
          "limitSpec": {"type": "default", "columns": [{"dimension": "c_mktsegment"}]}
        }""", res(s, dir))
    }),

    // cardinality aggregator BOTH modes on ≥2 fields
    // (CardinalityAggregatorFactory.java:110-128): byRow=false (default)
    // counts distinct over the union of the fields' values, byRow=true
    // counts distinct value tuples
    // cardinality is HLLC (CardinalityAggregator.java — r12: byte-parity
    // estimates, golden-gated against the reference's published constants in
    // QueryRunnerGoldenSpec3/5); the oracle gates the byValue-vs-byRow
    // plumbing at cardinalities where the rounded HLLC estimate is exact
    // (8 unioned values / 15 row tuples — an approximate estimator cannot
    // round-trip DuckDB's exact COUNT DISTINCT at hundreds of values)
    "native_cardinality_modes" -> ((s, dir) => {
      NativeQuery.run(s,
        """{
          "queryType": "groupBy",
          "dataSource": "orders",
          "dimensions": [],
          "aggregations": [
            {"type": "cardinality", "name": "nd_values",
             "fields": ["o_orderstatus", "o_orderpriority"], "byRow": false, "round": true},
            {"type": "cardinality", "name": "nd_rows",
             "fields": ["o_orderstatus", "o_orderpriority"], "byRow": true, "round": true}
          ]
        }""", res(s, dir))
    }),

    // ExpressionLambdaAggregatorFactory's real JSON lifecycle
    // (ExpressionLambdaAggregatorFactory.java:103-125): fields /
    // initialValue / fold in the math-expr dialect — sum of squares
    // (exact: integer-valued doubles)
    "native_lambda_fold" -> ((s, dir) => {
      NativeQuery.run(s,
        """{
          "queryType": "groupBy",
          "dataSource": "lineitem",
          "dimensions": [{"type": "default", "dimension": "l_returnflag"}],
          "aggregations": [
            {"type": "expression", "name": "sumsq",
             "fields": ["l_quantity"],
             "initialValue": "0.0",
             "fold": "__acc + \"l_quantity\" * \"l_quantity\"",
             "combine": "__acc + sumsq"},
            {"type": "count", "name": "cnt"}
          ],
          "limitSpec": {"type": "default", "columns": [{"dimension": "l_returnflag"}]}
        }""", res(s, dir))
    }),

    // expression lambda + the hyper_unique expression macros
    // (HyperUniqueExpressions.java:44-260): an HLL collector as the
    // accumulator — initialValue creates it, fold adds each value,
    // finalize reads the estimate (exact at 25 distinct)
    "native_lambda_hll" -> ((s, dir) => {
      NativeQuery.run(s,
        """{
          "queryType": "groupBy",
          "dataSource": "customer",
          "dimensions": [{"type": "default", "dimension": "c_mktsegment"}],
          "aggregations": [
            {"type": "expression", "name": "nd_nation",
             "fields": ["c_nationkey"],
             "initialValue": "hyper_unique()",
             "fold": "hyper_unique_add(\"c_nationkey\", __acc)",
             "finalize": "round(hyper_unique_estimate(o))"}
          ],
          "limitSpec": {"type": "default", "columns": [{"dimension": "c_mktsegment"}]}
        }""", res(s, dir))
    }),

    // the apply/lambda functions of the math-expr dialect
    // (ApplyFunction.java:156-591): map/filter/fold inside a virtualColumn
    // and any() as an expression filter, all in Druid's lambda-first
    // spelling with (element, accumulator) fold binding — exact long
    // arithmetic so the oracle hash matches
    "native_apply_fns" -> ((s, dir) => {
      NativeQuery.run(s,
        """{
          "queryType": "groupBy",
          "dataSource": "lineitem",
          "virtualColumns": [
            {"type": "expression", "name": "arr",
             "expression": "[\"l_linenumber\", \"l_orderkey\" % 10, 3]"},
            {"type": "expression", "name": "folded",
             "expression": "fold((x, acc) -> acc + x, map((x) -> x * 2, filter((x) -> x > 2, arr)), 0)"}
          ],
          "filter": {"type": "expression", "expression": "any((x) -> x > 4, arr)"},
          "dimensions": [{"type": "default", "dimension": "l_returnflag"}],
          "aggregations": [
            {"type": "longSum", "name": "folded_sum", "fieldName": "folded"},
            {"type": "count", "name": "cnt"}
          ],
          "limitSpec": {"type": "default", "columns": [{"dimension": "l_returnflag"}]}
        }""", res(s, dir))
    }),

    // interval filter on a LONG millis column (IntervalDimFilter.java —
    // bounds compile to a long range, not a timestamp compare): the virtual
    // column materializes epoch millis, the filter must hit the long branch
    "native_interval_long" -> ((s, dir) => {
      NativeQuery.run(s,
        """{
          "queryType": "groupBy",
          "dataSource": "orders",
          "virtualColumns": [{"type": "expression", "name": "o_ms",
                              "expression": "timestamp_to_millis(\"o_orderdate\")"}],
          "filter": {"type": "interval", "dimension": "o_ms",
                     "intervals": ["1995-01-01T00:00:00/1996-01-01T00:00:00"]},
          "dimensions": [{"type": "extraction", "dimension": "o_orderdate", "outputName": "y",
                          "extractionFn": {"type": "timeFormat", "format": "yyyy-MM"}}],
          "aggregations": [{"type": "count", "name": "cnt"}],
          "limitSpec": {"type": "default", "columns": [{"dimension": "y"}]}
        }""", res(s, dir))
    })
  )

  def oracle: Map[String, String] = Map(
    "native_timeseries" ->
      """SELECT CAST(date_trunc('quarter', l_shipdate) AS TIMESTAMP) AS l_shipdate,
        |       count(*) AS cnt, sum(l_quantity) AS sum_qty,
        |       sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END) AS qty_a,
        |       sum(l_quantity) / count(*) AS avg_qty
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1999-01-01'
        |  AND l_returnflag IN ('A', 'R') AND l_quantity >= 5
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "native_topn" ->
      """SELECT substr(o_orderpriority, 1, 1) AS prio_prefix,
        |       CAST(sum(o_orderkey) AS BIGINT) AS total, count(*) AS cnt
        |FROM orders GROUP BY 1
        |ORDER BY total DESC, prio_prefix ASC LIMIT 3""".stripMargin,

    "native_topn_bucketed" ->
      """SELECT o_orderdate, o_orderpriority, total, cnt FROM (
        |  SELECT o_orderdate, o_orderpriority, total, cnt,
        |         row_number() OVER (PARTITION BY o_orderdate
        |           ORDER BY total DESC, o_orderpriority ASC) AS rk
        |  FROM (
        |    SELECT CAST(date_trunc('year', o_orderdate) AS TIMESTAMP) AS o_orderdate,
        |           o_orderpriority,
        |           CAST(sum(CAST(trunc(o_totalprice) AS BIGINT)) AS BIGINT) AS total,
        |           count(*) AS cnt
        |    FROM orders GROUP BY 1, 2))
        |WHERE rk <= 2
        |ORDER BY o_orderdate, rk""".stripMargin,

    "native_groupby" ->
      """SELECT p_brand AS brand, count(*) AS cnt,
        |       sum(l_quantity * 2) AS sum_qty2, max(l_quantity) AS max_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 HAVING count(*) > 100
        |ORDER BY cnt DESC, brand ASC LIMIT 10""".stripMargin,

    // DefaultDimensionSpec without outputType is STRING-typed in the
    // reference (a LONG column groups/orders/renders as its string form) —
    // the limit slice is the LEXICOGRAPHIC head
    "native_groupby_numeric_limit" ->
      """SELECT CAST(o_custkey AS VARCHAR) AS custkey, count(*) AS cnt
        |FROM orders GROUP BY 1 ORDER BY custkey LIMIT 7""".stripMargin,

    // theta estimates are exact (integral doubles) below nominal capacity
    "native_sketch_merge" ->
      "SELECT CAST(count(DISTINCT o_custkey) AS DOUBLE) AS nd_cust FROM orders",

    // hand-computed golden rows (reference-style expected-result test): the
    // version comparator admits exactly {1.2.10×2, 1.10.0, 2.0.0} and orders
    // them 1.2.10 < 1.10.0 < 2.0.0
    "native_bound_version" ->
      """SELECT * FROM (VALUES ('1.2.10', CAST(2 AS BIGINT), CAST(8 AS BIGINT)),
        |                      ('1.10.0', CAST(1 AS BIGINT), CAST(3 AS BIGINT)),
        |                      ('2.0.0',  CAST(1 AS BIGINT), CAST(4 AS BIGINT)))
        |       AS t(ver, cnt, sum_n)""".stripMargin,

    "native_topn_dimension" ->
      """SELECT 'f' || p_size AS fsize, count(*) AS cnt
        |FROM part GROUP BY 1 ORDER BY min(p_size) LIMIT 12""".stripMargin,

    "native_lookup_join" ->
      """SELECT n_name AS nation, count(*) AS cnt
        |FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "sql_lookup" ->
      """SELECT n_name AS nation, count(*) AS cnt
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "native_math_expr" ->
      """SELECT strftime(date_trunc('quarter', o_orderdate), '%Y-%m') AS month,
        |       CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |            THEN 'high' ELSE 'normal' END AS prio_class,
        |       count(*) AS cnt
        |FROM orders
        |WHERE o_totalprice > 100000.0 AND o_orderstatus <> 'P'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "native_extraction_fns" ->
      """SELECT '[' || o_orderpriority || ']' AS prio_fmt,
        |       strftime(o_orderdate, '%Y') AS y, count(*) AS cnt
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "native_mv_filter" ->
      """SELECT p_brand, count(*) AS cnt FROM part
        |WHERE list_contains(string_split(p_name, ' '), 'widget')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // empty filtered cells become a NULL group (ListFilteredVirtualColumn
    // null-cell semantics)
    "native_mv_filtered_vc" ->
      """SELECT token, count(*) AS cnt FROM (
        |  SELECT unnest(CASE WHEN len(f) = 0 THEN [CAST(NULL AS VARCHAR)] ELSE f END) AS token
        |  FROM (SELECT list_filter(string_split(p_name, ' '),
        |        t -> t IN ('small','red','blue','hot')) AS f FROM part))
        |GROUP BY 1 ORDER BY 1 NULLS FIRST""".stripMargin,

    "native_timeseries_zerofill" ->
      """WITH agg AS (
        |  SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS d,
        |         count(*) AS cnt, max(o_totalprice) AS max_price
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-07-01'
        |    AND o_totalprice >= 400000.0
        |  GROUP BY 1),
        |spine AS (
        |  SELECT unnest(generate_series(TIMESTAMP '1995-01-01',
        |                                TIMESTAMP '1995-06-30',
        |                                INTERVAL 1 DAY)) AS d)
        |SELECT spine.d AS o_orderdate, coalesce(agg.cnt, 0) AS cnt, agg.max_price AS max_price
        |FROM spine LEFT JOIN agg ON spine.d = agg.d ORDER BY 1""".stripMargin,

    "native_scan_search" ->
      """SELECT p_partkey, p_name, p_brand FROM part
        |WHERE contains(lower(p_name), 'widget')
        |ORDER BY p_partkey LIMIT 40""".stripMargin,

    // sk = the aggregator's finalized value = stream length n.
    // Quantiles pin the reference's datasketches-3.1.0 getQuantile rule
    // (strictly-greater / modern EXCLUSIVE,
    // DoublesSketchToQuantilePostAggregator.java:86): the smallest value
    // whose cumulative 1-indexed row rank is STRICTLY greater than f*n —
    // NOT percentile_disc (the inclusive rule).
    "native_sketch_quantiles" ->
      """WITH ranked AS (
        |  SELECT s_acctbal AS v,
        |         row_number() OVER (ORDER BY s_acctbal) AS rk,
        |         count(*) OVER () AS n
        |  FROM supplier)
        |SELECT CAST((SELECT count(*) FROM supplier) AS BIGINT) AS sk,
        |  (SELECT min(v) FROM ranked WHERE rk > 0.25 * n) AS q25,
        |  (SELECT min(v) FROM ranked WHERE rk > 0.5 * n) AS q50,
        |  (SELECT min(v) FROM ranked WHERE rk > 0.75 * n) AS q75""".stripMargin,

    "native_sketch_theta_ops" ->
      """WITH a AS (SELECT DISTINCT l_suppkey AS k FROM lineitem WHERE l_returnflag = 'A'),
        |r AS (SELECT DISTINCT l_suppkey AS k FROM lineitem WHERE l_returnflag = 'R')
        |SELECT CAST((SELECT count(*) FROM a) AS DOUBLE) AS sk_a,
        |       CAST((SELECT count(*) FROM r) AS DOUBLE) AS sk_r,
        |       CAST((SELECT count(*) FROM (SELECT k FROM a UNION SELECT k FROM r)) AS DOUBLE) AS nd_union,
        |       CAST((SELECT count(*) FROM (SELECT k FROM a INTERSECT SELECT k FROM r)) AS DOUBLE) AS nd_intersect""".stripMargin,

    // per-key metric = sum of l_quantity per suppkey (tuple update sums
    // values on duplicate keys); means/variances/median are over those
    // per-key sums. The median pins the reference's strictly-greater
    // (EXCLUSIVE) getQuantile rule: smallest value whose cumulative
    // 1-indexed row rank > 0.5*n (DoublesSketchToQuantilePostAggregator
    // .java:86) — NOT percentile_disc (inclusive).
    "native_tuple_postaggs" ->
      """WITH a AS (SELECT l_suppkey, sum(l_quantity) AS qty FROM lineitem
        |           WHERE l_returnflag = 'A' GROUP BY 1),
        |r AS (SELECT l_suppkey, sum(l_quantity) AS qty FROM lineitem
        |      WHERE l_returnflag = 'R' GROUP BY 1)
        |SELECT
        |  CAST((SELECT count(*) FROM a) AS BIGINT) AS entries_a,
        |  CAST((SELECT count(*) FROM (SELECT l_suppkey FROM a UNION SELECT l_suppkey FROM r)) AS BIGINT) AS nd_union,
        |  CAST((SELECT count(*) FROM (SELECT l_suppkey FROM a INTERSECT SELECT l_suppkey FROM r)) AS BIGINT) AS nd_intersect,
        |  CAST((SELECT count(*) FROM (SELECT l_suppkey FROM a EXCEPT SELECT l_suppkey FROM r)) AS BIGINT) AS nd_not,
        |  round((SELECT avg(qty) FROM a), 4) AS mean_qty_a,
        |  round((SELECT var_samp(qty) FROM a), 4) AS var_qty_a,
        |  CAST((SELECT count(*) FROM a) AS BIGINT) AS lb_a,
        |  (SELECT min(qty) FROM (
        |     SELECT qty, row_number() OVER (ORDER BY qty) AS rk,
        |            count(*) OVER () AS n FROM a)
        |   WHERE rk > 0.5 * n) AS med_qty_a""".stripMargin,

    "native_hll" ->
      """SELECT c_mktsegment, count(DISTINCT c_nationkey) AS nd_nation, count(*) AS cnt
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin,

    // HLLC is exact at order-status cardinality, so the re-unioned
    // collector's rounded estimate equals the exact distinct count
    "native_subquery_hllc_refold" ->
      """SELECT CAST(count(*) AS BIGINT) AS cnt,
        |       CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS nd_status
        |FROM orders""".stripMargin,

    "native_cardinality_modes" ->
      """SELECT
        |  (SELECT count(*) FROM (
        |     SELECT DISTINCT o_orderstatus AS v FROM orders
        |     UNION SELECT DISTINCT o_orderpriority FROM orders)) AS nd_values,
        |  (SELECT count(*) FROM (
        |     SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders)) AS nd_rows""".stripMargin,

    "native_lambda_fold" ->
      """SELECT l_returnflag, sum(l_quantity * l_quantity) AS sumsq, count(*) AS cnt
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "native_lambda_hll" ->
      """SELECT c_mktsegment, CAST(count(DISTINCT c_nationkey) AS DOUBLE) AS nd_nation
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin,

    "native_apply_fns" ->
      """SELECT l_returnflag,
        |  CAST(sum(
        |    (CASE WHEN l_linenumber > 2 THEN 2 * l_linenumber ELSE 0 END) +
        |    (CASE WHEN l_orderkey % 10 > 2 THEN 2 * (l_orderkey % 10) ELSE 0 END) +
        |    6) AS BIGINT) AS folded_sum,
        |  count(*) AS cnt
        |FROM lineitem
        |WHERE l_linenumber > 4 OR l_orderkey % 10 > 4
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "native_interval_long" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS y, count(*) AS cnt
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
