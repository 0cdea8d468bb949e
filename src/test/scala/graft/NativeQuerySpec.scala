package graft

import org.apache.spark.sql.DataFrame
import graft.operators.NativeQuery

class NativeQuerySpec extends SparkSpecBase {
  import spark.implicits._

  private def resolver: NativeQuery.Resolver =
    name => spark.read.parquet(s"${sf()}/$name.parquet")

  private def run(json: String): DataFrame = NativeQuery.run(spark, json, resolver)

  test("nested query datasource + subtotals grouping sets") {
    val df = run(
      """{
        "queryType": "groupBy",
        "dataSource": {"type": "query", "query": {
          "queryType": "scan", "dataSource": "lineitem",
          "timeColumn": "l_shipdate",
          "columns": ["l_returnflag", "l_linestatus", "l_quantity"]
        }},
        "timeColumn": "l_shipdate",
        "dimensions": ["l_returnflag", "l_linestatus"],
        "aggregations": [{"type": "count", "name": "cnt"}],
        "subtotalsSpec": [["l_returnflag", "l_linestatus"], ["l_returnflag"], []]
      }""")
    val rows = df.collect()
    // 6 (full) + 3 (by flag) + 1 (total)
    assert(rows.length == 10)
    assert(rows.count(r => r.isNullAt(0) && r.isNullAt(1)) == 1)
  }

  test("union datasource and interval filter") {
    val df = run(
      """{
        "queryType": "timeseries",
        "dataSource": {"type": "union", "dataSources": ["orders", "orders"]},
        "timeColumn": "o_orderdate",
        "granularity": "year",
        "intervals": ["1996-01-01T00:00:00/1998-01-01T00:00:00"],
        "aggregations": [{"type": "count", "name": "cnt"}]
      }""")
    val rows = df.collect()
    assert(rows.length == 2) // 1996, 1997
    val direct = spark.read.parquet(s"${sf()}/orders.parquet")
      .filter($"o_orderdate" >= "1996-01-01" && $"o_orderdate" < "1998-01-01").count()
    assert(rows.map(_.getLong(1)).sum == direct * 2)
  }

  test("timeBoundary and cascade extraction filter") {
    val tb = run(
      """{"queryType": "timeBoundary", "dataSource": "lineitem", "timeColumn": "l_shipdate"}""")
      .head()
    assert(!tb.isNullAt(0) && !tb.isNullAt(1))
    val f = run(
      """{
        "queryType": "groupBy",
        "dataSource": "part",
        "dimensions": [{"type": "extraction", "dimension": "p_name", "outputName": "u",
          "extractionFn": {"type": "cascade", "extractionFns": [
            {"type": "substring", "index": 0, "length": 3},
            {"type": "upper"}]}}],
        "aggregations": [{"type": "count", "name": "cnt"}]
      }""")
    assert(f.collect().forall(r => r.getString(0) == r.getString(0).toUpperCase))
  }

  test("having and/or and inverted topN metric") {
    val hv = run(
      """{
        "queryType": "groupBy", "dataSource": "orders",
        "dimensions": ["o_orderpriority"],
        "aggregations": [{"type": "count", "name": "cnt"}],
        "having": {"type": "and", "havingSpecs": [
          {"type": "greaterThan", "aggregation": "cnt", "value": 1},
          {"type": "not", "havingSpec": {"type": "lessThan", "aggregation": "cnt", "value": 2}}]}
      }""")
    assert(hv.collect().forall(_.getLong(1) >= 2))
    val bottom = run(
      """{
        "queryType": "topN", "dataSource": "orders",
        "dimension": "o_orderpriority",
        "metric": {"type": "inverted", "metric": "cnt"},
        "threshold": 2,
        "aggregations": [{"type": "count", "name": "cnt"}]
      }""").collect()
    assert(bottom.length == 2)
    assert(bottom(0).getLong(1) <= bottom(1).getLong(1))
  }

  test("first/last aggregators default timeColumn to the query-level time column") {
    // standard Druid JSON: no per-aggregator timeColumn
    // (LongFirstAggregatorFactory.java:94 defaults to __time)
    val df = run(
      """{
        "queryType": "groupBy",
        "dataSource": "orders",
        "timeColumn": "o_orderdate",
        "dimensions": ["o_orderpriority"],
        "aggregations": [
          {"type": "doubleFirst", "name": "first_price", "fieldName": "o_totalprice"},
          {"type": "doubleLast", "name": "last_price", "fieldName": "o_totalprice"}
        ],
        "limitSpec": {"type": "default", "columns": ["o_orderpriority"]}
      }""")
    val rows = df.collect()
    assert(rows.nonEmpty && rows.forall(r => !r.isNullAt(1) && !r.isNullAt(2)))
  }

  test("unsupported query type raises a clear error") {
    // surfaces as QueryUnsupportedException (501) on the HTTP facade
    assertThrows[UnsupportedOperationException](
      run("""{"queryType": "nope", "dataSource": "orders"}"""))
  }

  test("typed inline datasource: declared types and inferred types") {
    // declared LONG column joins numerically against a LONG table column
    val declared = run(
      """{
        "queryType": "groupBy",
        "dataSource": {"type": "join", "left": "region",
          "right": {"type": "inline",
            "columnNames": ["rk", "tag"], "columnTypes": ["LONG", "STRING"],
            "rows": [[0, "zero"], [1, "one"], [2, "two"]]},
          "rightPrefix": "r.", "condition": "r_regionkey == rk", "joinType": "INNER"},
        "dimensions": [{"type": "default", "dimension": "r.tag", "outputName": "tag"}],
        "aggregations": [{"type": "count", "name": "cnt"}],
        "limitSpec": {"type": "default", "columns": ["tag"]}
      }""").collect()
    assert(declared.map(_.getString(0)).toSeq == Seq("one", "two", "zero"))
    // no columnTypes: long/double/string inferred from the JSON values
    val inferred = run(
      """{
        "queryType": "scan",
        "dataSource": {"type": "inline",
          "columnNames": ["a", "b", "c"],
          "rows": [[1, 1.5, "x"], [2, 2.5, "y"]]},
        "columns": ["a", "b", "c"], "timeColumn": "a", "order": "ascending"
      }""")
    assert(inferred.schema("a").dataType.typeName == "long")
    assert(inferred.schema("b").dataType.typeName == "double")
    assert(inferred.schema("c").dataType.typeName == "string")
    assert(inferred.count() == 2)
  }

  test("join condition accepts a conjunction of equi-conditions") {
    val df = run(
      """{
        "queryType": "groupBy",
        "dataSource": {"type": "join", "left": "lineitem", "right": "lineitem",
          "rightPrefix": "r.",
          "condition": "l_orderkey == l_orderkey && l_linenumber == l_linenumber",
          "joinType": "INNER"},
        "timeColumn": "l_shipdate",
        "aggregations": [{"type": "count", "name": "cnt"}]
      }""")
    // self-join on BOTH keys: expected size = Σ per-key-group count² —
    // strictly smaller than the single-key join, proving the second
    // conjunct participates
    val li = spark.read.parquet(s"${sf()}/lineitem.parquet")
    val expected = li.groupBy($"l_orderkey", $"l_linenumber").count()
      .agg(org.apache.spark.sql.functions.sum($"count" * $"count")).head().getLong(0)
    val singleKey = li.groupBy($"l_orderkey").count()
      .agg(org.apache.spark.sql.functions.sum($"count" * $"count")).head().getLong(0)
    assert(df.head().getLong(0) == expected)
    assert(expected < singleKey)
  }

  test("partial, searchQuery, time, lookup and identity extraction fns") {
    val df = run(
      """{
        "queryType": "scan",
        "dataSource": "orders",
        "columns": ["o_orderkey", "o_orderpriority"],
        "timeColumn": "o_orderkey",
        "filter": {"type": "selector", "dimension": "o_orderpriority", "value": "1-URGENT",
                   "extractionFn": {"type": "identity"}},
        "order": "ascending", "limit": 5
      }""")
    assert(df.count() == 5)
    val ex = run(
      """{
        "queryType": "groupBy",
        "dataSource": "orders",
        "dimensions": [
          {"type": "extraction", "dimension": "o_orderpriority", "outputName": "partial_urgent",
           "extractionFn": {"type": "partial", "expr": "^1-"}},
          {"type": "extraction", "dimension": "o_orderpriority", "outputName": "search_high",
           "extractionFn": {"type": "searchQuery",
                            "query": {"type": "fragment", "values": ["HIGH"]}}},
          {"type": "extraction", "dimension": "o_orderpriority", "outputName": "looked_up",
           "extractionFn": {"type": "lookup",
             "lookup": {"type": "map", "map": {"1-URGENT": "now", "5-LOW": "later"}},
             "replaceMissingValueWith": "whenever"}}
        ],
        "aggregations": [{"type": "count", "name": "cnt"}],
        "limitSpec": {"type": "default", "columns": ["partial_urgent", "search_high", "looked_up"]}
      }""").collect()
    // partial: only 1-URGENT matches ^1-, everything else null
    assert(ex.flatMap(r => Option(r.getString(0))).toSeq == Seq("1-URGENT"))
    // searchQuery fragment is case-insensitive by default → 2-HIGH survives
    assert(ex.flatMap(r => Option(r.getString(1))).toSeq == Seq("2-HIGH"))
    // lookup map + replaceMissingValueWith
    assert(ex.map(r => r.getString(2)).toSet == Set("now", "later", "whenever"))
    // time extraction fn: reparse a string date, re-render in a new format
    val t = run(
      """{
        "queryType": "groupBy",
        "dataSource": {"type": "inline", "columnNames": ["d"],
                       "rows": [["2024/01/15"], ["2023/12/01"], ["2024/01/20"]]},
        "dimensions": [{"type": "extraction", "dimension": "d", "outputName": "ym",
          "extractionFn": {"type": "time", "timeFormat": "yyyy/MM/dd", "resultFormat": "yyyy-MM"}}],
        "aggregations": [{"type": "count", "name": "cnt"}],
        "limitSpec": {"type": "default", "columns": ["ym"]}
      }""").collect()
    assert(t.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("2023-12", 1L), ("2024-01", 2L)))
  }

  test("fragment search filter requires all fragments (case-insensitive default)") {
    val df = run(
      """{
        "queryType": "scan",
        "dataSource": "part",
        "columns": ["p_name"],
        "timeColumn": "p_partkey",
        "filter": {"type": "search", "dimension": "p_name",
                   "query": {"type": "fragment", "values": ["WIDGET", "small"]}}
      }""")
    val names = df.collect().map(_.getString(0))
    assert(names.nonEmpty) // "WIDGET" only matches case-insensitively
    assert(names.forall(n => n.toLowerCase.contains("widget") && n.toLowerCase.contains("small")))
  }

  test("search sort specs order hits by value comparator (SearchSortSpec.java)") {
    // strlen: shorter values first, ties lexicographic; limit trims under
    // THAT ordering (lexicographic would keep AUTOMOBILE over HOUSEHOLD)
    val strlen = run(
      """{
        "queryType": "search",
        "dataSource": "customer",
        "timeColumn": "c_custkey",
        "searchDimensions": ["c_mktsegment"],
        "query": {"type": "contains", "value": "U"},
        "sort": {"type": "strlen"},
        "limit": 3
      }""")
    assert(strlen.collect().map(_.getString(1)).toSeq ==
      Seq("BUILDING", "FURNITURE", "HOUSEHOLD"))

    // alphanumeric: digit runs compare numerically within the value
    val alnum = run(
      """{
        "queryType": "search",
        "dataSource": {"type": "inline",
          "columnNames": ["d"], "columnTypes": ["STRING"],
          "rows": [["file10"], ["file9"], ["file1"]]},
        "searchDimensions": ["d"],
        "query": {"type": "contains", "value": "file"},
        "sort": {"type": "alphanumeric"}
      }""")
    assert(alnum.collect().map(_.getString(1)).toSeq ==
      Seq("file1", "file9", "file10"))
  }

  test("period granularity with timeZone buckets on that zone's wall clock " +
      "(PeriodGranularity.java timeZone)") {
    val df = run(
      """{
        "queryType": "timeseries",
        "dataSource": {"type": "inline",
          "columnNames": ["__time", "n"],
          "columnTypes": ["STRING", "LONG"],
          "rows": [["2000-01-01 00:00:00", 1], ["2000-01-01 10:00:00", 2]]},
        "virtualColumns": [{"type": "expression", "name": "__time",
                            "expression": "timestamp_parse(__time, 'yyyy-MM-dd HH:mm:ss')"}],
        "granularity": {"type": "period", "period": "P1D", "timeZone": "America/Los_Angeles"},
        "context": {"skipEmptyBuckets": true},
        "aggregations": [{"type": "longSum", "name": "s", "fieldName": "n"}]
      }""")
    // 00:00 UTC = Dec 31 16:00 LA; 10:00 UTC = Jan 1 02:00 LA → two LA-day
    // buckets, each rendered as its UTC instant (LA midnight = 08:00 UTC)
    val rows = df.collect()
      .map(r => (String.valueOf(r.get(0)).replace('T', ' '), r.getLong(1))).toSeq
    assert(rows == Seq(("1999-12-31 08:00", 1L), ("2000-01-01 08:00", 2L)))
  }

  test("prefixFiltered and regexFiltered dimension specs filter MV values") {
    val df = run(
      """{
        "queryType": "groupBy",
        "dataSource": {"type": "inline",
          "columnNames": ["id"], "columnTypes": ["LONG"], "rows": [[1]]},
        "virtualColumns": [{"type": "expression", "name": "mv",
                            "expression": "array('apple', 'apricot', 'banana')"}],
        "dimensions": [{"type": "prefixFiltered", "dimension": "mv",
                        "outputName": "d", "prefix": "ap"}],
        "aggregations": [{"type": "count", "name": "cnt"}],
        "limitSpec": {"type": "default", "columns": ["d"]}
      }""").collect()
    assert(df.map(_.getString(0)).toSeq == Seq("apple", "apricot"))
  }

  test("spatial filter: rectangular, radius and polygon bounds") {
    val base =
      """{
        "queryType": "scan",
        "dataSource": {"type": "inline", "columnNames": ["id", "loc"],
          "columnTypes": ["LONG", "STRING"],
          "rows": [[1, "0.5,0.5"], [2, "2.0,2.0"], [3, "0.9,0.1"], [4, "-1.0,0.5"]]},
        "columns": ["id"], "timeColumn": "id", "order": "ascending",
        "filter": %FILTER%
      }"""
    def ids(filter: String): Seq[Long] =
      run(base.replace("%FILTER%", filter)).collect().map(_.getLong(0)).toSeq
    assert(ids("""{"type": "spatial", "dimension": "loc",
        "bound": {"type": "rectangular", "minCoords": [0.0, 0.0], "maxCoords": [1.0, 1.0]}}""")
      == Seq(1L, 3L))
    assert(ids("""{"type": "spatial", "dimension": "loc",
        "bound": {"type": "radius", "coords": [0.5, 0.5], "radius": 0.2}}""")
      == Seq(1L))
    // triangle (0,0)-(2,0)-(0,2): points 1 and 3 strictly inside (a point
    // ON an edge is boundary-fuzzy under ray casting, as in the reference)
    assert(ids("""{"type": "spatial", "dimension": "loc",
        "bound": {"type": "polygon", "abscissa": [0.0, 2.0, 0.0], "ordinate": [0.0, 0.0, 2.0]}}""")
      == Seq(1L, 3L))
  }

  test("bloom filter accepts a base64 serialized filter") {
    import graft.plans.BloomFunctions
    val sup = spark.read.parquet(s"${sf()}/supplier.parquet")
    val blm = sup.filter($"s_suppkey" <= 3)
      .agg(BloomFunctions.bloomFilterAgg($"s_suppkey")).head().getAs[Array[Byte]](0)
    val b64 = java.util.Base64.getEncoder.encodeToString(blm)
    val df = run(
      s"""{
        "queryType": "scan",
        "dataSource": "supplier",
        "columns": ["s_suppkey"], "timeColumn": "s_suppkey", "order": "ascending",
        "filter": {"type": "bloom", "dimension": "s_suppkey", "bloomKFilter": "$b64"}
      }""")
    val keys = df.collect().map(_.getLong(0)).toSet
    assert(Set(1L, 2L, 3L).subsetOf(keys))  // no false negatives
    assert(keys.size < sup.count())         // filters most non-members
  }

  test("bloom filter accepts DRUID BloomKFilter bytes; bloom agg emits them (BloomDimFilter.java)") {
    // a filter in the reference's own serialized format (as a Druid client
    // would POST it, BloomFilterSerializersModule base64)
    val f = new org.apache.hive.common.util.BloomKFilter(100)
    Seq(1L, 2L, 3L).foreach(f.addLong)
    val b64 = java.util.Base64.getEncoder.encodeToString(graft.plans.DruidBloomBytes.serialize(f))
    val df = run(
      s"""{
        "queryType": "scan",
        "dataSource": "supplier",
        "columns": ["s_suppkey"], "timeColumn": "s_suppkey", "order": "ascending",
        "filter": {"type": "bloom", "dimension": "s_suppkey", "bloomKFilter": "$b64"}
      }""")
    val keys = df.collect().map(_.getLong(0)).toSet
    assert(Set(1L, 2L, 3L).subsetOf(keys))
    assert(keys.size < spark.read.parquet(s"${sf()}/supplier.parquet").count())
    // the native bloom AGGREGATOR emits reference-format bytes that feed
    // straight back into the filter (full JSON round trip in Druid format)
    val agg = run(
      """{
        "queryType": "timeseries", "dataSource": "supplier",
        "timeColumn": "s_suppkey", "granularity": "all",
        "filter": {"type": "bound", "dimension": "s_suppkey", "upper": "3",
                   "upperStrict": false, "ordering": "numeric"},
        "aggregations": [{"type": "bloom", "name": "bf", "field": "s_suppkey"}]
      }""").collect()
    val outBytes = java.util.Base64.getMimeDecoder.decode(agg.head.getAs[String]("bf"))
    assert(outBytes(0) >= 1) // reference layout: numHashFunctions first
    val parsed = graft.plans.DruidBloomBytes.deserialize(outBytes)
    (0L to 3L).foreach(k => assert(parsed.testLong(k)))
  }

  test("segmentMetadata analysisTypes and dimSelector having via JSON") {
    val meta = run(
      """{
        "queryType": "segmentMetadata", "dataSource": "region",
        "analysisTypes": ["minmax", "size"]
      }""")
    assert(meta.columns.contains("minValue") && meta.columns.contains("size_bytes"))
    assert(meta.count() == 2) // region: r_regionkey, r_name
    val hv = run(
      """{
        "queryType": "groupBy", "dataSource": "orders",
        "dimensions": ["o_orderpriority"],
        "aggregations": [{"type": "count", "name": "cnt"}],
        "having": {"type": "dimSelector", "dimension": "o_orderpriority", "value": "1-URGENT"}
      }""").collect()
    assert(hv.length == 1 && hv.head.getString(0) == "1-URGENT")
  }

  test("math-expr translation: quoting, logical ops, power rewrite") {
    import graft.functions.MathExpr
    assert(MathExpr.toSparkSql("\"a\" == 'x' && \"b\" != 1 || !\"c\"") ==
      "`a` == 'x'  AND  `b` != 1  OR   NOT `c`")
    assert(MathExpr.toSparkSql("concat('a \"quoted\" str', \"col\")") ==
      "concat('a \"quoted\" str', `col`)")
    // '^' (power) rewrites to druid_mx_pow — Spark's '^' is XOR
    assert(MathExpr.toSparkSql("\"a\" ^ 2") == "druid_mx_pow(`a`, 2)")
  }

  test("cardinality byRow distinguishes null position and field boundaries") {
    // (null,"x") vs ("x",null) are distinct tuples; ("ab","c") vs ("a","bc")
    // are distinct tuples — concat_ws without separator/sentinel merges both
    // pairs (CardinalityAggregatorFactory hashes fields separately)
    val df = run(
      """{
        "queryType": "groupBy",
        "dataSource": {"type": "inline",
          "columnNames": ["a", "b"],
          "columnTypes": ["string", "string"],
          "rows": [[null, "x"], ["x", null], ["ab", "c"], ["a", "bc"]]},
        "dimensions": [],
        "aggregations": [
          {"type": "cardinality", "name": "nd_rows",
           "fields": ["a", "b"], "byRow": true, "round": true}
        ]
      }""")
    assert(df.head().getLong(0) == 4L)
  }

  test("topN on a sketch metric orders by the finalized estimate") {
    // 3 groups with distinct-counts 1 / 20 / 5: ranking raw sketch bytes
    // would be arbitrary; the reference's sketch comparators rank estimates
    // (SketchAggregatorFactory.getComparator)
    val rows = (1 to 20).map(i => s"""["lo", $i]""").take(1).toList :::
      (1 to 20).map(i => s"""["hi", $i]""").toList :::
      (1 to 5).map(i => s"""["mid", $i]""").toList
    val df = run(
      s"""{
        "queryType": "topN",
        "dataSource": {"type": "inline",
          "columnNames": ["g", "v"], "columnTypes": ["string", "long"],
          "rows": [${rows.mkString(",")}]},
        "dimension": "g",
        "metric": "nd",
        "threshold": 2,
        "aggregations": [
          {"type": "HLLSketchBuild", "name": "nd", "fieldName": "v", "round": true}
        ]
      }""").collect()
    assert(df.map(_.getString(0)).toSeq == Seq("hi", "mid"))
    assert(df.head.getLong(1) == 20L)
  }

  test("limitSpec default comparator sorts numeric dimensions like strings " +
      "(DefaultLimitSpecTest.testSortDimensionDescending)") {
    def sorted(withOrder: String): Seq[String] =
      run(
        s"""{
          "queryType": "groupBy",
          "dataSource": {"type": "inline", "columnNames": ["k1"],
            "columnTypes": ["DOUBLE"], "rows": [[9.0], [10.0], [2.0]]},
          "dimensions": ["k1"],
          "aggregations": [{"type": "count", "name": "cnt"}],
          "limitSpec": {"type": "default", "limit": 3,
            "columns": [{"dimension": "k1", "direction": "descending"$withOrder}]}
        }""").collect().map(_.getString(0)).toSeq
    // the dim defaults to STRING output (DefaultDimensionSpec null
    // outputType) and the spec's lexicographic default: "9.0" > "2.0" > "10.0"
    assert(sorted("") == Seq("9.0", "2.0", "10.0"))
    // an explicit numeric dimensionOrder restores value order
    assert(sorted(""", "dimensionOrder": "numeric"""") == Seq("10.0", "9.0", "2.0"))
  }

  test("sketch MERGE factories on the JSON surface: isInputThetaSketch, " +
      "binary auto-detect, quantilesDoublesSketchMerge, and metricColumns-less " +
      "arrayOfDoublesSketch union pre-built sketches " +
      "(SketchMergeAggregatorFactory / DoublesSketchMergeAggregatorFactory)") {
    // inner query builds per-group sketches (shouldFinalize=false keeps the
    // serialized bytes); the outer re-aggregates them — the rollup-segment
    // re-aggregation shape
    def outer(aggJson: String, post: String = ""): DataFrame = run(
      s"""{
        "queryType": "timeseries",
        "granularity": "all",
        "dataSource": {"type": "query", "query": {
          "queryType": "groupBy",
          "dataSource": "orders",
          "timeColumn": "o_orderdate",
          "dimensions": ["o_orderstatus"],
          "aggregations": [
            {"type": "thetaSketch", "name": "sk_cust", "fieldName": "o_custkey",
             "shouldFinalize": false},
            {"type": "quantilesDoublesSketch", "name": "sk_price",
             "fieldName": "o_totalprice", "k": 4096, "shouldFinalize": false},
            {"type": "arrayOfDoublesSketch", "name": "sk_tuple",
             "fieldName": "o_custkey", "metricColumns": ["o_totalprice"],
             "shouldFinalize": false}
          ]
        }},
        "aggregations": [$aggJson],
        "postAggregations": [$post]
      }""")

    val exactNd = spark.read.parquet(s"${sf()}/orders.parquet")
      .select("o_custkey").distinct().count()

    // explicit isInputThetaSketch=true → union of the stored sketches
    val viaFlag = outer(
      """{"type": "thetaSketch", "name": "nd", "fieldName": "sk_cust",
         "isInputThetaSketch": true}""").head()
    assert(math.round(viaFlag.getDouble(viaFlag.length - 1)) == exactNd)

    // no flag: the BINARY schema of the inner result auto-detects merge —
    // an item-update over bytes would instead count 3 "distinct" blobs
    val autod = outer(
      """{"type": "thetaSketch", "name": "nd", "fieldName": "sk_cust"}""").head()
    assert(math.round(autod.getDouble(autod.length - 1)) == exactNd)

    // quantilesDoublesSketchMerge: merged KLL equals a direct build (exact
    // below k) — checked via the median post-agg
    val med = outer(
      """{"type": "quantilesDoublesSketchMerge", "name": "sk", "fieldName": "sk_price", "k": 4096}""",
      """{"type": "quantilesDoublesSketchToQuantile", "name": "q50",
          "field": {"type": "fieldAccess", "fieldName": "sk"}, "fraction": 0.5}""")
    val direct = run(
      """{
        "queryType": "timeseries", "granularity": "all",
        "dataSource": "orders", "timeColumn": "o_orderdate",
        "aggregations": [{"type": "quantilesDoublesSketch", "name": "sk",
                          "fieldName": "o_totalprice", "k": 4096}],
        "postAggregations": [{"type": "quantilesDoublesSketchToQuantile", "name": "q50",
          "field": {"type": "fieldAccess", "fieldName": "sk"}, "fraction": 0.5}]
      }""")
    assert(med.head().getDouble(med.head().length - 1) ==
      direct.head().getDouble(direct.head().length - 1))

    // arrayOfDoublesSketch with NO metricColumns = union of pre-built
    // tuple sketches; distinct-key estimate equals the exact count
    val tup = outer(
      """{"type": "arrayOfDoublesSketch", "name": "sk", "fieldName": "sk_tuple",
         "numberOfValues": 1}""",
      """{"type": "arrayOfDoublesSketchToEstimate", "name": "nd",
          "field": {"type": "fieldAccess", "fieldName": "sk"}}""")
    assert(math.round(tup.head().getDouble(tup.head().length - 1)) == exactNd)
  }

  test("implicit limit ordering compares dims by their OUTPUT type " +
      "(RowBasedGrouperHelper.compareDimsInRows: a LONG-declared dim merges " +
      "numerically; a bare dim is STRING-typed — DefaultDimensionSpec's " +
      "null outputType — and merges lexicographically)") {
    def dims(limitSpec: String, dimType: String, rows: String,
        dimensions: String = """["k1"]"""): Seq[Any] =
      run(
        s"""{
          "queryType": "groupBy",
          "dataSource": {"type": "inline", "columnNames": ["k1"],
            "columnTypes": ["$dimType"], "rows": [$rows]},
          "dimensions": $dimensions,
          "aggregations": [{"type": "count", "name": "cnt"}],
          "limitSpec": $limitSpec
        }""").collect().map(_.get(0)).toSeq
    val typedLong = """[{"type": "default", "dimension": "k1",
      "outputName": "k1", "outputType": "LONG"}]"""
    // limit WITHOUT columns, LONG-declared dim: the merge emits dims
    // numerically — the first 3 groups are 1,2,3, not 1,10,100
    assert(dims("""{"type": "default", "limit": 3}""", "LONG",
      "[1],[10],[100],[2],[3],[20]", typedLong) == Seq(1L, 2L, 3L))
    // a BARE dim over the same LONG column is STRING-typed and merges
    // lexicographically (GroupByQueryRunnerTest
    // .testGroupByLongAndFloatOutputAsString pins the string rendering)
    assert(dims("""{"type": "default", "limit": 3}""", "LONG",
      "[1],[10],[100],[2],[3],[20]") == Seq("1", "10", "100"))
    // string dims keep the lexicographic merge order
    assert(dims("""{"type": "default", "limit": 3}""", "STRING",
      """["1"],["10"],["100"],["2"],["3"],["20"]""") == Seq("1", "10", "100"))
    // offset pages through the numeric order too
    assert(dims("""{"type": "default", "limit": 2, "offset": 2}""", "LONG",
      "[1],[10],[100],[2],[3],[20]", typedLong) == Seq(3L, 10L))
  }

  test("in filter with a null value matches null dimensions (InDimFilter containsNull)") {
    val got = run(
      """{
        "queryType": "scan",
        "dataSource": {"type": "inline", "columnNames": ["s"],
          "columnTypes": ["STRING"], "rows": [["a"], ["b"], [null]]},
        "filter": {"type": "in", "dimension": "s", "values": ["a", null]}
      }""").collect().map(r => Option(r.getString(0))).toSet
    assert(got == Set(Some("a"), None))
    val noNull = run(
      """{
        "queryType": "scan",
        "dataSource": {"type": "inline", "columnNames": ["s"],
          "columnTypes": ["STRING"], "rows": [["a"], ["b"], [null]]},
        "filter": {"type": "in", "dimension": "s", "values": ["a"]}
      }""").collect().map(r => r.getString(0)).toSet
    assert(noNull == Set("a"))
  }

  test("regex and all search query specs (RegexSearchQuerySpec.java:77, AllSearchQuerySpec.java:31)") {
    def hits(spec: String): Set[(String, String)] =
      run(
        s"""{
          "queryType": "search",
          "dataSource": {"type": "inline", "columnNames": ["d1", "d2"],
            "columnTypes": ["STRING", "STRING"],
            "rows": [["apple", "x1"], ["banana", "x2"], ["cherry", "y9"]]},
          "searchDimensions": ["d1", "d2"],
          "query": $spec
        }""").collect().map(r => (r.getString(0), r.getString(1))).toSet
    // regex uses find() semantics (substring match)
    assert(hits("""{"type": "regex", "pattern": "an"}""") == Set("d1" -> "banana"))
    assert(hits("""{"type": "regex", "pattern": "^x\\d$"}""") ==
      Set("d2" -> "x1", "d2" -> "x2"))
    // all matches every value
    assert(hits("""{"type": "all"}""").size == 6)
  }

  test("topN previousStop pagination (LexicographicTopNMetricSpec.java, AlphaNumericTopNMetricSpec.java:41)") {
    val rows = Seq("a", "b", "c", "d", "e", "f10", "f2").map(v => s"""["$v"]""").mkString(",")
    def page(metric: String): Seq[String] =
      run(
        s"""{
          "queryType": "topN",
          "dataSource": {"type": "inline", "columnNames": ["g"],
            "columnTypes": ["STRING"], "rows": [$rows]},
          "dimension": "g",
          "metric": $metric,
          "threshold": 3,
          "aggregations": [{"type": "count", "name": "cnt"}]
        }""").collect().map(_.getString(0)).toSeq
    // page 1, then resume strictly after the last value of page 1
    assert(page("""{"type": "lexicographic"}""") == Seq("a", "b", "c"))
    assert(page("""{"type": "lexicographic", "previousStop": "c"}""") == Seq("d", "e", "f10"))
    // alphaNumeric spelling ranks f2 < f10 and resumes the same way
    assert(page("""{"type": "alphaNumeric", "previousStop": "e"}""") == Seq("f2", "f10"))
    // the dimension spec carries previousStop too
    assert(page("""{"type": "dimension", "ordering": "lexicographic", "previousStop": "e"}""") ==
      Seq("f10", "f2"))
    // inverted + previousStop: the result builder compares with the spec's
    // own comparator, which inverted REVERSES (BaseTopNAlgorithm
    // .makeResultBuilder), so descending pages resume strictly BELOW the
    // stop in base order
    assert(page("""{"type": "inverted", "metric": {"type": "lexicographic"}}""") ==
      Seq("f2", "f10", "e"))
    assert(page(
      """{"type": "inverted", "metric": {"type": "lexicographic", "previousStop": "e"}}""") ==
      Seq("d", "c", "b"))
  }

  test("virtualColumn outputType casts the expression result " +
      "(ExpressionVirtualColumn, ColumnType.java:30-41)") {
    val df = run(
      """{
        "queryType": "scan",
        "dataSource": {"type": "inline", "columnNames": ["g", "n"],
          "columnTypes": ["STRING", "LONG"], "rows": [["a", 7]]},
        "timeColumn": "g",
        "virtualColumns": [
          {"type": "expression", "name": "half", "expression": "n / 2",
           "outputType": "LONG"},
          {"type": "expression", "name": "as_str", "expression": "n * 10",
           "outputType": "STRING"},
          {"type": "expression", "name": "arr", "expression": "array(n, 1)",
           "outputType": "DOUBLE_ARRAY"}
        ],
        "columns": ["half", "as_str", "arr"]
      }""")
    assert(df.schema("half").dataType.typeName == "long")
    assert(df.schema("as_str").dataType.typeName == "string")
    assert(df.schema("arr").dataType.simpleString == "array<double>")
    val r = df.head()
    assert(r.getLong(0) == 3L && r.getString(1) == "70")
    assert(r.getSeq[Double](2) == Seq(7.0, 1.0))
  }

  test("groupBy and topN over a MULTI-VALUE dimension explode per element " +
      "in the JSON path (SURVEY §1.4, GroupByQueryEngineV2.java:603)") {
    val src = Seq(
      (1L, Seq("a", "b")), (2L, Seq("b")), (3L, Seq("a", "c")), (4L, Seq[String]()))
      .toDF("id", "tags")
    src.createOrReplaceTempView("mv_src")
    val gb = NativeQuery.run(spark,
      """{
        "queryType": "groupBy",
        "dataSource": "mv_src",
        "dimensions": [{"type": "default", "dimension": "tags"}],
        "aggregations": [{"type": "count", "name": "cnt"}],
        "limitSpec": {"type": "default", "columns": [{"dimension": "tags"}]}
      }""", name => spark.table(name))
    val got = gb.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // per-element groups: a=2, b=2, c=1, null (empty cell) = 1
    assert(got == Map("a" -> 2L, "b" -> 2L, "c" -> 1L, (null: String) -> 1L))
    // topN ranks elements, not arrays
    val tn = NativeQuery.run(spark,
      """{
        "queryType": "topN",
        "dataSource": "mv_src",
        "dimension": "tags",
        "metric": "cnt",
        "threshold": 2,
        "aggregations": [{"type": "count", "name": "cnt"}]
      }""", name => spark.table(name))
    assert(tn.collect().map(_.getString(0)).toSet == Set("a", "b"))
    // extraction spec applies per element
    val ex = NativeQuery.run(spark,
      """{
        "queryType": "groupBy",
        "dataSource": "mv_src",
        "dimensions": [{"type": "extraction", "dimension": "tags",
          "outputName": "u",
          "extractionFn": {"type": "upper"}}],
        "aggregations": [{"type": "count", "name": "cnt"}],
        "limitSpec": {"type": "default", "columns": [{"dimension": "u"}]}
      }""", name => spark.table(name))
    assert(ex.collect().map(_.getString(0)).toSeq.filter(_ != null) == Seq("A", "B", "C"))
  }

  test("search over a multi-value dimension matches per element") {
    val src = Seq((1L, Seq("alpha", "beta")), (2L, Seq("beta", "gamma")))
      .toDF("id", "tags")
    src.createOrReplaceTempView("mv_search_src")
    val hits = NativeQuery.run(spark,
      """{
        "queryType": "search",
        "dataSource": "mv_search_src",
        "searchDimensions": ["tags"],
        "query": {"type": "contains", "value": "a", "caseSensitive": false}
      }""", name => spark.table(name))
      .collect().map(r => (r.getString(1), r.getLong(2))).toMap
    // per-element hits: alpha×1, beta×2, gamma×1
    assert(hits == Map("alpha" -> 1L, "beta" -> 2L, "gamma" -> 1L))
  }

  test("compound-period granularity (P1M2D) through the JSON surface with " +
      "zero-fill (PeriodGranularity.truncateCompoundPeriod)") {
    val df = run(
      """{
        "queryType": "timeseries",
        "dataSource": "orders",
        "timeColumn": "o_orderdate",
        "granularity": {"type": "period", "period": "P1M2D",
                        "origin": "1996-01-01T00:00:00"},
        "intervals": ["1996-01-01T00:00:00/1996-05-01T00:00:00"],
        "aggregations": [{"type": "count", "name": "cnt"}]
      }""").collect()
    // iterated boundaries: Jan 1, Feb 3, Mar 5, Apr 7 — 4 buckets cover
    // [Jan 1, May 1)
    assert(df.length == 4)
    val buckets = df.map(_.get(0).toString.substring(0, 10)).toSeq
    assert(buckets == Seq("1996-01-01", "1996-02-03", "1996-03-05", "1996-04-07"))
    // bucket counts sum to the interval's row count
    val direct = spark.read.parquet(s"${sf()}/orders.parquet")
      .filter($"o_orderdate" >= "1996-01-01" && $"o_orderdate" < "1996-05-01").count()
    assert(df.map(_.getLong(1)).sum == direct)
  }

  test("expression filter truthiness: numeric > 0 and string 'true' are " +
      "truthy in predicate position (Evals.java:60-73)") {
    def cnt(expr: String): Long = run(
      s"""{
        "queryType": "timeseries",
        "dataSource": {"type": "inline", "columnNames": ["g", "n", "s"],
          "columnTypes": ["STRING", "LONG", "STRING"],
          "rows": [["a", 1, "true"], ["b", 0, "false"], ["c", -1, "TRUE"],
                   ["d", 2, "x"]]},
        "timeColumn": "g",
        "granularity": "all",
        "filter": {"type": "expression", "expression": "$expr"},
        "aggregations": [{"type": "count", "name": "cnt"}]
      }""").select("cnt").head().getLong(0)
    assert(cnt("n") == 2)           // 1 and 2 are > 0; 0 and -1 are falsy
    assert(cnt("n - 1") == 1)       // only n=2 survives
    assert(cnt("s") == 2)           // parseBoolean: 'true'/'TRUE'
    assert(cnt("n > 0") == 2)       // boolean expressions pass through
  }

  test("maxSubqueryRows caps inlined subquery datasources " +
      "(ClientQuerySegmentWalker.java:166-336)") {
    def q(ctx: String) =
      s"""{
        "queryType": "groupBy",
        "dataSource": {"type": "query", "query": {
          "queryType": "scan", "dataSource": "orders",
          "timeColumn": "o_orderdate",
          "columns": ["o_orderstatus", "o_totalprice"]
        }},
        "timeColumn": "o_orderdate",
        "dimensions": ["o_orderstatus"],
        "aggregations": [{"type": "count", "name": "cnt"}]$ctx
      }"""
    // generous cap: query runs, and the subquery materializes ONCE as an
    // inlined local relation (broker semantics — no double execution)
    val capped = run(q(""", "context": {"maxSubqueryRows": 1000000}"""))
    assert(capped.count() > 0)
    assert(capped.queryExecution.optimizedPlan.collectLeaves()
      .exists(_.getClass.getSimpleName.contains("LocalRelation")),
      "subquery should inline as a local relation")
    // tiny cap: the subquery blows the limit with the reference's message
    val e = intercept[graft.operators.SubqueryRowLimitExceededException](
      run(q(""", "context": {"maxSubqueryRows": 10}""")).count())
    assert(e.getMessage == "Subquery generated results beyond maximum[10]")
    // absent: QueryContexts.DEFAULT_MAX_SUBQUERY_ROWS applies
    assert(run(q("")).count() > 0)
    // a server-level default context sets it for every query without one
    // of its own (DefaultQueryConfig)
    val facade = graft.server.HttpFacade.start(spark, resolver,
      defaultContext = org.json4s.JObject(
        "maxSubqueryRows" -> org.json4s.JInt(10)))
    try {
      val client = java.net.http.HttpClient.newHttpClient()
      val resp = client.send(
        java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://127.0.0.1:${facade.port}/druid/v2"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(q("")))
          .header("Content-Type", "application/json").build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 400, resp.body())
      assert(resp.body().contains("Subquery generated results beyond maximum[10]"),
        resp.body())
    } finally facade.stop()
  }

  test("duration and none granularities (DurationGranularity.java, " +
      "NoneGranularity.java) in the JSON surface") {
    // 2-day fixed buckets from a Jan-1 origin: rows at Jan 1..5 land in
    // [Jan1,Jan3)=2, [Jan3,Jan5)=2, [Jan5,Jan7)=1
    val rows = (1 to 5).map(d => s"""["2024-01-0${d}T12:00:00", $d]""").mkString(",")
    // inline rows carry STRING time; materialize a timestamp via virtualColumn
    def qv(gran: String) = run(
      s"""{
        "queryType": "timeseries",
        "dataSource": {"type": "inline", "columnNames": ["t", "v"],
          "columnTypes": ["STRING", "LONG"], "rows": [$rows]},
        "timeColumn": "t2",
        "virtualColumns": [{"type": "expression", "name": "t2",
          "expression": "timestamp_parse(\\"t\\")"}],
        "granularity": $gran,
        "aggregations": [{"type": "count", "name": "cnt"}]
      }""").collect()
    val dur = qv("""{"type": "duration", "duration": 172800000,
      "origin": "2024-01-01T00:00:00Z"}""")
    assert(dur.length == 3)
    assert(dur.map(_.getLong(1)).toSeq == Seq(2L, 2L, 1L))
    // none: every distinct timestamp is its own bucket, no zero-fill
    val none = qv("\"none\"")
    assert(none.length == 5)
    assert(none.forall(_.getLong(1) == 1L))
  }

  test("interval endpoints with non-UTC offsets convert to UTC (ADVICE r8)") {
    def cnt(interval: String): Long =
      run(
        s"""{
          "queryType": "timeseries",
          "dataSource": "orders",
          "timeColumn": "o_orderdate",
          "granularity": "all",
          "intervals": ["$interval"],
          "aggregations": [{"type": "count", "name": "cnt"}]
        }""").select("cnt").head().getLong(0)
    val z = cnt("1996-01-01T00:00:00Z/1997-01-01T00:00:00Z")
    assert(z > 0)
    // -08:00 endpoints are 8h later in UTC wall time; shifting both ends by
    // the offset and expressing them zoned must land on the same instant
    assert(cnt("1995-12-31T16:00:00-08:00/1996-12-31T16:00:00-08:00") == z)
    // +0000 / +00 spellings (Joda accepts the colon-less forms)
    assert(cnt("1996-01-01T00:00:00+0000/1997-01-01T00:00:00+0000") == z)
    assert(cnt("1996-01-01T00:00:00+00/1997-01-01T00:00:00+00") == z)
    // unparseable endpoints fail loudly instead of silently matching nothing
    intercept[Exception](cnt("not-a-date/also-not"))
  }

  test("like filter honors a custom escape character (LikeDimFilter.java, Test.java:38)") {
    def matches(pattern: String, escape: Option[String]): Set[String] = {
      val esc = escape.fold("")(e => s""", "escape": "$e"""")
      run(
        s"""{
          "queryType": "scan",
          "dataSource": {"type": "inline", "columnNames": ["s"],
            "columnTypes": ["STRING"],
            "rows": [["50%"], ["50x"], ["bar_baz"], ["barxbaz"]]},
          "filter": {"type": "like", "dimension": "s", "pattern": "$pattern"$esc}
        }""").collect().map(_.getString(0)).toSet
    }
    // unescaped % and _ are wildcards
    assert(matches("50%", None) == Set("50%", "50x"))
    assert(matches("bar_baz", None) == Set("bar_baz", "barxbaz"))
    // "@"-escaped % and _ match literally
    assert(matches("50@%", Some("@")) == Set("50%"))
    assert(matches("bar@_baz", Some("@")) == Set("bar_baz"))
    // escape must be a single character
    intercept[IllegalArgumentException](matches("x", Some("@@")))
  }

  test("mv-filtered virtual column (ListFilteredVirtualColumn JSON surface)") {
    // allow-list over an inline MV datasource; empty cells nullify
    val rows = run(
      """{
        "queryType": "groupBy",
        "dataSource": {"type": "inline", "columnNames": ["id", "tags"],
          "columnTypes": ["LONG", "ARRAY<STRING>"],
          "rows": [[1, ["a", "b"]], [2, ["b", "c"]], [3, ["x"]]]},
        "virtualColumns": [
          {"type": "mv-filtered", "name": "tf", "delegate": "tags",
           "values": ["a", "b"], "isAllowList": true}],
        "dimensions": [{"type": "default", "dimension": "tf", "outputName": "tag"}],
        "aggregations": [{"type": "count", "name": "cnt"}],
        "limitSpec": {"type": "default", "columns": [{"dimension": "tag"}]}
      }""").collect()
    val m = rows.map(r => Option(r.getString(0)).getOrElse("NULL") -> r.getLong(1)).toMap
    // a: row1; b: rows 1+2; row3 survives nothing -> NULL group
    assert(m == Map("NULL" -> 1L, "a" -> 1L, "b" -> 2L), s"got $m")

    // deny-list flips the survivors
    val deny = run(
      """{
        "queryType": "groupBy",
        "dataSource": {"type": "inline", "columnNames": ["id", "tags"],
          "columnTypes": ["LONG", "ARRAY<STRING>"],
          "rows": [[1, ["a", "b"]], [2, ["b", "c"]], [3, ["x"]]]},
        "virtualColumns": [
          {"type": "mv-filtered", "name": "tf", "delegate": "tags",
           "values": ["a", "b"], "isAllowList": false}],
        "dimensions": [{"type": "default", "dimension": "tf", "outputName": "tag"}],
        "aggregations": [{"type": "count", "name": "cnt"}],
        "limitSpec": {"type": "default", "columns": [{"dimension": "tag"}]}
      }""").collect()
    val dm = deny.map(r => Option(r.getString(0)).getOrElse("NULL") -> r.getLong(1)).toMap
    assert(dm == Map("NULL" -> 1L, "c" -> 1L, "x" -> 1L), s"got $dm")

    // an unknown virtual column type still fails loudly
    intercept[IllegalArgumentException](run(
      """{
        "queryType": "timeseries", "dataSource": "orders",
        "timeColumn": "o_orderdate", "granularity": "all",
        "virtualColumns": [{"type": "nope", "name": "x"}],
        "aggregations": [{"type": "count", "name": "cnt"}]
      }"""))
  }

  test("filters on a nonexistent column evaluate over NULL: selector(bogus, " +
      "null) matches every row, a concrete value matches none " +
      "(missing-column selector semantics)") {
    def cnt(filter: String): Long = run(
      s"""{
        "queryType": "timeseries", "granularity": "all",
        "dataSource": "nation", "timeColumn": "n_nationkey",
        "filter": $filter,
        "aggregations": [{"type": "count", "name": "cnt"}]
      }""").head().getAs[Long]("cnt")
    assert(cnt("""{"type": "selector", "dimension": "bogusDim", "value": null}""") == 25L)
    assert(cnt("""{"type": "selector", "dimension": "bogusDim", "value": "spot"}""") == 0L)
    // OR with a real leg still admits the real leg's rows
    assert(cnt("""{"type": "or", "fields": [
        {"type": "selector", "dimension": "bogusDim", "value": "x"},
        {"type": "selector", "dimension": "n_name", "value": "NATION_7"}]}""") == 1L)
  }

  test("arrayOfDoublesSketchTTest on the JSON surface: Welch p-value between " +
      "two filtered tuple sketches (ArrayOfDoublesSketchTTestPostAggregator)") {
    val r = run(
      """{
        "queryType": "timeseries", "granularity": "all",
        "dataSource": {"type": "inline",
          "columnNames": ["side", "k", "v"],
          "columnTypes": ["string", "long", "double"],
          "rows": [["a",1,1.0],["a",2,2.0],["a",3,3.0],["a",4,4.0],["a",5,5.0],
                   ["b",1,2.0],["b",2,4.0],["b",3,6.0],["b",4,8.0],["b",5,10.0]]},
        "aggregations": [
          {"type": "filtered", "filter": {"type": "selector", "dimension": "side", "value": "a"},
           "aggregator": {"type": "arrayOfDoublesSketch", "name": "s1", "fieldName": "k",
             "metricColumns": ["v"], "shouldFinalize": false}},
          {"type": "filtered", "filter": {"type": "selector", "dimension": "side", "value": "b"},
           "aggregator": {"type": "arrayOfDoublesSketch", "name": "s2", "fieldName": "k",
             "metricColumns": ["v"], "shouldFinalize": false}}
        ],
        "postAggregations": [
          {"type": "arrayOfDoublesSketchTTest", "name": "p",
           "fields": [{"type": "fieldAccess", "fieldName": "s1"},
                      {"type": "fieldAccess", "fieldName": "s2"}]}
        ]
      }""").head()
    val p = r.getSeq[Double](r.fieldIndex("p"))
    // mpmath 30-digit reference for welch([1..5], [2,4,6,8,10])
    assert(p.length == 1 && math.abs(p.head - 0.10753119493062724) < 1e-9, s"got $p")
  }

  test("HLLSketchBuild shouldFinalize=false keeps DataSketches HLL bytes for " +
      "an outer HLLSketchMerge — same finalize-bypass contract as the " +
      "theta/tuple/kll families (HllSketchAggregatorFactory)") {
    val merged = run(
      """{
        "queryType": "timeseries", "granularity": "all",
        "dataSource": {"type": "query", "query": {
          "queryType": "groupBy", "dataSource": "orders", "timeColumn": "o_orderdate",
          "dimensions": ["o_orderstatus"],
          "aggregations": [{"type": "HLLSketchBuild", "name": "h",
            "fieldName": "o_custkey", "shouldFinalize": false}]
        }},
        "aggregations": [{"type": "HLLSketchMerge", "name": "nd", "fieldName": "h", "round": true}]
      }""").head()
    val direct = run(
      """{
        "queryType": "timeseries", "granularity": "all",
        "dataSource": "orders", "timeColumn": "o_orderdate",
        "aggregations": [{"type": "HLLSketchBuild", "name": "nd",
          "fieldName": "o_custkey", "round": true}]
      }""").head()
    assert(merged.getLong(merged.length - 1) == direct.getLong(direct.length - 1))
  }

  test("sketch post-agg leaves: thetaSketchEstimate with errorBoundsStdDev, " +
      "HLLSketchEstimateWithBounds, and the *ToString family " +
      "(SketchEstimatePostAggregator.compute:88-96, " +
      "HllSketchToEstimateWithBoundsPostAggregator.compute:104-108)") {
    val r = run(
      """{
        "queryType": "timeseries", "granularity": "all",
        "dataSource": "orders", "timeColumn": "o_orderdate",
        "aggregations": [
          {"type": "thetaSketch", "name": "t", "fieldName": "o_custkey"},
          {"type": "HLLSketchBuild", "name": "h", "fieldName": "o_custkey"},
          {"type": "quantilesDoublesSketch", "name": "q",
           "fieldName": "o_totalprice", "k": 128},
          {"type": "arrayOfDoublesSketch", "name": "tu",
           "fieldName": "o_custkey", "metricColumns": ["o_totalprice"]}
        ],
        "postAggregations": [
          {"type": "thetaSketchEstimate", "name": "est_bounds", "errorBoundsStdDev": 2,
           "field": {"type": "fieldAccess", "fieldName": "t"}},
          {"type": "HLLSketchEstimateWithBounds", "name": "hll_bounds", "numStdDev": 2,
           "field": {"type": "fieldAccess", "fieldName": "h"}},
          {"type": "thetaSketchToString", "name": "t_str",
           "field": {"type": "fieldAccess", "fieldName": "t"}},
          {"type": "HLLSketchToString", "name": "h_str",
           "field": {"type": "fieldAccess", "fieldName": "h"}},
          {"type": "quantilesDoublesSketchToString", "name": "q_str",
           "field": {"type": "fieldAccess", "fieldName": "q"}},
          {"type": "arrayOfDoublesSketchToString", "name": "tu_str",
           "field": {"type": "fieldAccess", "fieldName": "tu"}}
        ]
      }""").head()
    val exactNd = spark.read.parquet(s"${sf()}/orders.parquet")
      .select("o_custkey").distinct().count().toDouble

    // errorBoundsStdDev → {estimate, highBound, lowBound, numStdDev}; the
    // sketch is exact below nominal here, so the bounds collapse
    val b = r.getStruct(r.fieldIndex("est_bounds"))
    assert(b.getDouble(0) == exactNd && b.getDouble(1) == exactNd &&
      b.getDouble(2) == exactNd && b.getInt(3) == 2)

    // HLL bounds bracket an estimate near the exact count
    val hb = r.getSeq[Double](r.fieldIndex("hll_bounds"))
    assert(hb.length == 3 && hb(1) <= hb(0) && hb(0) <= hb(2))
    assert(math.abs(hb(0) - exactNd) / exactNd < 0.05)

    // every toString leaf returns the library's diagnostic summary
    Seq("t_str", "h_str", "q_str", "tu_str").foreach { c =>
      val s = r.getString(r.fieldIndex(c))
      assert(s != null && s.toUpperCase.contains("SUMMARY"), s"$c -> $s")
    }
  }

  test("a query datasource keeps raw sketch state for every finalizable spelling: " +
      "sketchBuild/sketchMerge through a subquery merges like thetaSketch") {
    def distinct(build: String, merge: String): Double = run(
      s"""{
        "queryType": "groupBy", "granularity": "all",
        "dataSource": {"type": "query", "query": {
          "queryType": "groupBy", "granularity": "all",
          "dataSource": {"type": "inline", "columnNames": ["g", "v"],
            "rows": [["x", "p"], ["x", "q"], ["y", "r"]]},
          "dimensions": ["g"],
          "aggregations": [{"type": "$build", "name": "sk", "fieldName": "v"}]
        }},
        "dimensions": [],
        "aggregations": [{"type": "$merge", "name": "nd", "fieldName": "sk"}]
      }""").head().getAs[Double]("nd")
    assert(distinct("thetaSketch", "thetaSketch") == 3.0)
    assert(distinct("sketchBuild", "sketchMerge") == 3.0)
  }
}
