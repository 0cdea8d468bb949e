package graft

import org.apache.spark.sql.functions._
import graft.plans.RollupRewrite
import graft.plans.RollupRewrite.{Catalog, RollupDef}

class RollupRewriteSpec extends SparkSpecBase {
  import spark.implicits._

  test("aggregate over base table rewrites to rollup scan with equal results") {
    val basePath = sf() + "/lineitem.parquet"
    val rollupDir = java.nio.file.Files.createTempDirectory("graft_rollup").toString
    // materialize the rollup (BatchIngest rollup-on-write shape)
    spark.read.parquet(basePath)
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("cnt"), sum($"l_quantity").as("sum_qty"),
        min($"l_quantity").as("min_qty"), max($"l_quantity").as("max_qty"))
      .write.mode("overwrite").parquet(rollupDir)

    val catalog = new Catalog
    catalog.register(RollupDef(
      basePath = basePath,
      rollup = spark.read.parquet(rollupDir),
      dimensions = Set("l_returnflag", "l_linestatus"),
      metricMap = Map("l_quantity" -> Seq("sum" -> "sum_qty")),
      countColumn = "cnt"))
    clearRollupRules() // clear any leaked rule
    RollupRewrite.enable(spark, catalog)
    try {
      val q = spark.read.parquet(basePath)
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n"), sum($"l_quantity").as("s"))
      // plan scans the rollup, not the base
      val scanned = q.queryExecution.optimizedPlan.collectLeaves().mkString
      assert(scanned.contains("sum_qty") && scanned.contains("cnt"),
        s"plan still scans base: $scanned")
      // results identical to the unrewritten aggregate
      val expected = spark.read.parquet(basePath).groupBy($"l_returnflag")
        .agg(count(lit(1)).cast("long").as("n"), sum($"l_quantity").as("s"))
        .collect().map(_.toString).sorted
      assert(q.collect().map(_.toString).sorted.sameElements(expected))
    } finally {
      clearRollupRules()
    }
  }

  test("global count(*) over an empty rollup yields 0, not NULL") {
    val basePath = sf() + "/lineitem.parquet"
    val rollupDir = java.nio.file.Files.createTempDirectory("graft_rollup_empty").toString
    spark.read.parquet(basePath).filter(lit(false))
      .groupBy($"l_returnflag").agg(count(lit(1)).as("cnt"))
      .write.mode("overwrite").parquet(rollupDir)
    val catalog = new Catalog
    catalog.register(RollupDef(basePath, spark.read.parquet(rollupDir),
      Set("l_returnflag"), Map.empty, "cnt"))
    clearRollupRules() // clear any leaked rule
    RollupRewrite.enable(spark, catalog)
    try {
      val row = spark.read.parquet(basePath).agg(count(lit(1)).as("n")).head()
      assert(!row.isNullAt(0) && row.getLong(0) == 0L)
    } finally { clearRollupRules() }
  }

  test("an unrelated table sharing the path suffix is not redirected") {
    val base = java.nio.file.Files.createTempDirectory("graft_base").toString
    val decoyDir = java.nio.file.Files.createTempDirectory("graft_decoy").toString
    Seq(("A", 1L), ("B", 2L)).toDF("k", "v").write.mode("overwrite")
      .parquet(base + "/t.parquet")
    // decoy: different table whose path ENDS WITH the registered suffix
    Seq(("A", 10L), ("A", 20L), ("C", 30L)).toDF("k", "v").write.mode("overwrite")
      .parquet(decoyDir + "/base/t.parquet")
    val rollupDir = java.nio.file.Files.createTempDirectory("graft_ru").toString
    spark.read.parquet(base + "/t.parquet").groupBy($"k")
      .agg(count(lit(1)).as("cnt")).write.mode("overwrite").parquet(rollupDir)
    val catalog = new Catalog
    catalog.register(RollupDef("t.parquet", spark.read.parquet(rollupDir),
      Set("k"), Map.empty, "cnt"))
    clearRollupRules() // clear any leaked rule
    RollupRewrite.enable(spark, catalog)
    try {
      // suffix-registered path must not hijack either table (exact match only)
      val n = spark.read.parquet(decoyDir + "/base/t.parquet")
        .agg(count(lit(1))).head().getLong(0)
      assert(n == 3L)
    } finally { clearRollupRules() }
  }

  test("non-derivable aggregates are left untouched") {
    val basePath = sf() + "/lineitem.parquet"
    val catalog = new Catalog
    catalog.register(RollupDef(basePath,
      spark.read.parquet(basePath).limit(1), // bogus rollup; must never be hit
      Set("l_returnflag"), Map.empty, "cnt"))
    clearRollupRules() // clear any leaked rule
    RollupRewrite.enable(spark, catalog)
    try {
      // avg is not derivable → no rewrite
      val q1 = spark.read.parquet(basePath).groupBy($"l_returnflag")
        .agg(avg($"l_quantity").as("a"))
      assert(!q1.queryExecution.optimizedPlan.toString.contains("limit"))
      // grouping by a non-dimension → no rewrite
      val q2 = spark.read.parquet(basePath).groupBy($"l_suppkey")
        .agg(sum($"l_quantity").as("s"))
      assert(q2.count() > 0)
    } finally {
      clearRollupRules()
    }
  }

  test("a filter on rollup dimensions redirects to a filtered rollup scan — " +
      "the common rollup query shape (GroupByStrategyV2)") {
    val basePath = sf() + "/lineitem.parquet"
    val rollupDir = java.nio.file.Files.createTempDirectory("graft_rollup_f").toString
    spark.read.parquet(basePath)
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("cnt"), sum($"l_quantity").as("sum_qty"))
      .write.mode("overwrite").parquet(rollupDir)
    val catalog = new Catalog
    catalog.register(RollupDef(basePath, spark.read.parquet(rollupDir),
      Set("l_returnflag", "l_linestatus"),
      Map("l_quantity" -> Seq("sum" -> "sum_qty")), "cnt"))
    clearRollupRules() // clear any leaked rule
    RollupRewrite.enable(spark, catalog)
    try {
      // WHERE on a dimension: redirected, with the predicate applied to the
      // rollup scan
      val q = spark.read.parquet(basePath)
        .filter($"l_returnflag" === "A" && $"l_linestatus" =!= "X")
        .groupBy($"l_linestatus")
        .agg(count(lit(1)).as("n"), sum($"l_quantity").as("s"))
      val scanned = q.queryExecution.optimizedPlan.collectLeaves().mkString
      assert(scanned.contains("sum_qty"), s"filtered agg still scans base: $scanned")
      val expected = spark.read.parquet(basePath)
        .filter($"l_returnflag" === "A")
        .groupBy($"l_linestatus")
        .agg(count(lit(1)).as("n"), sum($"l_quantity").as("s"))
        .collect().map(_.toString).sorted
      assert(q.collect().map(_.toString).sorted.sameElements(expected))

      // IN-list predicate redirects too
      val q2 = spark.read.parquet(basePath)
        .filter($"l_returnflag".isin("A", "R"))
        .groupBy($"l_returnflag").agg(count(lit(1)).as("n"))
      val scanned2 = q2.queryExecution.optimizedPlan.collectLeaves().mkString
      assert(scanned2.contains("sum_qty") || scanned2.contains("cnt"),
        s"IN-filtered agg still scans base: $scanned2")

      // a predicate on a NON-dimension column must NOT redirect (rollup
      // rows cannot answer it)
      val q3 = spark.read.parquet(basePath)
        .filter($"l_quantity" > 10)
        .groupBy($"l_returnflag").agg(count(lit(1)).as("n"))
      val scanned3 = q3.queryExecution.optimizedPlan.collectLeaves().mkString
      assert(!scanned3.contains("sum_qty"),
        s"metric-filtered agg wrongly redirected: $scanned3")
      // and still answers correctly from the base
      val expect3 = spark.read.parquet(basePath).filter($"l_quantity" > 10)
        .groupBy($"l_returnflag").agg(count(lit(1))).collect().map(_.toString).sorted
      assert(q3.collect().map(_.toString).sorted.sameElements(expect3))
    } finally {
      clearRollupRules()
    }
  }

  test("GROUP BY date_trunc coarsening: a P1D rollup answers month/quarter queries") {
    val basePath = sf() + "/orders.parquet"
    val rollupDir = java.nio.file.Files.createTempDirectory("graft_rollup_g").toString
    val g = graft.operators.PeriodGranularity("P1D")
    spark.read.parquet(basePath)
      .groupBy(g.bucket($"o_orderdate").as("o_orderdate"), $"o_orderpriority")
      .agg(count(lit(1)).as("cnt"), sum($"o_totalprice").as("sum_price"))
      .write.mode("overwrite").parquet(rollupDir)
    val catalog = new Catalog
    catalog.register(RollupDef(basePath, spark.read.parquet(rollupDir),
      Set("o_orderpriority"), Map("o_totalprice" -> Seq("sum" -> "sum_price")), "cnt",
      timeColumn = Some("o_orderdate"), granularity = Some(g)))
    clearRollupRules() // clear any leaked rule
    RollupRewrite.enable(spark, catalog)
    try {
      // month coarsening (P1M is a multiple of the stored P1D): rewritten
      val q = spark.read.parquet(basePath)
        .groupBy(date_trunc("month", $"o_orderdate").as("m"), $"o_orderpriority")
        .agg(count(lit(1)).as("n"), sum($"o_totalprice").as("s"))
      val scanned = q.queryExecution.optimizedPlan.collectLeaves().mkString
      assert(scanned.contains("sum_price"), s"month coarsening not rewritten: $scanned")
      // counts compare exactly; the double sum re-associates (partial sums
      // per day, then across days) so it compares within FP tolerance
      val got = q.collect()
        .map(r => (r.get(0).toString, r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
      clearRollupRules()
      val exp = spark.read.parquet(basePath)
        .groupBy(date_trunc("month", $"o_orderdate").as("m"), $"o_orderpriority")
        .agg(count(lit(1)).as("n"), sum($"o_totalprice").as("s"))
        .collect()
        .map(r => (r.get(0).toString, r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
      clearRollupRules() // clear any leaked rule
    RollupRewrite.enable(spark, catalog)
      assert(got.keySet == exp.keySet, s"group keys differ")
      got.foreach { case (k, (n, sm)) =>
        val (en, es) = exp(k)
        assert(n == en, s"count mismatch at $k: $n vs $en")
        assert(math.abs(sm - es) <= math.abs(es) * 1e-9, s"sum mismatch at $k: $sm vs $es")
      }

      // grouping by the BARE raw time column must NOT rewrite (raw values
      // differ from the stored buckets)
      val qBare = spark.read.parquet(basePath)
        .groupBy($"o_orderdate").agg(count(lit(1)).as("n"))
      val scannedBare = qBare.queryExecution.optimizedPlan.collectLeaves().mkString
      assert(!scannedBare.contains("sum_price"),
        s"bare raw-time group wrongly rewritten: $scannedBare")
    } finally { clearRollupRules() }
  }

  test("a non-multiple granularity is NOT rewritten (quarter rollup, month query)") {
    val basePath = sf() + "/orders.parquet"
    val rollupDir = java.nio.file.Files.createTempDirectory("graft_rollup_q").toString
    val g = graft.operators.PeriodGranularity("P3M")
    spark.read.parquet(basePath)
      .groupBy(g.bucket($"o_orderdate").as("o_orderdate"))
      .agg(count(lit(1)).as("cnt")).write.mode("overwrite").parquet(rollupDir)
    val catalog = new Catalog
    catalog.register(RollupDef(basePath, spark.read.parquet(rollupDir),
      Set.empty, Map.empty, "cnt",
      timeColumn = Some("o_orderdate"), granularity = Some(g)))
    clearRollupRules() // clear any leaked rule
    RollupRewrite.enable(spark, catalog)
    try {
      // month is FINER than the stored quarter: cannot re-bucket
      val q = spark.read.parquet(basePath)
        .groupBy(date_trunc("month", $"o_orderdate").as("m"))
        .agg(count(lit(1)).as("n"))
      val scanned = q.queryExecution.optimizedPlan.collectLeaves().mkString
      assert(!scanned.contains("cnt"), s"month-over-quarter wrongly rewritten: $scanned")
      // but year IS a multiple of the stored quarter: rewritten
      val qy = spark.read.parquet(basePath)
        .groupBy(date_trunc("year", $"o_orderdate").as("y"))
        .agg(count(lit(1)).as("n"))
      val scannedY = qy.queryExecution.optimizedPlan.collectLeaves().mkString
      assert(scannedY.contains("cnt"), s"year-over-quarter not rewritten: $scannedY")
    } finally { clearRollupRules() }
  }

  test("time filters rewrite only when bucket-aligned (ADVICE: misaligned " +
      "ranges evaluate differently against truncated values)") {
    val basePath = sf() + "/orders.parquet"
    val rollupDir = java.nio.file.Files.createTempDirectory("graft_rollup_t").toString
    val g = graft.operators.PeriodGranularity("P1D")
    spark.read.parquet(basePath)
      .groupBy(g.bucket($"o_orderdate").as("o_orderdate"))
      .agg(count(lit(1)).as("cnt")).write.mode("overwrite").parquet(rollupDir)
    val catalog = new Catalog
    catalog.register(RollupDef(basePath, spark.read.parquet(rollupDir),
      Set.empty, Map.empty, "cnt",
      timeColumn = Some("o_orderdate"), granularity = Some(g)))
    clearRollupRules() // clear any leaked rule
    RollupRewrite.enable(spark, catalog)
    try {
      // aligned [day-boundary, day-boundary): rewrites, counts match
      val q = spark.read.parquet(basePath)
        .filter($"o_orderdate" >= lit("1995-01-01 00:00:00").cast("timestamp_ntz") &&
                $"o_orderdate" < lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        .agg(count(lit(1)).as("n"))
      val scanned = q.queryExecution.optimizedPlan.collectLeaves().mkString
      assert(scanned.contains("cnt"), s"aligned time range not rewritten: $scanned")
      clearRollupRules()
      val exp = spark.read.parquet(basePath)
        .filter($"o_orderdate" >= lit("1995-01-01 00:00:00").cast("timestamp_ntz") &&
                $"o_orderdate" < lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        .count()
      clearRollupRules() // clear any leaked rule
    RollupRewrite.enable(spark, catalog)
      assert(q.head().getLong(0) == exp)

      // misaligned lower bound (00:30 into a P1D bucket): must NOT rewrite
      val qm = spark.read.parquet(basePath)
        .filter($"o_orderdate" >= lit("1995-01-01 00:30:00").cast("timestamp_ntz"))
        .agg(count(lit(1)).as("n"))
      val scannedM = qm.queryExecution.optimizedPlan.collectLeaves().mkString
      assert(!scannedM.contains("cnt"), s"misaligned range wrongly rewritten: $scannedM")

      // strict '>' selects a partial bucket even when aligned: no rewrite
      val qs = spark.read.parquet(basePath)
        .filter($"o_orderdate" > lit("1995-01-01 00:00:00").cast("timestamp_ntz"))
        .agg(count(lit(1)).as("n"))
      val scannedS = qs.queryExecution.optimizedPlan.collectLeaves().mkString
      assert(!scannedS.contains("cnt"), s"strict bound wrongly rewritten: $scannedS")
    } finally { clearRollupRules() }
  }

  test("EARLIEST/LATEST refold from stored pair columns; approx-distinct " +
      "merges a stored HLL sketch column") {
    import graft.functions.FirstLastAgg
    import graft.operators.FirstLast
    val basePath = sf() + "/orders.parquet"
    val rollupDir = java.nio.file.Files.createTempDirectory("graft_rollup_fl").toString
    val g = graft.operators.PeriodGranularity("P1D")
    spark.read.parquet(basePath)
      .groupBy(g.bucket($"o_orderdate").as("o_orderdate"), $"o_orderpriority")
      .agg(count(lit(1)).as("cnt"),
        FirstLast.firstPair($"o_totalprice", $"o_orderdate").as("first_price_pair"),
        FirstLast.lastPair($"o_totalprice", $"o_orderdate").as("last_price_pair"),
        hll_sketch_agg($"o_custkey").as("cust_hll"))
      .write.mode("overwrite").parquet(rollupDir)
    val catalog = new Catalog
    catalog.register(RollupDef(basePath, spark.read.parquet(rollupDir),
      Set("o_orderpriority"),
      Map("o_totalprice" -> Seq("first" -> "first_price_pair"),
          "o_custkey" -> Seq("hll" -> "cust_hll")),
      "cnt",
      timeColumn = Some("o_orderdate"), granularity = Some(g)))
    clearRollupRules() // clear any leaked rule
    RollupRewrite.enable(spark, catalog)
    try {
      val q = spark.read.parquet(basePath)
        .groupBy($"o_orderpriority")
        .agg(FirstLastAgg.earliest($"o_totalprice",
          struct($"o_orderdate", $"o_totalprice")).as("first_price"))
      val scanned = q.queryExecution.optimizedPlan.collectLeaves().mkString
      assert(scanned.contains("first_price_pair"), s"first not refolded: $scanned")
      clearRollupRules()
      val exp = spark.read.parquet(basePath)
        .groupBy($"o_orderpriority")
        .agg(FirstLastAgg.earliest($"o_totalprice",
          struct($"o_orderdate", $"o_totalprice")).as("first_price"))
        .collect().map(_.toString).sorted
      clearRollupRules() // clear any leaked rule
    RollupRewrite.enable(spark, catalog)
      assert(q.collect().map(_.toString).sorted.sameElements(exp))

      // approx_count_distinct → stored-sketch union (estimate, ±5% of exact)
      val qd = spark.read.parquet(basePath)
        .groupBy($"o_orderpriority")
        .agg(approx_count_distinct($"o_custkey").as("nd"))
      val scannedD = qd.queryExecution.optimizedPlan.collectLeaves().mkString
      assert(scannedD.contains("cust_hll"), s"approx-distinct not sketch-merged: $scannedD")
      clearRollupRules()
      val exact = spark.read.parquet(basePath).groupBy($"o_orderpriority")
        .agg(count_distinct($"o_custkey").as("nd"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      clearRollupRules() // clear any leaked rule
    RollupRewrite.enable(spark, catalog)
      qd.collect().foreach { r =>
        val est = r.getLong(1).toDouble
        val ex = exact(r.getString(0)).toDouble
        assert(math.abs(est - ex) / ex < 0.05, s"estimate $est vs exact $ex")
      }

      // a LATEST query without a declared "last" metric must NOT rewrite
      val qNo = spark.read.parquet(basePath)
        .groupBy($"o_orderpriority")
        .agg(FirstLastAgg.latest($"o_totalprice",
          struct($"o_orderdate", $"o_totalprice")).as("last_price"))
      val scannedNo = qNo.queryExecution.optimizedPlan.collectLeaves().mkString
      assert(!scannedNo.contains("last_price_pair"),
        s"undeclared LATEST wrongly rewritten: $scannedNo")
    } finally { clearRollupRules() }
  }

  test("TIME_FLOOR group expressions (the fixed-width floorDiv spelling, " +
      "not date_trunc) rewrite via the semantic template matcher; a whole " +
      "DSL TimeseriesQuery over the base redirects") {
    import graft.functions.{TimeFunctions => TF}
    val basePath = sf() + "/orders.parquet"
    val rollupDir = java.nio.file.Files.createTempDirectory("graft_rollup_tf").toString
    val g = graft.operators.PeriodGranularity("PT6H")
    spark.read.parquet(basePath)
      .groupBy(g.bucket($"o_orderdate").as("o_orderdate"))
      .agg(count(lit(1)).as("cnt"), sum($"o_totalprice").as("sum_price"))
      .write.mode("overwrite").parquet(rollupDir)
    val catalog = new Catalog
    catalog.register(RollupDef(basePath, spark.read.parquet(rollupDir),
      Set.empty, Map("o_totalprice" -> Seq("sum" -> "sum_price")), "cnt",
      timeColumn = Some("o_orderdate"), granularity = Some(g)))
    clearRollupRules() // clear any leaked rule
    RollupRewrite.enable(spark, catalog)
    try {
      // P1D is a fixed-width (NOT date_trunc) floor in this engine; over a
      // PT6H rollup it must rewrite via the template matcher
      val q = spark.read.parquet(basePath)
        .groupBy(TF.timeFloor($"o_orderdate", "P1D").as("d"))
        .agg(count(lit(1)).as("n"))
      val scanned = q.queryExecution.optimizedPlan.collectLeaves().mkString
      assert(scanned.contains("sum_price"), s"TIME_FLOOR P1D group not rewritten: $scanned")
      clearRollupRules()
      val exp = spark.read.parquet(basePath)
        .groupBy(TF.timeFloor($"o_orderdate", "P1D").as("d"))
        .agg(count(lit(1)).as("n")).collect().map(_.toString).sorted
      clearRollupRules() // clear any leaked rule
    RollupRewrite.enable(spark, catalog)
      assert(q.collect().map(_.toString).sorted.sameElements(exp))

      // PT1H is FINER than the stored PT6H: no rewrite
      val qf = spark.read.parquet(basePath)
        .groupBy(TF.timeFloor($"o_orderdate", "PT1H").as("h"))
        .agg(count(lit(1)).as("n"))
      val scannedF = qf.queryExecution.optimizedPlan.collectLeaves().mkString
      assert(!scannedF.contains("sum_price"), s"finer TIME_FLOOR wrongly rewritten: $scannedF")

      // an entire DSL TimeseriesQuery (bucket alias + agg) redirects too
      val ts = graft.operators.TimeseriesQuery(
        timeColumn = "o_orderdate",
        granularity = graft.operators.PeriodGranularity("P1D"),
        aggregations = Seq(graft.operators.Agg("cnt", count(lit(1))),
          graft.operators.Agg("total", sum($"o_totalprice"))),
        skipEmptyBuckets = true
      ).run(spark.read.parquet(basePath))
      val scannedTs = ts.queryExecution.optimizedPlan.collectLeaves().mkString
      assert(scannedTs.contains("sum_price"),
        s"DSL timeseries over the base did not redirect: $scannedTs")
      assert(ts.count() > 0)
    } finally { clearRollupRules() }
  }

  test("theta/kll/tuple sketch aggregates refold stored COMPLEX sketch columns " +
      "(SketchMergeAggregatorFactory / DoublesSketchMergeAggregatorFactory / " +
      "ArrayOfDoublesSketchMergeAggregatorFactory)") {
    import graft.plans.SketchFunctions._
    val basePath = sf() + "/orders.parquet"
    val rollupDir = java.nio.file.Files.createTempDirectory("graft_rollup_sk").toString
    val g = graft.operators.PeriodGranularity("P1D")
    spark.read.parquet(basePath)
      .groupBy(g.bucket($"o_orderdate").as("o_orderdate"), $"o_orderpriority")
      .agg(count(lit(1)).as("cnt"),
        thetaSketch($"o_custkey").as("theta_cust"),
        kllSketch($"o_totalprice", k = 8192).as("kll_price"),
        tupleSketch($"o_custkey", Seq(lit(1.0))).as("tuple_cust"))
      .write.mode("overwrite").parquet(rollupDir)
    val catalog = new Catalog
    catalog.register(RollupDef(basePath, spark.read.parquet(rollupDir),
      Set("o_orderpriority"),
      Map("o_custkey" -> Seq("theta" -> "theta_cust", "tuple:1.0" -> "tuple_cust"),
          "o_totalprice" -> Seq("kll" -> "kll_price")),
      "cnt", timeColumn = Some("o_orderdate"), granularity = Some(g)))
    clearRollupRules() // clear any leaked rule
    RollupRewrite.enable(spark, catalog)
    try {
      def query() = spark.read.parquet(basePath)
        .groupBy($"o_orderpriority")
        .agg(
          round(thetaEstimate(thetaSketch($"o_custkey"))).cast("long").as("nd_theta"),
          kllQuantile(kllSketch($"o_totalprice", k = 8192), 0.5).as("q50"),
          tupleNumEntries(tupleSketch($"o_custkey", Seq(lit(1.0)))).as("nd_tuple"))
      val q = query()
      val scanned = q.queryExecution.optimizedPlan.collectLeaves().mkString
      assert(scanned.contains("theta_cust") && scanned.contains("kll_price") &&
        scanned.contains("tuple_cust"), s"sketch aggs not refolded: $scanned")
      val got = q.collect().map(_.toString).sorted
      clearRollupRules()
      // below nominal/k everything is exact → base-scan values match exactly
      val exp = query().collect().map(_.toString).sorted
      clearRollupRules() // clear any leaked rule
      RollupRewrite.enable(spark, catalog)
      assert(got.sameElements(exp), s"refolded sketch values differ:\n${got.mkString("\n")}\nvs\n${exp.mkString("\n")}")

      // a theta over an UNDECLARED column must NOT rewrite
      val qNo = spark.read.parquet(basePath).groupBy($"o_orderpriority")
        .agg(round(thetaEstimate(thetaSketch($"o_orderkey"))).as("nd"))
      val scannedNo = qNo.queryExecution.optimizedPlan.collectLeaves().mkString
      assert(!scannedNo.contains("theta_cust"),
        s"undeclared theta wrongly rewritten: $scannedNo")

      // a tuple sketch with a DIFFERENT value signature must NOT rewrite
      val qSig = spark.read.parquet(basePath).groupBy($"o_orderpriority")
        .agg(tupleNumEntries(tupleSketch($"o_custkey", Seq($"o_totalprice"))).as("nd"))
      val scannedSig = qSig.queryExecution.optimizedPlan.collectLeaves().mkString
      assert(!scannedSig.contains("tuple_cust"),
        s"different-signature tuple wrongly rewritten: $scannedSig")
    } finally { clearRollupRules() }
  }

  test("with P1D and P1M rollups registered the rule picks the COARSEST " +
      "eligible one (materialized-view selection)") {
    val basePath = sf() + "/orders.parquet"
    val dayDir = java.nio.file.Files.createTempDirectory("graft_ru_day").toString
    val monthDir = java.nio.file.Files.createTempDirectory("graft_ru_month").toString
    val gD = graft.operators.PeriodGranularity("P1D")
    val gM = graft.operators.PeriodGranularity("P1M")
    spark.read.parquet(basePath)
      .groupBy(gD.bucket($"o_orderdate").as("o_orderdate"))
      .agg(count(lit(1)).as("cnt"), sum($"o_totalprice").as("sum_price_day"))
      .write.mode("overwrite").parquet(dayDir)
    spark.read.parquet(basePath)
      .groupBy(gM.bucket($"o_orderdate").as("o_orderdate"))
      .agg(count(lit(1)).as("cnt"), sum($"o_totalprice").as("sum_price_month"))
      .write.mode("overwrite").parquet(monthDir)
    val catalog = new Catalog
    catalog.register(RollupDef(basePath, spark.read.parquet(dayDir),
      Set.empty, Map("o_totalprice" -> Seq("sum" -> "sum_price_day")), "cnt",
      timeColumn = Some("o_orderdate"), granularity = Some(gD)))
    catalog.register(RollupDef(basePath, spark.read.parquet(monthDir),
      Set.empty, Map("o_totalprice" -> Seq("sum" -> "sum_price_month")), "cnt",
      timeColumn = Some("o_orderdate"), granularity = Some(gM)))
    clearRollupRules() // clear any leaked rule
    RollupRewrite.enable(spark, catalog)
    try {
      // a YEAR query: both eligible, the P1M table wins (≈1/30th the rows)
      val qy = spark.read.parquet(basePath)
        .groupBy(date_trunc("year", $"o_orderdate").as("y"))
        .agg(count(lit(1)).as("n"))
      val scannedY = qy.queryExecution.optimizedPlan.collectLeaves().mkString
      assert(scannedY.contains("sum_price_month"),
        s"year query did not pick the coarser P1M rollup: $scannedY")
      // a DAY query: only the P1D table qualifies
      val qd = spark.read.parquet(basePath)
        .groupBy(date_trunc("day", $"o_orderdate").as("d"))
        .agg(count(lit(1)).as("n"))
      val scannedD = qd.queryExecution.optimizedPlan.collectLeaves().mkString
      assert(scannedD.contains("sum_price_day"),
        s"day query did not pick the P1D rollup: $scannedD")
      // values from the coarser table still match the base scan
      val got = qy.collect().map(_.toString).sorted
      clearRollupRules()
      val exp = spark.read.parquet(basePath)
        .groupBy(date_trunc("year", $"o_orderdate").as("y"))
        .agg(count(lit(1)).as("n")).collect().map(_.toString).sorted
      assert(got.sameElements(exp))
    } finally { clearRollupRules() }
  }

  test("the oracle-gated rollup queries (SparkEntry registry) redirect — plan-asserted") {
    clearRollupRules() // start from a clean session
    try {
      val q = graft.queries.RollupQueries.queries("rollup_rewrite_coarse")(spark, sf())
      val scanned = q.queryExecution.optimizedPlan.collectLeaves().mkString
      assert(scanned.contains("first_pair"),
        s"rollup_rewrite_coarse did not redirect to the rollup scan: $scanned")
      assert(q.count() > 0)
      val q2 = graft.queries.RollupQueries.queries("rollup_rewrite_filtered")(spark, sf())
      val scanned2 = q2.queryExecution.optimizedPlan.collectLeaves().mkString
      assert(scanned2.contains("cnt"),
        s"rollup_rewrite_filtered did not redirect: $scanned2")
      assert(q2.count() > 0)
      // the base-pinned twin must NOT redirect (its metric predicate
      // disqualifies the rewrite by design — it measures the base scan)
      val qb = graft.queries.RollupQueries.queries("rollup_rewrite_base")(spark, sf())
      val scannedB = qb.queryExecution.optimizedPlan.collectLeaves().mkString
      assert(!scannedB.contains("first_pair"),
        s"rollup_rewrite_base wrongly redirected: $scannedB")
      val q3 = graft.queries.RollupQueries.queries("rollup_rewrite_sketch")(spark, sf())
      val scanned3 = q3.queryExecution.optimizedPlan.collectLeaves().mkString
      assert(scanned3.contains("theta_cust") && scanned3.contains("kll_price") &&
        scanned3.contains("tuple_cust"),
        s"rollup_rewrite_sketch did not refold the stored sketches: $scanned3")
      assert(q3.count() > 0)
    } finally clearRollupRules()
  }
}
