package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.plans.SketchFunctions._
import graft.sources.Sources

/** Sketch aggregate coverage (SURVEY §2.6 datasketches extensions).
  *
  * Oracle strategy: theta sketches are EXACT below their nominal capacity
  * (2^lgK) and KLL is exact while n ≤ k, so over the low-cardinality slices
  * used here the sketch answers equal the exact answers DuckDB computes —
  * the driver gate verifies build → shuffle-merge → set-op/quantile post-ops
  * end to end. The HLL query targets a low-cardinality key (coupon-phase
  * birthday collisions bound the exactness — see the query comment), and
  * the tuple sketch is exact below its nominal like theta.
  */
object SketchQueries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // theta sketch set ops: suppliers seen in returnflag A vs R
    "sketch_theta_setops" -> ((s, dir) => {
      val li = Sources.table(s, dir, "lineitem")
      val sk = li.agg(
        thetaSketch(when(col("l_returnflag") === "A", col("l_suppkey"))).as("sk_a"),
        thetaSketch(when(col("l_returnflag") === "R", col("l_suppkey"))).as("sk_r"))
      sk.select(
        round(thetaEstimate(col("sk_a"))).cast("long").as("nd_a"),
        round(thetaEstimate(col("sk_r"))).cast("long").as("nd_r"),
        round(thetaEstimate(thetaUnion(col("sk_a"), col("sk_r")))).cast("long").as("nd_union"),
        round(thetaEstimate(thetaIntersect(col("sk_a"), col("sk_r")))).cast("long").as("nd_intersect"),
        round(thetaEstimate(thetaNot(col("sk_a"), col("sk_r")))).cast("long").as("nd_a_not_r"))
    }),

    // theta per-group build + re-merge across groups (sketch-typed column)
    "sketch_theta_merge" -> ((s, dir) => {
      val li = Sources.table(s, dir, "lineitem")
      val perFlag = li.groupBy(col("l_returnflag"))
        .agg(thetaSketch(col("l_partkey")).as("sk"), count(lit(1)).as("cnt"))
      perFlag.select(col("l_returnflag"),
          round(thetaEstimate(col("sk"))).cast("long").as("nd_part"), col("cnt"))
        .orderBy(col("l_returnflag"))
    }),

    // KLL quantile sketch: quantiles / rank / CDF over supplier balances
    "sketch_quantiles_kll" -> ((s, dir) => {
      val sup = Sources.table(s, dir, "supplier")
      sup.agg(kllSketch(col("s_acctbal"), k = 4096).as("sk"), count(lit(1)).as("n"))
        .select(
          col("n"),
          kllQuantile(col("sk"), 0.25).as("q25"),
          kllQuantile(col("sk"), 0.5).as("q50"),
          kllQuantile(col("sk"), 0.75).as("q75"),
          graft.functions.TextFunctions.round4(kllRank(col("sk"), 5000.0)).as("rank_5000"),
          graft.functions.TextFunctions.round4(element_at(kllCdf(col("sk"), Seq(2500.0, 7500.0)), 1)).as("cdf_2500"),
          graft.functions.TextFunctions.round4(element_at(kllCdf(col("sk"), Seq(2500.0, 7500.0)), 2)).as("cdf_7500"))
    }),

    // classic DoublesSketch (the reference's quantiles WIRE format — a Druid
    // cluster reads these bytes via DoublesSketch.wrap,
    // DoublesSketchOperations.java:56). Exact while n ≤ 2k, so the sf-scale
    // supplier table pins exact quantiles against the oracle.
    "sketch_quantiles_classic" -> ((s, dir) => {
      val sup = Sources.table(s, dir, "supplier")
      sup.agg(classicQuantilesSketch(col("s_acctbal"), k = 1024).as("sk"), count(lit(1)).as("n"))
        .select(
          col("n"),
          kllQuantile(col("sk"), 0.25).as("q25"),
          kllQuantile(col("sk"), 0.5).as("q50"),
          kllQuantile(col("sk"), 0.75).as("q75"))
    }),

    // HLL sketch family (Spark's DataSketches HLL): per-group build →
    // union-merge → estimate. HLL's coupon phase hashes into a 26-bit
    // space, so even "exact mode" birthday-collides with probability
    // ~n²/2^27 — the oracle-checked column is the ~100–1000-cardinality
    // supplier key (collision odds ≤0.7% at every gate scale; the
    // guaranteed-exact approximate-distinct path is the theta sketch in
    // agg_approx_distinct).
    "sketch_hll" -> ((s, dir) => {
      val li = Sources.table(s, dir, "lineitem")
      val perFlag = li.groupBy(col("l_returnflag"))
        .agg(hllSketch(col("l_suppkey"), 16).as("hll"))
      // estimate via the graft expression, not the "hll_sketch_estimate"
      // name — the Druid-parity SQL override (fractional DOUBLE) resolves
      // by name in Spark 4's functions API; value-identical either way,
      // but the gate's output type must not depend on registration order
      perFlag.agg(
        round(graft.plans.SketchFunctions.hyperUniqueEstimate(
          hll_union_agg(col("hll"), true))).cast("long").as("nd_global"),
        count(lit(1)).as("n_groups"))
    }),

    // the Druid SQL sketch names end-to-end (r14):
    // APPROX_COUNT_DISTINCT_DS_THETA / _DS_HLL finalize to rounded longs
    // (exact at nation cardinality — theta below nominal entries, HLL in
    // its coupon phase), DS_GET_QUANTILE(DS_QUANTILES_SKETCH) per group
    // pins the strictly-greater rule over per-segment balances
    "sql_sketch_acd" -> ((s, dir) => {
      Sources.table(s, dir, "customer").createOrReplaceTempView("graft_customer_acd")
      s.sql("""
        SELECT c_mktsegment,
               APPROX_COUNT_DISTINCT_DS_THETA(c_nationkey) AS nd_theta,
               APPROX_COUNT_DISTINCT_DS_HLL(c_nationkey) AS nd_hll,
               DS_GET_QUANTILE(DS_QUANTILES_SKETCH(c_acctbal, 8192), 0.5) AS q50_bal
        FROM graft_customer_acd
        GROUP BY 1 ORDER BY 1""")
    }),

    // Druid HyperLogLogCollector WRITE interop: build reference-format V1
    // collector bytes (what a Druid cluster reads as a stored hyperUnique
    // column) per group, union-estimate the shuffled partials, and gate the
    // estimate against the exact count — HLLC has no exact phase (2048
    // 4-bit registers from the first add), so the oracle checks the exact
    // side plus a within-tolerance flag rather than estimate == exact
    "sketch_hllc_build" -> ((s, dir) => {
      import graft.plans.SketchFunctions.{hllcBuild, hllcUnionEstimate}
      val li = Sources.table(s, dir, "lineitem")
      val perFlag = li.groupBy(col("l_returnflag"))
        .agg(hllcBuild(col("l_suppkey")).as("sk"))
      val exact = li.agg(countDistinct(col("l_suppkey")).as("nd_exact"))
      perFlag.agg(hllcUnionEstimate(col("sk")).as("est"))
        .crossJoin(exact)
        .select(col("nd_exact"),
          when(abs(col("est") - col("nd_exact")) / col("nd_exact") < lit(0.15), 1L)
            .otherwise(0L).as("within_tol"))
    }),

    // ArrayOfDoubles tuple sketch (datasketches/tuple): distinct suppliers
    // AND their summed quantities from ONE sketch column — exact below the
    // 2^16 nominal, so both the estimate and the metric-sum post-op are
    // oracle-checked through build → shuffle-merge → finalize
    "sketch_tuple" -> ((s, dir) => {
      val li = Sources.table(s, dir, "lineitem")
      li.groupBy(col("l_returnflag"))
        .agg(tupleSketch(col("l_suppkey"), Seq(col("l_quantity")), 16).as("sk"),
             count(lit(1)).as("cnt"))
        .select(col("l_returnflag"),
          round(tupleEstimate(col("sk"))).cast("long").as("nd_supp"),
          round(element_at(tupleMetricsSum(col("sk")), 1)).cast("long").as("qty_sum"),
          col("cnt"))
        .orderBy(col("l_returnflag"))
    }),

    // estimate-with-error-bounds leaves (theta SketchEstimatePostAggregator
    // with errorBoundsStdDev; HllSketchToEstimateWithBoundsPostAggregator):
    // theta is exact below nominal, so all three struct fields equal the
    // exact distinct count; the HLL bounds must bracket its estimate
    "sketch_bounds" -> ((s, dir) => {
      val o = Sources.table(s, dir, "orders")
      o.agg(thetaEstimateBounds(thetaSketch(col("o_custkey")), 2).as("b"),
            hllEstimateWithBounds(hllSketch(col("o_custkey")), 2).as("hb"))
        .select(
          round(col("b.estimate")).cast("long").as("nd_est"),
          round(col("b.highBound")).cast("long").as("nd_high"),
          round(col("b.lowBound")).cast("long").as("nd_low"),
          (element_at(col("hb"), 2) <= element_at(col("hb"), 1) &&
           element_at(col("hb"), 1) <= element_at(col("hb"), 3)).cast("bigint").as("hll_brackets"))
    })
  )

  def oracle: Map[String, String] = Map(
    "sketch_bounds" ->
      """SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS nd_est,
        |       CAST(count(DISTINCT o_custkey) AS BIGINT) AS nd_high,
        |       CAST(count(DISTINCT o_custkey) AS BIGINT) AS nd_low,
        |       CAST(1 AS BIGINT) AS hll_brackets
        |FROM orders""".stripMargin,
    "sketch_theta_setops" ->
      """WITH a AS (SELECT DISTINCT l_suppkey AS k FROM lineitem WHERE l_returnflag = 'A'),
        |r AS (SELECT DISTINCT l_suppkey AS k FROM lineitem WHERE l_returnflag = 'R')
        |SELECT (SELECT count(*) FROM a) AS nd_a,
        |       (SELECT count(*) FROM r) AS nd_r,
        |       (SELECT count(*) FROM (SELECT k FROM a UNION SELECT k FROM r)) AS nd_union,
        |       (SELECT count(*) FROM (SELECT k FROM a INTERSECT SELECT k FROM r)) AS nd_intersect,
        |       (SELECT count(*) FROM (SELECT k FROM a EXCEPT SELECT k FROM r)) AS nd_a_not_r""".stripMargin,

    "sketch_theta_merge" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS nd_part, count(*) AS cnt
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "sketch_hll" ->
      """SELECT count(DISTINCT l_suppkey) AS nd_global,
        |       count(DISTINCT l_returnflag) AS n_groups
        |FROM lineitem""".stripMargin,

    // per-group exclusive median: smallest balance whose cumulative
    // within-segment row rank > 0.5*n (the reference's strictly-greater
    // getQuantile rule)
    "sql_sketch_acd" ->
      """WITH ranked AS (
        |  SELECT c_mktsegment, c_acctbal,
        |         row_number() OVER (PARTITION BY c_mktsegment
        |                            ORDER BY c_acctbal) AS rk,
        |         count(*) OVER (PARTITION BY c_mktsegment) AS n
        |  FROM customer),
        |q AS (
        |  SELECT c_mktsegment, min(c_acctbal) AS q50_bal
        |  FROM ranked WHERE rk > 0.5 * n GROUP BY 1)
        |SELECT c.c_mktsegment,
        |  CAST(count(DISTINCT c.c_nationkey) AS BIGINT) AS nd_theta,
        |  CAST(count(DISTINCT c.c_nationkey) AS BIGINT) AS nd_hll,
        |  any_value(q.q50_bal) AS q50_bal
        |FROM customer c JOIN q ON c.c_mktsegment = q.c_mktsegment
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "sketch_hllc_build" ->
      """SELECT count(DISTINCT l_suppkey) AS nd_exact,
        |       CAST(1 AS BIGINT) AS within_tol
        |FROM lineitem""".stripMargin,

    "sketch_tuple" ->
      """SELECT l_returnflag, count(DISTINCT l_suppkey) AS nd_supp,
        |       CAST(round(sum(l_quantity)) AS BIGINT) AS qty_sum, count(*) AS cnt
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    // quantiles pin the reference's datasketches-3.1.0 rules exactly:
    // getQuantile = smallest value whose cumulative 1-indexed row rank is
    // STRICTLY greater than f*n; getRank/getCDF = mass STRICTLY LESS THAN
    // the query value (both flipped to INCLUSIVE in datasketches 4.0.0 —
    // the reference predates that).
    "sketch_quantiles_classic" ->
      """WITH ranked AS (
        |  SELECT s_acctbal AS v,
        |         row_number() OVER (ORDER BY s_acctbal) AS rk,
        |         count(*) OVER () AS n
        |  FROM supplier)
        |SELECT (SELECT count(*) FROM supplier) AS n,
        |  (SELECT min(v) FROM ranked WHERE rk > 0.25 * n) AS q25,
        |  (SELECT min(v) FROM ranked WHERE rk > 0.5 * n) AS q50,
        |  (SELECT min(v) FROM ranked WHERE rk > 0.75 * n) AS q75""".stripMargin,

    "sketch_quantiles_kll" ->
      """WITH ranked AS (
        |  SELECT s_acctbal AS v,
        |         row_number() OVER (ORDER BY s_acctbal) AS rk,
        |         count(*) OVER () AS n
        |  FROM supplier)
        |SELECT (SELECT count(*) FROM supplier) AS n,
        |  (SELECT min(v) FROM ranked WHERE rk > 0.25 * n) AS q25,
        |  (SELECT min(v) FROM ranked WHERE rk > 0.5 * n) AS q50,
        |  (SELECT min(v) FROM ranked WHERE rk > 0.75 * n) AS q75,
        |  floor(CAST(sum(CASE WHEN s_acctbal < 5000.0 THEN 1 ELSE 0 END) AS DOUBLE)
        |        / count(*) * 10000.0 + 0.5) / 10000.0 AS rank_5000,
        |  floor(CAST(sum(CASE WHEN s_acctbal < 2500.0 THEN 1 ELSE 0 END) AS DOUBLE)
        |        / count(*) * 10000.0 + 0.5) / 10000.0 AS cdf_2500,
        |  floor(CAST(sum(CASE WHEN s_acctbal < 7500.0 THEN 1 ELSE 0 END) AS DOUBLE)
        |        / count(*) * 10000.0 + 0.5) / 10000.0 AS cdf_7500
        |FROM supplier""".stripMargin
  )
}
