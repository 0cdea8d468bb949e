package perfbench

import java.io.File
import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.operators._
import graft.sources.Sources

/** scan_heavy: one client runs a few large aggregations through graft's
  * query operators over a seed-generated, key-shifted lineitem replica that
  * setup writes once. Execution-bound: the table is sized so that fixed
  * per-query cost is a small share of a pass, so a metadata, Catalyst or
  * cache change should leave it flat while a scan or kernel change moves
  * it. */
object ScanHeavy extends Workload {
  val name = "scan_heavy"
  val Rows = 4000000L

  final case class Params(flag: String, minDiscount: Double, topN: Int)
  final class Prepared(val params: Params, val expected: Gen.ScanExpected)
  final class State(val dir: File, val p: Prepared) {
    val latencyByQuery = collection.mutable.Map[String, collection.mutable.ArrayBuffer[Double]]()
  }

  /** Rows of the small table a setup runs the pass over first. */
  val WarmRows = 200000L

  private def prepared(seed: Long, rows: Long): Prepared = {
    val r = new SplittableRandom(seed)
    val params = Params(Seq("A", "N", "R")(r.nextInt(3)), r.nextInt(8) / 100.0, 5 + r.nextInt(20))
    new Prepared(params, Gen.scanExpected(seed, rows, params.flag, params.minDiscount))
  }

  override def prepare(ctx: Ctx): AnyRef = prepared(ctx.seed, Rows)

  def setup(ctx: Ctx, prepared: AnyRef, dir: File): AnyRef = {
    Gen.scanTable(ctx.spark, dir, ctx.seed, Rows, ctx.cores)
    new State(dir, prepared.asInstanceOf[Prepared])
  }

  /** One pass over a small table of the same shape. */
  override def warmUp(ctx: Ctx, state: AnyRef): Unit = {
    val dir = new File(state.asInstanceOf[State].dir.getPath + "-warm")
    Gen.scanTable(ctx.spark, dir, ctx.seed + 1, WarmRows, ctx.cores)
    val c = scratch(ctx)
    pass(c, new State(dir, prepared(ctx.seed + 1, WarmRows)), -1)
    requireClean(c)
    Gen.deleteTree(dir)
  }

  override def teardown(ctx: Ctx, state: AnyRef): Unit =
    Gen.deleteTree(state.asInstanceOf[State].dir)

  /** The pass: (name, query, check of the collected rows). */
  private def queries(st: State): Seq[(String, DataFrame => DataFrame, Seq[Row] => Option[String])] = {
    val e = st.p.expected
    val prm = st.p.params
    def total = AllGranularity
    def expect(what: String, got: Double, want: Double): Option[String] =
      if (got == want) None else Some(s"$what = $got, generator says $want")
    Seq(
      ("timeseries_day", TimeseriesQuery(timeColumn = "l_shipdate", granularity = PeriodGranularity("P1D"),
        aggregations = Seq(Agg("rows", count(lit(1))), Agg("qty", sum(col("l_quantity"))))).run,
        rows => expect("day buckets", rows.size, Gen.ScanDays)
          .orElse(expect("rows over days", rows.map(_.getAs[Long]("rows")).sum.toDouble, e.rows))
          .orElse(expect("quantity over days", rows.map(_.getAs[Double]("qty")).sum, e.sumQuantity))),
      ("topn_supplier", TopNQuery(dimension = Dim("l_suppkey"), metric = "revenue", threshold = prm.topN,
        aggregations = Seq(Agg("revenue", sum(col("l_extendedprice"))), Agg("rows", count(lit(1))))).run,
        rows => expect("topN rows", rows.size, prm.topN)),
      ("groupby_flag_status", GroupByQuery(dimensions = Seq(Dim("l_returnflag"), Dim("l_linestatus")),
        aggregations = Seq(Agg("rows", count(lit(1))), Agg("qty", sum(col("l_quantity"))))).run,
        rows => expect("groups", rows.size, 6)
          .orElse(expect("rows over groups", rows.map(_.getAs[Long]("rows")).sum.toDouble, e.rows))
          .orElse(expect("quantity over groups", rows.map(_.getAs[Double]("qty")).sum, e.sumQuantity))),
      ("count_distinct_parts", TimeseriesQuery(timeColumn = "l_shipdate", granularity = total,
        aggregations = Seq(Agg("parts", count_distinct(col("l_partkey"))))).run,
        rows => expect("distinct parts", rows.head.getAs[Long]("parts").toDouble, e.distinctParts)),
      ("filtered_sum", TimeseriesQuery(timeColumn = "l_shipdate", granularity = total,
        filter = col("l_returnflag") === prm.flag && col("l_discount") >= prm.minDiscount,
        aggregations = Seq(Agg("qty", sum(col("l_quantity"))))).run,
        rows => expect("filtered quantity", rows.head.getAs[Double]("qty"), e.filteredQuantity)),
      ("count_star", TimeseriesQuery(timeColumn = "l_shipdate", granularity = total,
        aggregations = Seq(Agg("rows", count(lit(1))))).run,
        rows => expect("count(*)", rows.head.getAs[Long]("rows").toDouble, e.rows)),
      ("sum_float", TimeseriesQuery(timeColumn = "l_shipdate", granularity = total,
        aggregations = Seq(Agg("price", sum(col("l_extendedprice"))))).run,
        rows => expect("sum(float)", rows.head.getAs[Double]("price"), e.sumPrice)))
  }

  def pass(ctx: Ctx, state: AnyRef, index: Int): Unit = {
    val st = state.asInstanceOf[State]
    val sc = ctx.spark.sparkContext
    queries(st).foreach { case (q, build, check) =>
      val op = s"p$index.$q"
      sc.setJobGroup(op, q, interruptOnCancel = false)
      val t0 = System.nanoTime()
      val rows = try {
        ctx.tracer.span("query", op) {
          val df = ctx.layer("operators", op)(build(Sources.table(ctx.spark, st.dir.getPath, "lineitem")))
          ctx.layer("catalyst", op)(df.queryExecution.executedPlan)
          Right(ctx.layer("exec", op)(df.collect().toSeq))
        }
      } catch { case e: Throwable => Left(e) }
      val ms = (System.nanoTime() - t0) / 1e6
      sc.clearJobGroup()
      rows.left.map(e => s"threw ${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
        .flatMap(r => check(r).toLeft(())) match {
        case Left(why) => ctx.outcomes.fail(op, why)
        case Right(_) =>
          ctx.outcomes.ok("op", op, ms)
          st.latencyByQuery.getOrElseUpdate(q, collection.mutable.ArrayBuffer()) += ms
      }
    }
  }

  override def notes(ctx: Ctx, state: AnyRef, m: Measured): Seq[(String, Double, String)] = {
    def rate(q: String) = state.asInstanceOf[State].latencyByQuery.get(q).filter(_.nonEmpty)
      .map(l => Rows / (Stats.median(l.toSeq) / 1e3) / ctx.cores).getOrElse(Double.NaN)
    val lat = ctx.outcomes.latencies("op").map(_ / 1e3)
    Seq(("query_p50_s", if (lat.isEmpty) Double.NaN else Stats.median(lat), "s"),
      ("scan_count_rows_per_s_core", rate("count_star"), "rows/s/core"),
      ("scan_sum_rows_per_s_core", rate("sum_float"), "rows/s/core"),
      ("table_rows", Rows.toDouble, "count"))
  }
}
