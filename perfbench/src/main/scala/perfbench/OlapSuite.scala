package perfbench

import java.io.File
import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** olap_suite: one client runs the engine's declared queries
  * (SparkEntry.queries ++ benchOnly) serially over generated star-schema
  * tables, each query building its DataFrame, planning it and collecting
  * the result.
  *
  * A pass over all declared queries is far longer than one measured run,
  * so a run works on a stratified slice: the queries are ranked by their
  * recorded latency and cut into `Strata` equal bands, and the slice is each
  * band's middle query, so its latency spread mirrors the suite's. The
  * warm-up runs the slice `WarmPasses` times in orders that do not depend on
  * the seed (the first pass is the queries' first executions); every
  * measured pass runs it again in a seed-shuffled order. */
object OlapSuite extends Workload {
  val name = "olap_suite"
  val Strata = 4
  /** Passes of the slice before the measured ones: the first is the
    * queries' first executions; the rest bring the JVM near its steady
    * state (the pass time stops falling after about eight passes). */
  val WarmPasses = 8
  val ExpectedResource = "/olap_suite_expected.json"

  final case class Expected(rows: Long, digest: Option[String], refMs: Double, why: String)

  final class State(val dir: File, val expected: Map[String, Expected], val slice: IndexedSeq[String]) {
    var firstRunMs: Seq[Double] = Nil
  }

  private def declared: Map[String, (SparkSession, String) => DataFrame] =
    graft.SparkEntry.queries ++ graft.SparkEntry.benchOnly

  def loadExpected(): Map[String, Expected] = {
    val in = getClass.getResourceAsStream(ExpectedResource)
    require(in != null, s"missing resource $ExpectedResource")
    val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    implicit val formats: Formats = DefaultFormats
    (JsonMethods.parse(text) \ "queries").asInstanceOf[JObject].obj.map { case (k, v) =>
      k -> Expected((v \ "rows").extract[Long], (v \ "digest").extractOpt[String],
        (v \ "ref_ms").extract[Double], (v \ "check").extract[String])
    }.toMap
  }

  final class Prepared(val expected: Map[String, Expected], val tables: File)

  /** The expected results, and the tables. */
  override def prepare(ctx: Ctx): AnyRef =
    new Prepared(loadExpected(), Gen.cachedOlapTables(ctx.spark, ctx.cache))

  /** graft's part of getting ready: opening every table through
    * graft.sources (file listing and parquet schema). */
  def setup(ctx: Ctx, prepared: AnyRef, dir: File): AnyRef = {
    val p = prepared.asInstanceOf[Prepared]
    Gen.OlapTableNames.foreach(t => graft.sources.Sources.table(ctx.spark, p.tables.getPath, t).schema)
    new State(p.tables, p.expected, slice(p.expected))
  }

  /** The middle query of each of `Strata` equal bands of the declared
    * queries ranked by recorded latency, fastest first. The slice is the
    * same for every seed: with slices drawn per seed, which queries ran
    * moved a run's median by more than the bound (see README.md). */
  def slice(expected: Map[String, Expected]): IndexedSeq[String] = {
    val missing = declared.keySet -- expected.keySet
    require(missing.isEmpty, s"no expected result recorded for: ${missing.toSeq.sorted.mkString(", ")}")
    val ranked = declared.keys.toIndexedSeq.sortBy(n => (expected(n).refMs, n))
    (0 until Strata).map(b => ranked((2 * b + 1) * ranked.size / (2 * Strata)))
  }

  /** The slice's first executions, which pay what a query's first run in a
    * process pays (code generation and compilation, first-touch metadata and
    * materializations); they are reported as `first_run_p50_ms`, outside the
    * gated metrics. */
  override def warmUp(ctx: Ctx, state: AnyRef): Unit = {
    val st = state.asInstanceOf[State]
    val first = scratch(ctx)
    st.slice.foreach(q => runQuery(first, st.dir, declared(q), st.expected(q), s"first.$q"))
    requireClean(first)
    st.firstRunMs = first.outcomes.latencies("op")
    val warm = scratch(ctx)
    (1 until WarmPasses).foreach(i => pass(warm, st, -i))
    requireClean(warm)
  }

  def shuffle[A](xs: IndexedSeq[A], rnd: SplittableRandom): IndexedSeq[A] = {
    val a = xs.toArray[Any]
    for (i <- a.indices.reverse) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[A]]
  }

  /** A measured pass runs the slice in a seed-shuffled order; a warm-up
    * pass (negative index) in an order that does not depend on the seed, so
    * every run reaches the measured passes through the same executions. */
  def pass(ctx: Ctx, state: AnyRef, index: Int): Unit = {
    val st = state.asInstanceOf[State]
    val order = shuffle(st.slice, new SplittableRandom(if (index < 0) index else ctx.seed * 1000003L + index))
    order.foreach(q => runQuery(ctx, st.dir, declared(q), st.expected(q), s"p$index.$q"))
  }

  /** One query: build the DataFrame, plan it, collect it. The three calls
    * are the operators, catalyst and exec layers. */
  def runQuery(ctx: Ctx, dir: File, query: (SparkSession, String) => DataFrame,
      expected: Expected, op: String): Unit = {
    val sc = ctx.spark.sparkContext
    sc.setJobGroup(op, op, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val rows = try {
      ctx.tracer.span("query", op) {
        val df = ctx.layer("operators", op)(query(ctx.spark, dir.getPath))
        ctx.layer("catalyst", op)(df.queryExecution.executedPlan)
        Right(ctx.layer("exec", op)(df.collect().toSeq))
      }
    } catch { case e: Throwable => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    sc.clearJobGroup()
    // drop blocks a query cached so the next one runs without them
    ctx.spark.catalog.clearCache()
    rows match {
      case Left(e) => ctx.outcomes.fail(op, s"threw ${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      case Right(r) => check(expected, r) match {
        case Some(why) => ctx.outcomes.fail(op, why)
        case None => ctx.outcomes.ok("op", op, ms)
      }
    }
  }

  /** None when the rows match the recorded result, else what differs. */
  def check(e: Expected, rows: Seq[Row]): Option[String] =
    if (rows.size != e.rows) Some(s"returned ${rows.size} rows, expected ${e.rows}")
    else e.digest.flatMap { d =>
      val got = Digest.of(rows)
      if (got == d) None else Some(s"result digest $got, expected $d")
    }

  override def notes(ctx: Ctx, state: AnyRef, m: Measured): Seq[(String, Double, String)] = {
    val lat = ctx.outcomes.latencies("op").map(_ / 1e3)
    val first = state.asInstanceOf[State].firstRunMs
    (if (lat.isEmpty) Nil
     else Seq(("query_p50_s", Stats.quantile(lat, 0.5), "s"), ("query_p90_s", Stats.quantile(lat, 0.9), "s"))) ++
      (if (first.isEmpty) Nil else Seq(("first_run_p50_ms", Stats.median(first), "ms")))
  }

  // ---- recording the expected results --------------------------------

  /** Runs every declared query twice over the tables in `dir` (written by
    * `gen-olap`), in opposite orders, and writes row counts, digests and the
    * faster run's latency (the rank the strata are cut from).
    * A digest is kept only for queries with oracle SQL whose two runs agree;
    * the others are checked by row count, with the reason recorded. */
  def record(spark: SparkSession, dir: File, out: File): Unit = {
    val names = declared.keys.toIndexedSeq.sorted
    val oracle = graft.SparkEntry.oracleSql.keySet
    def runAll(order: Seq[String]) = order.map { q =>
      val t0 = System.nanoTime()
      val rows = declared(q)(spark, dir.getPath).collect().toSeq
      val ms = (System.nanoTime() - t0) / 1e6
      spark.catalog.clearCache()
      q -> (rows.size.toLong, Digest.of(rows), ms)
    }.toMap
    val first = runAll(names)
    val second = runAll(names.reverse)
    val entries = names.map { q =>
      val (n, d, ms1) = first(q)
      val (n2, d2, ms2) = second(q)
      val ms = math.min(ms1, ms2)
      require(n == n2, s"$q returned $n rows, then $n2")
      val why =
        if (!oracle.contains(q)) "rows: approximate or not expressible as oracle SQL"
        else if (d != d2) "rows: digest differs between runs"
        else "digest"
      val digest = if (why == "digest") s""""$d"""" else "null"
      s"""    ${Json.str(q)}: {"rows": $n, "digest": $digest, "ref_ms": ${math.round(ms)}, "check": ${Json.str(why)}}"""
    }
    java.nio.file.Files.writeString(out.toPath,
      s"""{\n  "generator_seed": ${Gen.OlapSeed},\n  "queries": {\n${entries.mkString(",\n")}\n  }\n}\n""")
  }
}
