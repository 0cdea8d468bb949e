package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.metrics.source.CodegenMetrics

/** Command line:
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <dir> --cache <dir>
  * perfbench.Main gen-olap <dir>                 write the olap_suite tables
  * perfbench.Main record-olap <dir> <out.json>   record expected olap_suite results
  * }}}
  * The last line on stdout is the result object; every metric is also
  * printed before it as `metric <name> <value> <unit>`. */
object Main {
  /** Set-ups per run (setup_s is their median): at least SetupRepeats, and
    * more, up to MaxSetupRepeats, until they have taken MinSetupSeconds. */
  val SetupRepeats = 3
  val MaxSetupRepeats = 9
  val MinSetupSeconds = 2.0

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: File, out: File, cache: File)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace") match {
      case "0" => false; case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    val seconds = need("seconds").toInt
    require(seconds >= 1, "--seconds must be at least 1")
    Args(need("workload"), need("seed").toLong, seconds, trace,
      new File(need("work")), new File(m.getOrElse("out", need("work"))), new File(need("cache")))
  }

  def main(argv: Array[String]): Unit = argv.headOption match {
    case Some("gen-olap") =>
      val spark = Session.build(new File(argv(1), "_spark"))
      try Gen.olapTables(spark, new File(argv(1))) finally spark.stop()
    case Some("record-olap") =>
      val spark = Session.build(new File(argv(1), "_spark"))
      try OlapSuite.record(spark, new File(argv(1)), new File(argv(2))) finally spark.stop()
    case _ =>
      val a = parse(argv)
      Workloads(a.workload) // reject an unknown name before starting Spark
      val ok = run(a)
      System.exit(if (ok) 0 else 1)
  }

  /** Runs one workload and prints its result; false if it could not run. */
  def run(a: Args): Boolean = {
    val w = Workloads(a.workload)
    val started = System.nanoTime()
    def phase(what: String): Unit =
      System.err.println(f"[perfbench] $what at ${(System.nanoTime() - started) / 1e9}%.1f s")
    val spark = Session.build(a.work)
    phase("session built")
    val tracer = new Tracer(false)
    val ctx = new Ctx(spark, a.seed, tracer, a.work, a.cache)
    try {
      val prepared = w.prepare(ctx)
      phase("prepared")
      // at least SetupRepeats set-ups, more while they are short, so the
      // median of a quick set-up rests on enough samples
      val setups = collection.mutable.ArrayBuffer[Double]()
      var state: AnyRef = null
      while (setups.size < SetupRepeats ||
          (setups.sum < MinSetupSeconds && setups.size < MaxSetupRepeats)) {
        if (state != null) w.teardown(ctx, state)
        val dir = new File(a.work, s"setup${setups.size}")
        val t0 = System.nanoTime()
        state = w.setup(ctx, prepared, dir)
        setups += (System.nanoTime() - t0) / 1e9
        System.err.println(f"[perfbench] setup ${setups.size}: ${setups.last}%.3f s")
      }
      phase("setups done")
      val firstCompile0 = CodeGenerator.compileTime
      w.warmUp(ctx, state)
      val firstRunCompileNs = CodeGenerator.compileTime - firstCompile0
      phase("warm-up done")
      val probe = if (a.trace) Some(new SparkProbe(spark)) else None
      val passes = collection.mutable.ArrayBuffer[(Boolean, Double)]()
      var compileNs = 0L
      var compiles = 0L
      val t0 = System.nanoTime()
      val deadline = t0 + a.seconds * 1000000000L
      var i = 0
      // in a traced run passes alternate untraced/traced so the tracing
      // overhead is measured in the same process on the same kind of pass
      while (i == 0 || System.nanoTime() < deadline || (a.trace && passes.count(_._1) == 0)) {
        val traced = a.trace && i % 2 == 1
        probe.foreach { p => p.quiesce(); p.recording = traced }
        tracer.enabled = traced
        val c0 = CodeGenerator.compileTime
        val n0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val p0 = System.nanoTime()
        w.pass(ctx, state, i)
        passes += traced -> (System.nanoTime() - p0) / 1e9
        tracer.enabled = false
        probe.foreach { p => p.quiesce(); p.recording = false }
        if (traced) {
          compileNs += CodeGenerator.compileTime - c0
          compiles += CodegenMetrics.METRIC_COMPILATION_TIME.getCount - n0
        }
        i += 1
      }
      val windowS = (System.nanoTime() - t0) / 1e9
      phase(s"${passes.size} passes done")
      val untraced = passes.filterNot(_._1).map(_._2).toSeq
      val m = Measured(untraced, windowS)
      val heapMb = retainedHeapMb()
      val metrics: Seq[(String, Double, String)] = probe match {
        case None => endToEnd(w, ctx, m, Stats.median(setups.toSeq), heapMb)
        case Some(p) =>
          val traced = passes.filter(_._1).map(_._2).toSeq
          Layers.metrics(w, ctx, state, p, traced, untraced, compileNs, compiles, firstRunCompileNs)
      }
      // p90 is printed but not gated: a run has too few operations for ten
      // samples beyond it (see README.md)
      val notes = if (a.trace) Nil else {
        val lat = ctx.outcomes.latencies(w.primaryKind)
        (if (lat.isEmpty) Nil else Seq(("p90_ms", Stats.quantile(lat, 0.9), "ms"),
          ("samples", lat.size.toDouble, "count"))) ++ w.notes(ctx, state, m)
      }
      w.teardown(ctx, state)
      probe.foreach(_.close())
      report(a, spark, ctx, metrics, notes, passes.size)
      phase("reported")
      true
    } catch { case e: Throwable =>
      System.err.println(s"[perfbench] ${a.workload} could not run: $e")
      e.printStackTrace()
      false
    } finally spark.stop()
  }

  private def endToEnd(w: Workload, ctx: Ctx, m: Measured, setupS: Double,
      heapMb: Double): Seq[(String, Double, String)] = {
    val lat = ctx.outcomes.latencies(w.primaryKind)
    Seq(
      ("setup_s", setupS, "s"),
      ("wall_s", if (m.passes.isEmpty) Double.NaN else Stats.median(m.passes), "s"),
      ("p50_ms", if (lat.isEmpty) Double.NaN else Stats.median(lat), "ms"),
      ("retained_heap_mb", heapMb, "MB"))
  }

  /** Used heap after full collections, with every cache the run built
    * still reachable. */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  private def report(a: Args, spark: SparkSession, ctx: Ctx, metrics: Seq[(String, Double, String)],
      notes: Seq[(String, Double, String)], passes: Int): Unit = {
    val o = ctx.outcomes
    val env = Session.environment(spark)
    val correct = o.failed == 0 && o.attempted > 0 && metrics.forall(!_._2.isNaN)
    println("env " + Json.obj(env.map { case (k, v) => k -> Json.str(v) }))
    o.failedOps.foreach { case (op, why) => println(s"failed $op: $why") }
    println(f"passes $passes%d attempted ${o.attempted}%d failed ${o.failed}%d " +
      f"failed_ratio ${if (o.attempted == 0) 0.0 else o.failed.toDouble / o.attempted}%.4f")
    (notes ++ metrics).foreach { case (k, v, u) => println(s"metric $k ${Json.num(v)} $u") }
    val metricJson = Json.obj(metrics.map { case (k, v, u) =>
      k -> s"""{"value":${Json.num(v)},"unit":${Json.str(u)}}""" })
    val result = s"""{"correct":$correct,"attempted":${math.max(1L, o.attempted)},""" +
      s""""failed":${o.failed},"metrics":$metricJson}"""
    a.out.mkdirs()
    val tag = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}"
    java.nio.file.Files.writeString(new File(a.out, s"$tag.json").toPath,
      Json.obj(Seq("env" -> Json.obj(env.map { case (k, v) => k -> Json.str(v) }),
        "notes" -> Json.obj(notes.map { case (k, v, _) => k -> Json.num(v) }),
        "failures" -> o.failedOps.map { case (op, why) => Json.str(s"$op: $why") }.mkString("[", ",", "]"),
        "op_ms" -> Json.obj(o.byOp.map { case (op, ms) => op -> Json.num(ms) }),
        "result" -> result)) + "\n")
    if (a.trace) ctx.tracer.write(new File(a.out, s"$tag.spans.jsonl"))
    println(result)
    System.out.flush()
  }
}

object Session {
  /** The one session builder: the way graft.Bench builds its session, with
    * Spark's scratch space kept under `work`. */
  def build(work: File): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.columnarReaderBatchSize", "32768")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftSession.configure(spark)
  }

  /** What a result needs to be read against: the box, the JVM, Spark and
    * the session's settings. */
  def environment(spark: SparkSession): Seq[(String, String)] = {
    val rt = Runtime.getRuntime
    Seq(
      "nproc" -> rt.availableProcessors().toString,
      "driver_heap_max_mb" -> (rt.maxMemory() / (1024 * 1024)).toString,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "os" -> s"${System.getProperty("os.name")} ${System.getProperty("os.arch")}") ++
      spark.conf.getAll.toSeq.sortBy(_._1)
        .filterNot { case (k, _) => k.endsWith(".dir") || k.contains("host") ||
          k.contains("port") || k.contains(".id") || k.contains("startTime") ||
          k.contains("extraJavaOptions") || k.startsWith("spark.hadoop.") }
        .map { case (k, v) => s"conf.$k" -> v }
  }
}
