package perfbench

/** The per-layer metrics of a traced run. Additive figures are per traced
  * pass; ratios are over all traced passes. A layer the workload does not
  * reach reads 0. */
object Layers {
  val names: Seq[(String, String)] = Seq(
    "operators.build_s" -> "s", "operators.build_jobs" -> "count", "operators.build_job_s" -> "s",
    "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s", "catalyst.planning_s" -> "s",
    "catalyst.executed_plan_s" -> "s",
    "codegen.compile_s" -> "s", "codegen.compiles" -> "count", "codegen.interpreted_ops" -> "count",
    "codegen.first_run_compile_s" -> "s",
    "exec.s" -> "s", "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.task_s" -> "s", "exec.task_cpu_s" -> "s", "exec.gc_s" -> "s", "exec.busy_ratio" -> "ratio",
    "exec.scan_rows" -> "count", "exec.scan_bytes" -> "bytes", "exec.shuffle_write_bytes" -> "bytes",
    "exec.spill_bytes" -> "bytes",
    "server.time_s" -> "s", "server.transport_s" -> "s", "server.non_spark_s" -> "s",
    "server.plan_cache_hit_ratio" -> "ratio", "server.result_cache_hit_ratio" -> "ratio",
    "server.response_bytes" -> "bytes",
    "sources.read_s" -> "s", "sources.write_s" -> "s", "sources.rollup_ratio" -> "ratio",
    "sources.bytes_stored_per_input_byte" -> "ratio", "sources.files_written" -> "count",
    "sources.insert_s" -> "s",
    "streaming.batches" -> "count", "streaming.batch_s" -> "s", "streaming.rows_per_s" -> "1/s",
    "streaming.state_rows" -> "count",
    "trace.overhead_s" -> "s")

  /** `firstRunCompileNs` is the code compilation during the warm-up, the
    * first executions of the workload's operations in the process. */
  def metrics(w: Workload, ctx: Ctx, state: AnyRef, p: SparkProbe, traced: Seq[Double],
      untraced: Seq[Double], compileNs: Long, compiles: Long,
      firstRunCompileNs: Long): Seq[(String, Double, String)] = {
    val n = math.max(1, traced.size).toDouble
    val jobs = p.completedJobs
    addJobSpans(ctx.tracer, jobs)
    val spans = ctx.tracer.all
    def spanS(layer: String) = spans.filter(_.layer == layer).map(_.durNs).sum / 1e9
    val buildJobs = jobs.filter(_.layer == "operators")
    val execS = Span.coveredNs(jobs.map(j => (j.startMs * 1000000L, j.endMs * 1000000L))) / 1e9
    val taskS = p.taskRunMs.sum / 1e3
    val batches = p.streamBatches.sum.toDouble
    val common = Map(
      "operators.build_s" -> spanS("operators") / n,
      "operators.build_jobs" -> buildJobs.size / n,
      "operators.build_job_s" -> buildJobs.map(j => j.endMs - j.startMs).sum / 1e3 / n,
      "catalyst.analysis_s" -> p.analysisMs.sum / 1e3 / n,
      "catalyst.optimization_s" -> p.optimizationMs.sum / 1e3 / n,
      "catalyst.planning_s" -> p.planningMs.sum / 1e3 / n,
      "catalyst.executed_plan_s" -> spanS("catalyst") / n,
      "codegen.compile_s" -> compileNs / 1e9 / n,
      "codegen.first_run_compile_s" -> firstRunCompileNs / 1e9,
      "codegen.compiles" -> compiles / n,
      "codegen.interpreted_ops" -> p.interpretedOps.sum / n,
      "exec.s" -> execS / n,
      "exec.jobs" -> jobs.size / n,
      "exec.stages" -> p.stages.sum / n,
      "exec.tasks" -> p.tasks.sum / n,
      "exec.task_s" -> taskS / n,
      "exec.task_cpu_s" -> p.taskCpuNs.sum / 1e9 / n,
      "exec.gc_s" -> p.gcMs.sum / 1e3 / n,
      "exec.busy_ratio" -> (if (execS > 0) taskS / (execS * ctx.cores) else 0.0),
      "exec.scan_rows" -> p.recordsRead.sum / n,
      "exec.scan_bytes" -> p.bytesRead.sum / n,
      "exec.shuffle_write_bytes" -> p.shuffleWriteBytes.sum / n,
      "exec.spill_bytes" -> p.spillBytes.sum / n,
      "streaming.batches" -> batches / n,
      "streaming.batch_s" -> p.streamBatchMs.sum / 1e3 / n,
      "streaming.rows_per_s" -> (if (batches > 0) p.streamRowsPerSec.sum / batches else 0.0),
      "streaming.state_rows" -> p.streamStateRows.get.toDouble,
      "trace.overhead_s" ->
        (if (traced.isEmpty || untraced.isEmpty) 0.0 else Stats.median(traced) - Stats.median(untraced)))
    val all = common ++ w.layerFigures(ctx, state, math.max(1, traced.size), jobs)
    names.map { case (k, u) => (k, all.getOrElse(k, 0.0), u) }
  }

  /** Adds each Spark job as a span under the benchmark span that submitted
    * it (same op and layer, covering the job's start). */
  private def addJobSpans(tracer: Tracer, jobs: Seq[SparkProbe.Job]): Unit = {
    val nowNs = System.nanoTime()
    val nowMs = System.currentTimeMillis()
    def ns(ms: Long) = nowNs - (nowMs - ms) * 1000000L
    val spans = tracer.all
    jobs.foreach { j =>
      val s = ns(j.startMs)
      val parent = spans.find(x => x.op == j.group && x.layer == j.layer &&
        x.startNs <= s + 1000000L && s <= x.endNs).map(_.id).getOrElse(0L)
      tracer.add(Span(0, parent, j.group, "job", s, math.max(s, ns(j.endMs))))
    }
  }
}
