package graft.tools
/** Dump `.explain("formatted")` output for named gate queries to files —
  * the optimization-round evidence artifact (`plans/r16/<q>_<suffix>.txt`).
  * Bench-only queries are included so segment_metadata_approx is dumpable.
  * Usage: runMain graft.tools.PlanDump [sfDir] [outDir] [suffix] [q1,q2,...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val outDir = if (args.length > 1) args(1) else "plans/r16"
    val suffix = if (args.length > 2) args(2) else "before"
    val all = graft.SparkEntry.queries ++ graft.SparkEntry.benchOnly
    val qs = if (args.length > 3) args(3).split(",").toSeq else all.keys.toSeq.sorted
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (q <- qs) {
      val text =
        try {
          val df = all(q)(spark, dir)
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        } catch { case e: Throwable => s"<failed: ${e.getMessage}>" }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${q}_$suffix.txt"),
        text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      System.err.println(s"[plandump] $q -> $outDir/${q}_$suffix.txt")
    }
    spark.stop()
  }
}
