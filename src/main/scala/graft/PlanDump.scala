package graft

/** Dump `.explain("formatted")` for registry keys to files — the
  * optimization-round evidence artifact (plans/r{N}/<key>_{before,after}.txt).
  * Usage: runMain graft.PlanDump <outDir> <suffix> <key1,key2,...> [sfDir]
  * Same session shape as Bench so the captured plan is the benched plan.
  * Streaming keys are skipped: invoking them RUNS the query (runStream
  * blocks) and the returned frame is a sink read-back whose plan says
  * nothing about the streaming execution. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <keys> [sfDir]")
    val outDir = args(0); val suffix = args(1)
    val keys = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val d = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    // the same builder as Bench, so dumped plans are the benched plans
    val spark = GraftSession.build()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    keys.foreach { key =>
      require(SparkEntry.queries.contains(key), s"unknown key $key")
      if (key.startsWith("stream_")) {
        System.err.println(s"[plandump] $key skipped (streaming)")
      } else {
        val df = SparkEntry.queries(key)(spark, d)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${key}_$suffix.txt"),
          txt.getBytes("UTF-8"))
        println(s"[plandump] wrote $outDir/${key}_$suffix.txt " +
          s"(${txt.count(_ == '\n')} lines)")
      }
    }
    spark.stop()
  }
}
