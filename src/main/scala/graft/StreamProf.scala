package graft

/** Streaming-harness profiler: run one streaming key end-to-end twice
  * (cold + warm) and dump each micro-batch's duration breakdown from
  * the progress events — the ground truth for where the fixed per-key
  * harness cost goes (triggerExecution vs addBatch vs state commit vs
  * walCommit). Diagnostic main, not part of the bench path. */
object StreamProf {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val key = if (args.length > 1) args(1) else "stream_tumbling"
    // the same builder (scratch dirs, SPARK_GRAFT_EXTRA_CONF) as Bench,
    // so a profile measures the bench's configuration
    val spark = GraftSession.build()
    val fn = SparkEntry.queries(key)
    (1 to 2).foreach { run =>
      val t0 = System.nanoTime()
      fn(spark, d).count()
      println(f"== $key run $run: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      streaming.Streaming.lastProgressJson.foreach(println)
    }
    spark.stop()
  }
}
