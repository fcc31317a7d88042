package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerJobEnd, SparkListenerStageCompleted}

/** Per-key wall decomposition diagnostic (r15): run a registry key N
  * times in one JVM (same session shape as Bench) and print, per
  * invocation, the wall, the number of Spark jobs/stages/tasks it
  * launched, and the summed codegen compile time delta — separating
  * "structural floor" (jobs × stage dispatch + real work) from
  * "JIT/codegen warmup" (first-invocation inflation). Diagnostic
  * only: not part of the bench contract or the driver surface.
  * Usage: runMain graft.KeyProf <key> [n] [sfDir] */
object KeyProf {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: KeyProf <key> [n] [sfDir]")
    val key = args(0)
    val n = if (args.length > 1) args(1).toInt else 5
    val d = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val spark = GraftSession.build()
    require(SparkEntry.queries.contains(key), s"unknown key $key")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val stages = new java.util.concurrent.atomic.AtomicInteger(0)
    val tasks = new java.util.concurrent.atomic.AtomicInteger(0)
    val jobLog = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val jobWall = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); jobLog.put(j.jobId, j.time)
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val t0 = jobLog.getOrDefault(j.jobId, j.time)
        jobWall.addAndGet(j.time - t0)
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks)
      }
    })
    // compiles × mean compile ms: the histogram's reservoir decays, so
    // summing its values undercounts and a delta can go negative
    def compileMs(): Double = {
      val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      h.getCount * h.getSnapshot.getMean
    }
    for (i <- 1 to n) {
      jobs.set(0); stages.set(0); tasks.set(0); jobWall.set(0)
      val c0 = compileMs()
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(key)(spark, d)
      val rows = df.count()
      val wall = (System.nanoTime() - t0) / 1e9
      org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
      println(f"[keyprof] $key run $i: wall $wall%7.3f s  " +
        f"jobs ${jobs.get()}%3d  stages ${stages.get()}%3d  " +
        f"tasks ${tasks.get()}%5d  jobwall ${jobWall.get() / 1e3}%7.3f s  " +
        f"codegen +${compileMs() - c0}%7.1f ms  ($rows rows)")
    }
    spark.stop()
  }
}
