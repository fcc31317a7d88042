package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.{SparkEntry, Tables}
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Benchmark client. One JVM runs one workload as a closed loop: set
  * up, one first pass, one untimed verification pass that writes every
  * checked result for the oracle check, warm passes until the window is
  * spent, then the repeated set-ups. Writes one JSON record, which
  * `perfbench/run.py` turns into metrics.
  *
  *   Harness oracles <out.json>
  *   Harness run key=value ...   (see `run.py` for the keys)
  */
object Harness {
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("oracles") =>
      Files.writeString(Paths.get(args(1)),
        json.writeValueAsString(SparkEntry.oracleSql))
    case Some("run") =>
      run(args.drop(1).map { kv =>
        val Array(k, v) = kv.split("=", 2); k -> v }.toMap)
    case _ =>
      System.err.println("usage: Harness oracles <out.json> | Harness run key=value ...")
      sys.exit(2)
  }

  private final class Clock {
    private val anchorMs = System.currentTimeMillis().toDouble
    private val anchorNs = System.nanoTime()
    def ms(ns: Long): Double = anchorMs + (ns - anchorNs) / 1e6
  }

  private final case class Sample(pass: Int, op: Op, startNs: Long,
      constructNs: Long, endNs: Long, error: Option[String], counters: Option[Counters])

  def run(a: Map[String, String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = a("workload")
    val data = a("data")
    val work = a("work")
    val cpus = a("cpus").toInt
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val setups = a("setups").toInt
    val minPasses = a("min_passes").toInt
    val verifyDir = a("verify")
    val indexRoot = sys.env("SPARK_GRAFT_INDEX_DIR")
    val clock = new Clock
    val runId = java.util.UUID.randomUUID().toString
    def snapRoot(pass: Int) = s"$work/snap/p$pass"

    val ops = Workloads.ops(a("ops"), data, snapRoot)

    var spark: SparkSession = null
    val setupRecs = mutable.ArrayBuffer.empty[Map[String, Any]]

    /** Session build plus the staging the workload's first operations
      * would otherwise pay: the footer probes of the inputs, the
      * trades-with-mid enrichment (staged when an effective-spread query
      * is constructed) and the file feed of the stream keys. */
    def setUp(t0: Long): Unit = {
      spark = session(cpus, work)
      val tSession = System.nanoTime()
      val names = ops.map(_.name).toSet
      Tables.all.filter(t => Files.exists(Paths.get(s"$data/$t.parquet")))
        .foreach(t => Tables.load(spark, data, t).schema)
      if (names("ts_effective_spread"))
        SparkEntry.queries("ts_effective_spread")(spark, data)
      val feedStaged =
        ops.exists(_.family == "streaming") && stagedFeed(spark, data, flush = false)
      val tEnd = System.nanoTime()
      setupRecs += Map(
        "feed_staged" -> feedStaged,
        "setup_s" -> (tEnd - t0) / 1e9,
        "session_s" -> (tSession - t0) / 1e9,
        "stage_s" -> (tEnd - tSession) / 1e9,
        "index_bytes" -> du(Paths.get(indexRoot)))
    }

    // the first set-up runs from JVM start
    val nsAtJvmStart = System.nanoTime() -
      (System.currentTimeMillis() - jvmStartMs) * 1000000L
    setUp(nsAtJvmStart)

    var probe: Probe = null
    var tracing = false
    def trace(on: Boolean): Unit = if (traced && on != tracing) {
      if (on) probe.register() else probe.unregister()
      tracing = on
    }
    val samples = mutable.ArrayBuffer.empty[Sample]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]

    /** Runs every operation once. A verification pass writes each
      * checked result as parquet instead of to the noop sink. */
    def runPass(pass: Int, kind: String): Unit = {
      val verify = kind == "verify"
      val t0 = System.nanoTime()
      ops.foreach { op =>
        val counters = if (tracing) Some(new Counters) else None
        val spanId = samples.size.toLong
        counters.foreach(c => probe.begin(c, spanId))
        spark.sparkContext.setJobGroup(s"$kind-$pass-${op.name}", op.name)
        val s0 = System.nanoTime()
        var s1 = s0
        val err = try {
          val df = op.construct(spark, pass)
          s1 = System.nanoTime()
          if (verify && op.checked)
            df.write.mode("overwrite").parquet(s"$verifyDir/${op.name}")
          else op.execute(df, pass)
          None
        } catch {
          case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}")
        } finally spark.sparkContext.clearJobGroup()
        val s2 = System.nanoTime()
        counters.foreach { c =>
          probe.end()
          snapshotRoot(op, pass, work).foreach { root =>
            c.snapshotFiles = countParquet(root)
            c.snapshotBytes = du(root)
          }
        }
        samples += Sample(pass, op, s0, s1, s2, err, counters)
      }
      val t1 = System.nanoTime()
      passes += Map("pass" -> pass, "kind" -> kind,
        "start_ms" -> clock.ms(t0), "end_ms" -> clock.ms(t1), "wall_s" -> (t1 - t0) / 1e9)
      rmrf(Paths.get(s"$work/snap"))
    }

    // The traced run attaches the probe to the first pass (codegen is
    // paid there) and then alternates untraced and traced warm passes,
    // so the two kinds see the same warm-up and their ratio is the
    // tracing overhead.
    if (traced) probe = new Probe(spark)
    trace(on = true)
    runPass(0, "first")
    trace(on = false)
    runPass(1, "verify")
    val windowStart = System.nanoTime()
    def elapsed = (System.nanoTime() - windowStart) / 1e9
    def passesOf(kind: String) = passes.count(_("kind") == kind)
    var pass = 2
    while (elapsed < seconds || passesOf("warm") < minPasses ||
        (traced && passesOf("traced") < minPasses)) {
      if (traced && pass % 2 == 1) {
        trace(on = true)
        runPass(pass, "traced")
        trace(on = false)
      } else runPass(pass, "warm")
      pass += 1
    }

    for (_ <- 2 to setups) {
      spark.stop()
      rmrf(Paths.get(indexRoot))
      setUp(System.nanoTime())
    }
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    val record = Map(
      "run_id" -> runId,
      "workload" -> workload,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "master" -> spark.sparkContext.master,
      "setups" -> setupRecs.toSeq,
      "passes" -> passes.toSeq,
      "jvm_peak_heap_mb" -> heapPeak / 1048576.0,
      "ops" -> samples.toSeq.map { s =>
        Map(
          "pass" -> s.pass, "op" -> s.op.name, "family" -> s.op.family,
          "start_ms" -> clock.ms(s.startNs),
          "construct_s" -> (s.constructNs - s.startNs) / 1e9,
          "execute_s" -> (s.endNs - s.constructNs) / 1e9,
          "wall_s" -> (s.endNs - s.startNs) / 1e9,
          "error" -> s.error.orNull,
          "counters" -> s.counters.map(_.toMap).orNull)
      },
      "spans" -> spans(runId, samples.toSeq, passes.toSeq,
        Option(probe).map(_.planSpans.toSeq).getOrElse(Nil), clock))
    spark.stop()
    Files.writeString(Paths.get(a("out")), json.writeValueAsString(record))
  }

  /** The snapshot table an operation commits to, if any. */
  private def snapshotRoot(op: Op, pass: Int, work: String): Option[Path] =
    if (op.name == "commit") Some(Paths.get(s"$work/snap/p$pass")) else None

  /** Pass, operation, construct, plan and execute spans of the traced
    * passes. Plan spans come from the query executions' own phase
    * trackers, so they nest inside the operation's execute span. */
  private def spans(runId: String, samples: Seq[Sample],
      passes: Seq[Map[String, Any]], planSpans: Seq[(Long, Long, Long)],
      clock: Clock): Seq[Map[String, Any]] = {
    val traced = samples.filter(_.counters.isDefined)
    if (traced.isEmpty) return Nil
    def span(id: String, parent: String, name: String, start: Double, end: Double) =
      Map("run" -> runId, "id" -> id, "parent" -> parent, "name" -> name,
        "start_ms" -> start, "end_ms" -> end)
    val passSpans = passes.filter(p => p("kind") == "traced" || p("kind") == "first").map { p =>
      span(s"pass${p("pass")}", null, "pass",
        p("start_ms").asInstanceOf[Double], p("end_ms").asInstanceOf[Double])
    }
    val opSpans = traced.flatMap { s =>
      val id = s"pass${s.pass}/${s.op.name}"
      Seq(
        span(id, s"pass${s.pass}", s.op.name, clock.ms(s.startNs), clock.ms(s.endNs)),
        span(s"$id/construct", id, "construct", clock.ms(s.startNs), clock.ms(s.constructNs)),
        span(s"$id/execute", id, "execute", clock.ms(s.constructNs), clock.ms(s.endNs)))
    }
    val plans = planSpans.zipWithIndex.flatMap { case ((opIdx, start, end), i) =>
      samples.lift(opIdx.toInt).map { s =>
        span(s"pass${s.pass}/${s.op.name}/plan$i", s"pass${s.pass}/${s.op.name}/execute",
          "plan", start.toDouble, end.toDouble)
      }
    }
    passSpans ++ opSpans ++ plans
  }

  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.streaming.stateStore.rocksdb.checkpointFileChecksumEnabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.catalogImplementation", "in-memory")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The stream keys stage their ts-ordered file feed on first use
    * through a private helper; calling it here moves that staging into
    * set-up, where a deployment pays it once per tape. Returns false,
    * leaving the staging to the first drain, if the helper is gone. */
  private def stagedFeed(s: SparkSession, data: String, flush: Boolean): Boolean =
    try {
      val m = graft.streaming.Streaming.getClass.getDeclaredMethod(
        "stagedFeed", classOf[SparkSession], classOf[String], classOf[Boolean])
      m.setAccessible(true)
      m.invoke(graft.streaming.Streaming, s, data, Boolean.box(flush))
      true
    } catch { case _: NoSuchMethodException => false }

  private def walk(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else if (Files.isDirectory(p)) {
      val l = Files.list(p)
      try l.iterator().asScala.toList.flatMap(walk) finally l.close()
    } else Seq(p)

  private def du(p: Path): Long = walk(p).map(Files.size).sum
  private def countParquet(p: Path): Long =
    walk(p).count(_.getFileName.toString.endsWith(".parquet")).toLong
  private def rmrf(p: Path): Unit =
    if (Files.exists(p)) new scala.reflect.io.Directory(p.toFile).deleteRecursively()
}
