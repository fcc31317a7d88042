package graft

import org.apache.spark.sql.SparkSession

/** The one session builder: every main and the shared test session
  * build through it, so a plan measured by one harness is the plan the
  * others run, and no setting drifts between sites.
  *
  * Cores come from `SPARK_GRAFT_CPUS` when it parses as an int, else
  * from the host (`"*"` included); shuffle partitions follow the cores.
  * `SPARK_GRAFT_EXTRA_CONF="k=v;k=v"` is applied last, so an A/B run
  * can vary one knob (e.g. `spark.sql.cbo.enabled=true`) without a code
  * change. */
object GraftSession {

  /** Cores for `local[n]`: an int `SPARK_GRAFT_CPUS`, else the host's
    * core count (`"*"` is valid for `local[*]` but not for
    * `shuffle.partitions` or the ambient-load threshold). */
  def cores(env: Option[String] = sys.env.get("SPARK_GRAFT_CPUS")): Int =
    env.flatMap(_.trim.toIntOption).getOrElse(Runtime.getRuntime.availableProcessors)

  /** `SPARK_GRAFT_EXTRA_CONF` as (key, value) pairs. */
  private def extraConf: Seq[(String, String)] =
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(";")).filter(_.contains("="))
      .map { kv => val Array(k, v) = kv.split("=", 2); (k.trim, v.trim) }

  /** Throwaway scratch (shuffle files, RocksDB state working dirs) on
    * the RAM disk: /tmp on the reference host is ext4, and RocksDB
    * commit fsyncs against it were the stream family's largest fixed
    * cost (stream_join warm 5.4 → 3.4 s from the local.dir move alone,
    * 3.1 s with checkpoint checksums off; StreamProf A/B; changelog-off
    * measured slower, 3.3 s, so the changelog mode stays). Checkpoint
    * checksums protect durable remote checkpoints; every checkpoint
    * here is throwaway tmpfs state. */
  private def scratchConfs: Seq[(String, String)] = Seq(
    "spark.local.dir" -> scratchLocalDir,
    "spark.sql.streaming.stateStore.rocksdb.checkpointFileChecksumEnabled" ->
      "false")

  /** The session at `local[cores]`; mains take the default, the test
    * suite pins its cores. */
  def build(cores: Int = GraftSession.cores()): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // interval/bucket arithmetic on NTZ timestamps must agree with
      // unix-epoch bucketing (and the DuckDB oracles) in any zone
      .config("spark.sql.session.timeZone", "UTC")
      // Tables.loadEvents probes the footer for the ts unit; this conf
      // matters only when the probe finds timestamp[ns], and it must be
      // set at session build
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // managed tables (bucketed-join keys, the ANALYZE/CBO spec) go to
      // tmp, not the checkout
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .config("spark.ui.enabled", "false")
    (scratchConfs ++ extraConf).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
