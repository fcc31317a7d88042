package perfbench

import graft.{SparkEntry, Tables}
import graft.operators.{SnapshotTable, TimeSeries2}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed operation: `construct` is the layer's public call (a QFn,
  * a loader, a plan builder); `execute` materializes its result. Every
  * result is materialized in full by a write to the `noop` sink; the
  * untimed verification pass writes each `checked` result as parquet
  * instead, for the DuckDB oracle check. `family` names the layer the
  * operation belongs to in the per-layer roll-up. */
final case class Op(
    name: String,
    family: String,
    construct: (SparkSession, Int) => DataFrame,
    execute: (DataFrame, Int) => Unit = Op.noop,
    checked: Boolean = true)

object Op {
  def noop(df: DataFrame, pass: Int): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** A registry key, called through `SparkEntry.queries(name)(session, dir)`. */
  def key(name: String, family: String, data: String): Op =
    Op(name, family, (s, _) => SparkEntry.queries(name)(s, data))
}

/** Operations of the workloads. The op list of a run, in order, comes
  * from `perfbench/run.py` as `name:family` pairs; a name is either one
  * of the pipeline stages below or a registry key. */
object Workloads {

  /** The stages of the paper's batch job over one tick tape, besides
    * the bar keys: scan, native as-of enrichment, one bulk snapshot
    * commit of the enriched frame and the snapshot read-back. Each pass
    * commits to a fresh table root, so every pass writes and reads the
    * same volume. */
  def stages(data: String, snapRoot: Int => String): Map[String, Op] = Seq(
    Op("scan", "tables", (s, _) => Tables.events(s, data)),
    Op("enrich", "asof", (s, _) => TimeSeries2.enrichTrades(s, data)),
    Op("commit", "snapshot", (s, _) => TimeSeries2.enrichTrades(s, data),
      (df, pass) => SnapshotTable.commitAppend(df, snapRoot(pass), 0L),
      checked = false),
    Op("readback", "snapshot",
      (s, pass) => SnapshotTable.readSnapshot(s, snapRoot(pass), 0))
  ).map(op => op.name -> op).toMap

  def ops(spec: String, data: String, snapRoot: Int => String): Seq[Op] = {
    val named = stages(data, snapRoot)
    spec.split(",").toSeq.map { entry =>
      val Array(name, family) = entry.split(":", 2)
      named.getOrElse(name, Op.key(name, family, data))
    }
  }
}
