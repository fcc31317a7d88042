"""End-to-end and per-layer metrics from one harness record."""
import stats

END_TO_END = {"setup_s": "s", "first_pass_s": "s", "pass_s": "s"}

# Per-layer metrics. Each is measured on every workload. A layer that a
# workload does not run reports a zero count or a zero share, never a
# zero time.
PER_LAYER = {
    "tables.scan_s": "s", "tables.scan_tasks": "count",
    "tables.bytes_read": "bytes", "tables.rows_read": "rows",
    "planning.construct_s": "s", "planning.plan_s": "s",
    "dispatch.jobs": "count", "dispatch.stages": "count",
    "dispatch.tasks": "count", "dispatch.sched_delay_s": "s",
    "exchange.count": "count", "exchange.shuffle_write_bytes": "bytes",
    "exchange.shuffle_read_bytes": "bytes",
    "codegen.compiles": "count", "codegen.compile_s": "s",
    "compute.task_cpu_s": "s", "compute.gc_s": "s",
    "compute.spill_bytes": "bytes", "compute.peak_exec_mem_mb": "MB",
    "asof.share": "ratio", "asof.rows_out": "rows",
    "timeseries.share": "ratio", "relational.share": "ratio",
    "similarity.share": "ratio",
    "snapshot.share": "ratio", "snapshot.files": "count", "snapshot.bytes": "bytes",
    "streaming.share": "ratio", "stream.batches": "count",
    "stream.add_batch_share": "ratio", "stream.planning_share": "ratio",
    "stream.wal_commit_share": "ratio", "stream.state_commit_share": "ratio",
    "stream.state_rows": "rows", "stream.state_bytes": "bytes",
    "indexstore.stage_s": "s", "indexstore.bytes": "bytes",
    "session.build_s": "s", "jvm.peak_heap_mb": "MB",
    "trace.pass_s": "s", "trace.overhead": "ratio",
}
UNITS = {**END_TO_END, **PER_LAYER}

# Per-pass sums of the probe's counters: metric -> (counter, scale).
COUNTER_SUMS = {
    "tables.scan_s": ("scan_ms", 1e-3), "tables.scan_tasks": ("scan_tasks", 1),
    "tables.bytes_read": ("bytes_read", 1), "tables.rows_read": ("rows_read", 1),
    "planning.plan_s": ("plan_ns", 1e-9),
    "dispatch.jobs": ("jobs", 1), "dispatch.stages": ("stages", 1),
    "dispatch.tasks": ("tasks", 1), "dispatch.sched_delay_s": ("sched_delay_ms", 1e-3),
    "exchange.count": ("exchanges", 1),
    "exchange.shuffle_write_bytes": ("shuffle_write_bytes", 1),
    "exchange.shuffle_read_bytes": ("shuffle_read_bytes", 1),
    "compute.task_cpu_s": ("task_cpu_ns", 1e-9), "compute.gc_s": ("jvm_gc_ms", 1e-3),
    "compute.spill_bytes": ("spill_bytes", 1),
    "snapshot.files": ("snapshot_files", 1), "snapshot.bytes": ("snapshot_bytes", 1),
}

# Share of the pass's wall spent in the operations of one layer family.
SHARES = {
    "asof.share": lambda o: o["family"] == "asof",
    "timeseries.share": lambda o: o["family"] == "timeseries",
    "relational.share": lambda o: o["family"] == "relational",
    "similarity.share": lambda o: o["family"] == "similarity",
    "snapshot.share": lambda o: o["family"] == "snapshot",
    "streaming.share": lambda o: o["family"] == "streaming",
}

# Micro-batch phases, as shares of the batches' trigger time.
BATCH_PHASES = ["add_batch", "planning", "wal_commit", "state_commit"]


def passes_of(record, kind):
    return [p for p in record["passes"] if p["kind"] == kind]


def ops_in(record, kind):
    ids = {p["pass"] for p in passes_of(record, kind)}
    return [o for o in record["ops"] if o["pass"] in ids]


def end_to_end(record, inputs):
    """The printed metrics plus what the run record keeps beside them:
    op-latency percentiles (when there are enough samples for them),
    tick throughput and per-operation walls."""
    warm = passes_of(record, "warm")
    pass_s = stats.median([p["wall_s"] for p in warm])
    walls = [o["wall_s"] for o in ops_in(record, "warm")]
    out = {
        "setup_s": stats.median([s["setup_s"] for s in record["setups"]]),
        "first_pass_s": passes_of(record, "first")[0]["wall_s"],
        "pass_s": pass_s,
        "setup_cold_s": record["setups"][0]["setup_s"],
        "warm_passes": len(warm),
        "op_samples": len(walls),
    }
    for name, q in (("op_s_p50", 0.5), ("op_s_p90", 0.9)):
        try:
            out[name] = stats.percentile(walls, q)
        except stats.TooFewSamples as e:
            out[name] = None
            out[name + "_refused"] = str(e)
    if "ticks" in inputs:
        out["ticks_per_s"] = inputs["ticks"] / pass_s
    out["op_walls"] = {
        o["op"]: {"first_s": o["wall_s"],
                  "warm_median_s": stats.median([w["wall_s"] for w in ops_in(record, "warm")
                                                 if w["op"] == o["op"]])}
        for o in ops_in(record, "first")}
    return out


def per_layer(record, verified, cores):
    """Per-layer metrics: medians over the traced passes of per-pass
    values; codegen from the traced first pass, where it is paid; set-up
    layers from the run's set-ups. Returns (metrics, roll-up)."""
    ops = ops_in(record, "traced")
    walls = {p["pass"]: p["wall_s"] for p in passes_of(record, "traced")}
    by_pass = {n: [o for o in ops if o["pass"] == n] for n in walls}

    def per_pass(f):
        return stats.median([f(v, walls[n]) for n, v in by_pass.items()])

    def batches(v):
        return [b for o in v for b in o["counters"]["batches"]]

    out = {}
    for name, (counter, scale) in COUNTER_SUMS.items():
        out[name] = per_pass(lambda v, w: sum(o["counters"][counter] for o in v) * scale)
    out["compute.peak_exec_mem_mb"] = per_pass(
        lambda v, w: max(o["counters"]["peak_exec_mem"] for o in v) / 1048576)
    out["planning.construct_s"] = per_pass(
        lambda v, w: sum(o["construct_s"] for o in v if o["family"] != "streaming"))
    for name, pick in SHARES.items():
        out[name] = per_pass(lambda v, w: sum(o["wall_s"] for o in v if pick(o)) / w)
    out["asof.rows_out"] = verified.get("enrich", {}).get("rows", 0)

    out["stream.batches"] = per_pass(lambda v, w: len(batches(v)))
    for phase in BATCH_PHASES:
        out[f"stream.{phase}_share"] = per_pass(
            lambda v, w: sum(b[f"{phase}_ms"] for b in batches(v)) /
            (sum(b["trigger_ms"] for b in batches(v)) or 1))
    out["stream.state_rows"] = per_pass(lambda v, w: sum(b["state_rows"] for b in batches(v)))
    out["stream.state_bytes"] = per_pass(
        lambda v, w: max([b["state_bytes"] for b in batches(v)], default=0.0))

    first = ops_in(record, "first")
    out["codegen.compiles"] = sum(o["counters"]["codegen_compiles"] for o in first)
    out["codegen.compile_s"] = sum(o["counters"]["codegen_ms"] for o in first) / 1e3

    setups = record["setups"]
    out["indexstore.stage_s"] = stats.median([s["stage_s"] for s in setups])
    out["indexstore.bytes"] = stats.median([s["index_bytes"] for s in setups])
    out["session.build_s"] = stats.median([s["session_s"] for s in setups])
    out["jvm.peak_heap_mb"] = record["jvm_peak_heap_mb"]
    out["trace.pass_s"] = stats.median(list(walls.values()))
    out["trace.overhead"] = out["trace.pass_s"] / stats.median(
        [p["wall_s"] for p in passes_of(record, "warm")])
    return {k: out[k] for k in PER_LAYER}, rollup(ops, cores)


def rollup(ops, cores):
    """Self-time of each operation split by layer, medians over the traced
    passes. construct, plan and codegen are measured in the client JVM;
    tasks is the executors' busy time divided by the tasks' parallelism
    (the time the slowest core was busy, at best); other is what is left
    of the wall: dispatch, commit protocol, client-side work."""
    out = {}
    for name in dict.fromkeys(o["op"] for o in ops):
        rows = [o for o in ops if o["op"] == name]

        def med(f):
            return stats.median([f(o) for o in rows])

        def c(o):
            return o["counters"]
        wall = med(lambda o: o["wall_s"])
        split = {
            "construct_s": med(lambda o: o["construct_s"]),
            "plan_s": med(lambda o: c(o)["plan_ns"] / 1e9),
            "codegen_s": med(lambda o: c(o)["codegen_ms"] / 1e3),
            "tasks_s": med(lambda o: c(o)["task_run_ms"] / 1e3 /
                           max(1, min(c(o)["tasks"], cores))),
        }
        split["other_s"] = max(0.0, wall - sum(split.values()))
        out[name] = {"family": rows[0]["family"], "wall_s": wall, **split,
                     "task_cpu_s": med(lambda o: c(o)["task_cpu_ns"] / 1e9),
                     "jobs": med(lambda o: c(o)["jobs"]),
                     "stages": med(lambda o: c(o)["stages"]),
                     "tasks": med(lambda o: c(o)["tasks"]),
                     "exchanges": med(lambda o: c(o)["exchanges"]),
                     "batches": med(lambda o: len(c(o)["batches"]))}
    return out
