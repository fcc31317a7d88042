#!/usr/bin/env python3
"""Benchmark of the intraday bid/ask ETL engine.

    python3 perfbench/run.py --workload intraday_etl --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program and the
harness with sbt; later runs reuse the build while the sources are
unchanged. Each run generates its inputs from the seed, computes their
DuckDB oracle digests, runs one JVM client over the workload, checks
every result against its oracle and prints one JSON line last:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import metrics  # noqa: E402

# The read-only shipped tables (TESTDATA.md) and the Spark jars the
# program's build compiles against (build.sbt's unmanagedBase).
TESTDATA = os.environ.get("PERFBENCH_TESTDATA", "/root/testdata")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
STATE = ".perfbench"          # build, inputs and run records, in the checkout
SETUPS = 5                    # set-ups per run; setup_s is their median
MIN_PASSES = 2                # warm (and traced) passes per run, at least
RUN_BUDGET_S = 150            # the client JVM of one run, at most

# Each workload: its inputs and the (operation, layer family) list of a
# pass. A tape is `copies` replicas of a shipped events table.
BAR_KEYS = ["ts_bidask_spread", "ts_effective_spread", "ts_ohlc_bars"]
WORKLOADS = {
    "intraday_etl": {
        "tape": {"base": "sf0.01", "copies": 5, "files": 10},
        "ops": [("scan", "tables"), ("enrich", "asof"), ("commit", "snapshot"),
                ("readback", "snapshot")] + [(k, "timeseries") for k in BAR_KEYS] +
               [("stream_asof_enrich", "streaming")],
    },
    "query_mix": {
        "tables": "sf0.01",
        "ops": [("agg_pricing_summary", "relational"), ("q21_suppliers_waiting", "relational"),
                ("win_rank", "windows"), ("fn_json", "functions"),
                ("llm_ngram_jaccard", "similarity"), ("llm_minhash_portable", "similarity"),
                ("mm_phash_neardup", "similarity"), ("graph_degree", "graph")],
    },
}
NO_ORACLE = {"commit"}  # checked through `readback`, which must equal `enrich`

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

BUILD_INPUTS = ["build.sbt", "project/build.properties", "src/main",
                "perfbench/harness/build.sbt",
                "perfbench/harness/project/build.properties",
                "perfbench/harness/src"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=1):
    log(msg)
    sys.exit(code)


def source_hash(root):
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        p = os.path.join(root, rel)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def classpath(root):
    return os.pathsep.join([
        os.path.join(root, "perfbench/harness/target/scala-2.13/classes"),
        os.path.join(root, "target/scala-2.13/classes"),
        os.path.join(SPARK_JARS, "*")])


def java_cmd(root, work, heap="3g"):
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xmx{heap}", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={work}/tmp"] + opens +
            ["-cp", classpath(root), "perfbench.Harness"])


def private_scratch(scratch):
    """Prefix that runs the client in a private mount namespace with
    `scratch` as a tmpfs and /dev/shm bound under it, so every file the
    program writes, its RAM-disk checkpoints included, stays inside the
    checkout. Empty where mount namespaces are not available."""
    ns = ["unshare", "-m", "--propagation", "private", "sh", "-c"]
    mount = 'mount -t tmpfs -o size=4g perfbench "$0"'
    if not shutil.which("unshare") or subprocess.run(
            ns + [mount, scratch], capture_output=True).returncode != 0:
        return []
    return ns + [mount + ' && mkdir -p "$0/shm" "$0/tmp" '
                 '&& mount --bind "$0/shm" /dev/shm && exec "$@"', scratch]


def build(root, state):
    """Compiles the program and the harness unless the sources are
    unchanged since the last build, and dumps the program's oracle SQL."""
    bdir = os.path.join(state, "build")
    key = source_hash(root)
    stamp = os.path.join(bdir, "stamp")
    sql_path = os.path.join(bdir, "oracle_sql.json")
    if os.path.exists(stamp) and open(stamp).read() == key and os.path.exists(sql_path):
        return key, json.load(open(sql_path))
    shutil.rmtree(bdir, ignore_errors=True)
    os.makedirs(bdir)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building program and harness with sbt")
    t0 = time.time()
    with open(os.path.join(bdir, "sbt.log"), "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                            cwd=os.path.join(root, "perfbench/harness"), env=env,
                            stdout=out, stderr=subprocess.STDOUT, timeout=800).returncode
    if rc != 0:
        fail(f"build failed (exit {rc}); see {bdir}/sbt.log")
    work = os.path.join(bdir, "work")
    os.makedirs(os.path.join(work, "tmp"))
    subprocess.run(java_cmd(root, work, "1g") + ["oracles", sql_path], check=True,
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=120)
    shutil.rmtree(work)
    with open(stamp, "w") as f:
        f.write(key)
    log(f"built in {time.time() - t0:.1f} s")
    return key, json.load(open(sql_path))


def generate(state, workload, seed):
    """Inputs for (workload, seed), generated once and kept for the next
    run on the same seed; older seeds' inputs are removed."""
    wdir = os.path.join(state, "data", workload)
    ddir = os.path.join(wdir, f"seed{seed}")
    marker = os.path.join(ddir, "inputs.json")
    if not os.path.exists(marker):
        shutil.rmtree(wdir, ignore_errors=True)
        t0 = time.time()
        spec = WORKLOADS[workload]
        if "tape" in spec:
            tape = spec["tape"]
            info = gen.make_tape(os.path.join(TESTDATA, tape["base"], "events.parquet"),
                                 os.path.join(ddir, "events.parquet"), seed,
                                 tape["copies"], tape["files"])
            info["ops"] = spec["ops"]
        else:
            info = gen.copy_tables(os.path.join(TESTDATA, spec["tables"]), ddir)
            info["ops"] = gen.mix_order(seed, spec["ops"])
        info["generate_s"] = time.time() - t0
        with open(marker, "w") as f:
            json.dump(info, f)
    return ddir, json.load(open(marker))


def oracle_sqls(workload, ops, registry_sql):
    sqls, missing = {}, []
    for op in ops:
        sql = oracle.OWN_SQL.get(op) or registry_sql.get(op)
        if sql:
            sqls[op] = sql
        else:
            missing.append(op)
    unexpected = sorted(set(missing) - NO_ORACLE)
    if unexpected:
        fail(f"{workload}: operations without an oracle: {unexpected}")
    return sqls, missing


def reference(state, ddir, workload, seed, sqls):
    """Oracle digests of the generated inputs, computed once per seed
    (once for the shipped tables) and oracle text, outside every timed
    interval."""
    key = hashlib.sha256(json.dumps(sqls, sort_keys=True).encode()).hexdigest()[:12]
    tag = f"{workload}-seed{seed}" if "tape" in WORKLOADS[workload] else workload
    path = os.path.join(state, "oracle", f"{tag}-{key}.json")
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = time.time()
        ref = oracle.oracle_digests(ddir, sqls)
        log(f"oracle digests in {time.time() - t0:.1f} s")
        with open(path + ".tmp", "w") as f:
            json.dump(ref, f)
        os.replace(path + ".tmp", path)
    return json.load(open(path))


def check(out_dir, ref):
    """Compares every verified result with its oracle digest. Returns
    (mismatches, verified digests)."""
    verify = os.path.join(out_dir, "verify")
    got, mismatches = {}, []
    for op in sorted(ref):
        d = os.path.join(verify, op)
        if not os.path.isdir(d):
            mismatches.append({"op": op, "why": "no result written"})
            continue
        got[op] = oracle.result_digest(d)
        if got[op] != ref[op]:
            mismatches.append({"op": op, "why": "digest differs",
                               "rows": got[op]["rows"], "oracle_rows": ref[op]["rows"]})
    if "readback" in got and got.get("readback") != got.get("enrich"):
        mismatches.append({"op": "readback", "why": "snapshot read-back differs from enrich"})
    return mismatches, got


def host_shape(root, cpus):
    commit = None
    if os.path.isdir(os.path.join(root, ".git")):
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                           capture_output=True, text=True)
        commit = r.stdout.strip() or None
    return {"nproc": cpus, "master": f"local[{cpus}]", "git_commit": commit,
            "loadavg_before": os.getloadavg()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and
            os.path.isdir(os.path.join(root, "src/main/scala/graft"))):
        fail("run from the root of a checkout of the program "
             "(build.sbt and src/main/scala/graft are missing)", 2)
    state = os.path.join(root, STATE)
    cpus = len(os.sched_getaffinity(0))
    host = host_shape(root, cpus)

    src_key, registry_sql = build(root, state)
    ddir, inputs = generate(state, args.workload, args.seed)
    ops = [name for name, _ in inputs["ops"]]
    sqls, missing = oracle_sqls(args.workload, ops, registry_sql)
    ref = reference(state, ddir, args.workload, args.seed, sqls)

    # scratch: everything the program writes while it runs; out: what the
    # client hands back (record, verified results, log)
    work = os.path.join(state, "work")
    shutil.rmtree(work, ignore_errors=True)
    scratch, out_dir = os.path.join(work, "scratch"), os.path.join(work, "out")
    for d in (os.path.join(scratch, "tmp"), out_dir):
        os.makedirs(d)
    rec_path = os.path.join(out_dir, "record.json")
    cmd = private_scratch(scratch) + java_cmd(root, scratch) + [
        "run", f"workload={args.workload}", f"data={ddir}", f"work={scratch}",
        f"cpus={cpus}", f"seconds={args.seconds}", f"trace={args.trace}",
        f"setups={SETUPS}", f"min_passes={MIN_PASSES}", f"out={rec_path}",
        f"verify={out_dir}/verify",
        "ops=" + ",".join(f"{name}:{family}" for name, family in inputs["ops"])]
    host["private_scratch"] = cmd[0] == "unshare"
    env = dict(os.environ, SPARK_GRAFT_INDEX_DIR=os.path.join(scratch, "index"))
    jvm_log = os.path.join(out_dir, "jvm.log")
    with open(jvm_log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=scratch, env=env, stdout=out,
                                stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=RUN_BUDGET_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness exceeded the run budget; see {jvm_log}")
    if rc != 0 or not os.path.exists(rec_path):
        with open(jvm_log) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail(f"harness exited with {rc}")
    record = json.load(open(rec_path))
    host["loadavg_after"] = os.getloadavg()

    mismatches, got = check(out_dir, ref)
    errors = [{"pass": o["pass"], "op": o["op"], "error": o["error"]}
              for o in record["ops"] if o["error"]]
    attempted = len(record["ops"])
    failed = len(errors)
    correct = not mismatches and not errors

    e2e = metrics.end_to_end(record, inputs)
    result = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "source": src_key, "host": dict(host, java=record["java_version"],
                                        spark=record["spark_version"],
                                        master_used=record["master"]),
        "inputs": inputs, "end_to_end": e2e,
        "passes": [(p["kind"], p["wall_s"]) for p in record["passes"]],
        "setups": record["setups"], "oracle_mismatch": mismatches,
        "no_oracle_ops": missing, "errors": errors,
        "fail_ratio": failed / attempted, "verified": got,
    }
    if args.trace:
        layers, rollup = metrics.per_layer(record, got, cpus)
        result.update(per_layer=layers, rollup=rollup)
        printed = layers
    else:
        printed = {k: e2e[k] for k in metrics.END_TO_END}
    runs = os.path.join(state, "runs")
    os.makedirs(runs, exist_ok=True)
    out_path = os.path.join(runs, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out_path, "w") as f:
        json.dump(result, f, indent=1, default=str)
    if args.trace:
        with open(out_path[:-5] + ".spans.jsonl", "w") as f:
            for s in record["spans"]:
                f.write(json.dumps(s) + "\n")
    shutil.rmtree(work, ignore_errors=True)
    log(f"run record: {out_path}")
    for m in mismatches:
        log(f"oracle mismatch: {m}")
    for e in errors:
        log(f"failed op: {e}")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": metrics.UNITS[k]} for k, v in printed.items()},
    }))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
