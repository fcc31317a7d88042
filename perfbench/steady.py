#!/usr/bin/env python3
"""Runs one workload on several seeds and prints, for each end-to-end
metric, its median and quartile spread (Q3 - Q1 over the median).

    python3 perfbench/steady.py --workload intraday_etl --seeds 1-10 --seconds 10
"""
import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-5", help="first-last")
    ap.add_argument("--seconds", default="10")
    args = ap.parse_args()
    lo, hi = map(int, args.seeds.split("-"))
    values, walls = {}, []
    for seed in range(lo, hi + 1):
        t0 = time.time()
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", args.workload,
                            "--seed", str(seed), "--seconds", args.seconds, "--trace", "0"],
                           capture_output=True, text=True)
        walls.append(time.time() - t0)
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
        res = json.loads(last)
        print(f"seed {seed}: exit {p.returncode} in {walls[-1]:.1f} s "
              f"correct={res.get('correct')} " +
              " ".join(f"{k}={v['value']:.3f}" for k, v in res.get("metrics", {}).items()),
              flush=True)
        if p.returncode != 0:
            sys.stderr.write(p.stderr[-3000:])
        for k, v in res.get("metrics", {}).items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        if len(vs) >= 2:
            print(f"{k}: median {stats.median(vs):.4f} spread {stats.quartile_spread(vs):.4f}")
    print(f"run wall: median {stats.median(walls):.1f} s, total {sum(walls):.0f} s")


if __name__ == "__main__":
    main()
