#!/usr/bin/env python3
"""Run one workload over several seeds and report each metric's spread.

Usage (from the repository root):
  python3 perfbench/spread.py --workload <name> --seeds 1-10 [--seconds 10] [--trace 0]

For every metric prints the median of the runs and the distance between
their first and third quartiles (statistics.quantiles, n=4) as a share of
the median, next to the metric's bound from BENCHMARK.json, plus each run's
wall time. Raw result lines are appended to .bench_build/spread-<workload>.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    seconds = a.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"] + bench["per_layer"]}
    values, walls = {}, []
    os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
    log = open(os.path.join(ROOT, ".bench_build", f"spread-{a.workload}.jsonl"), "a")
    for s in seeds(a.seeds):
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                            a.workload, "--seed", str(s), "--seconds", str(seconds),
                            "--trace", str(a.trace)], cwd=ROOT, capture_output=True, text=True)
        walls.append(time.time() - t0)
        if p.returncode != 0:
            print(f"seed {s}: exit {p.returncode}: {p.stderr.strip()[-500:]}")
            continue
        res = json.loads(p.stdout.strip().splitlines()[-1])
        log.write(json.dumps({"seed": s, "wall_s": walls[-1], **res}) + "\n")
        print(f"seed {s}: {walls[-1]:.1f} s correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']}", flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, xs in values.items():
        med = statistics.median(xs)
        q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [med, med, med]
        spread = (q[2] - q[0]) / med if med else float("nan")
        print(f"{k:34s} median {med:12.3f}  spread {spread:6.3f}  bound {bounds.get(k)}")
    print(f"wall per run: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")


if __name__ == "__main__":
    main()
