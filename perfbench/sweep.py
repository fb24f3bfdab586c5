#!/usr/bin/env python3
"""Run the benchmark over several seeds and keep each run's result line.

    python3 perfbench/sweep.py --out perfbench/.out/runs --seeds 1-10 \\
        [--workloads ann_serve,catalog]

Writes each run's standard output to `<out>/<workload>-<seed>.json` (its
last line is the result compare.py reads; the line before it records the
host's state), with `run_seconds` taken from BENCHMARK.json, and prints
each run's wall time. A run that fails keeps its file too, so that
compare.py counts its failures. Workloads default to all of
BENCHMARK.json's.
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    os.makedirs(a.out, exist_ok=True)
    failed = False
    for w in names:
        for s in seeds(a.seeds):
            t = time.time()
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(s), "--seconds", str(spec["run_seconds"]),
                 "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True)
            with open(os.path.join(a.out, f"{w}-{s}.json"), "w") as f:
                f.write(p.stdout)
            lines = p.stdout.strip().splitlines() or [""]
            print(f"{w} seed {s}: exit {p.returncode}, {time.time() - t:.1f}s "
                  f"{lines[-1][:200]}", flush=True)
            if p.returncode != 0:
                failed = True
                print(p.stderr[-2000:], flush=True)
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
