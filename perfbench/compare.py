#!/usr/bin/env python3
"""Compare benchmark runs of a parent commit and a change, or check the
spread of one set of runs.

A run file holds what `perfbench/run.py` printed, the result line last;
its name is `<workload>-<seed>.json` (sweep.py writes them so, for failed
runs too). A file without a result line counts as one failed operation.
Parent and change runs pair up by workload and seed.

    python3 perfbench/compare.py diff PARENT_DIR CHANGE_DIR
    python3 perfbench/compare.py spread RUNS_DIR

`diff` prints one row per workload. When the change fails more
operations than the parent over the paired seeds, or yields a metric for
fewer of them, every metric of that workload is `failed`: no gain counts.
Otherwise it applies two rules to each end-to-end metric, with the
direction and bound from BENCHMARK.json:

* gain: the change wins at least 9 of every 10 pairs (ties count for
  neither side) and the medians differ, in the better direction, by more
  than the parent's interquartile range;
* regression: the change's median is worse than the parent's by more than
  the metric's bound (a share of the parent's median). When the parent's
  own spread is wider than the bound the metric is unresolved instead,
  unless every change run is better than every parent run.

It exits 1 when any metric regressed or failed. `spread` prints, per
workload and metric, the interquartile range as a share of the median next
to the metric's bound, and exits 1 when a spread is outside its bound or
a run failed.
"""
import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCHMARK = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


def read_result(text):
    """{"failed": n, "metrics": {metric: value}} from a run's output."""
    lines = [ln for ln in text.splitlines() if ln.strip()]
    try:
        line = json.loads(lines[-1])
        return {"failed": int(line["failed"]),
                "metrics": {k: m["value"] for k, m in line["metrics"].items()}}
    except (IndexError, ValueError, KeyError, TypeError):
        return {"failed": 1, "metrics": {}}


def load_runs(path):
    """{workload: {seed: result}} from a directory of run files."""
    runs = {}
    for name in sorted(os.listdir(path)):
        if not name.endswith(".json"):
            continue
        workload, _, seed = name[:-5].rpartition("-")
        with open(os.path.join(path, name)) as f:
            runs.setdefault(workload, {})[seed] = read_result(f.read())
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def better(a, b, direction):
    """True when value a is better than value b."""
    return a < b if direction == "lower" else a > b


def judge(parent, change, direction, bound):
    """Verdict for one metric from paired value lists."""
    pairs = list(zip(parent, change))
    wins = sum(better(c, p, direction) for p, c in pairs)
    pq1, pmed, pq3 = quartiles(parent)
    cmed = statistics.median(change)
    iqr = pq3 - pq1
    worse_by = (cmed - pmed) if direction == "lower" else (pmed - cmed)
    if wins * 10 >= 9 * len(pairs) and better(cmed, pmed, direction) \
            and abs(cmed - pmed) > iqr:
        verdict = "gain"
    elif pmed and iqr / abs(pmed) > bound and \
            not min(better(c, p, direction) for p in parent for c in change):
        verdict = "unresolved"
    elif pmed and worse_by > bound * abs(pmed):
        verdict = "regression"
    else:
        verdict = "same"
    return {"verdict": verdict, "wins": wins, "pairs": len(pairs),
            "parent_median": pmed, "parent_iqr": iqr, "change_median": cmed,
            "delta_pct": 100.0 * (cmed - pmed) / pmed if pmed else 0.0}


def diff(parent_dir, change_dir, spec):
    parent, change = load_runs(parent_dir), load_runs(change_dir)
    metrics = {m["name"]: m for m in spec["end_to_end"]}
    rows, bad = [], False
    for workload in sorted(set(parent) & set(change)):
        p_runs, c_runs = parent[workload], change[workload]
        seeds = sorted(set(p_runs) & set(c_runs))
        p_failed = sum(p_runs[s]["failed"] for s in seeds)
        c_failed = sum(c_runs[s]["failed"] for s in seeds)
        cells = []
        for name, m in metrics.items():
            have = [s for s in seeds if name in p_runs[s]["metrics"]]
            if not have:
                continue
            both = [s for s in have if name in c_runs[s]["metrics"]]
            if c_failed > p_failed or len(both) < len(have):
                bad = True
                cells.append(f"{name} ({len(both)}/{len(have)} pairs) failed")
                continue
            j = judge([p_runs[s]["metrics"][name] for s in both],
                      [c_runs[s]["metrics"][name] for s in both], m["better"], m["bound"])
            bad |= j["verdict"] == "regression"
            cells.append(f"{name} {j['parent_median']:.4g}->{j['change_median']:.4g} "
                         f"({j['delta_pct']:+.1f}%, {j['wins']}/{j['pairs']} wins) "
                         f"{j['verdict']}")
        rows.append(f"{workload} [{len(seeds)} pairs, failed ops {p_failed}->{c_failed}]: "
                    + "; ".join(cells))
    return rows, bad


def spread(runs_dir, spec):
    runs = load_runs(runs_dir)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    rows, bad = [], False
    for workload in sorted(runs):
        seeds = sorted(runs[workload])
        failed = sum(runs[workload][s]["failed"] for s in seeds)
        if failed:
            bad = True
            rows.append(f"{workload:13s} {failed} failed operations")
        for name, bound in bounds.items():
            xs = [runs[workload][s]["metrics"][name] for s in seeds
                  if name in runs[workload][s]["metrics"]]
            if not xs:
                continue
            q1, med, q3 = quartiles(xs)
            share = (q3 - q1) / abs(med) if med else float("inf")
            flag = "ok" if share <= bound / 3 else ("wide" if share <= bound else "OUTSIDE")
            bad |= share > bound
            rows.append(f"{workload:13s} {name:22s} n={len(xs):2d} median={med:<12.5g} "
                        f"iqr/median={share:.4f} bound={bound} {flag}")
    return rows, bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    d = sub.add_parser("diff")
    d.add_argument("parent")
    d.add_argument("change")
    s = sub.add_parser("spread")
    s.add_argument("runs")
    a = ap.parse_args()
    with open(BENCHMARK) as f:
        spec = json.load(f)
    if a.cmd == "diff":
        rows, bad = diff(a.parent, a.change, spec)
    else:
        rows, bad = spread(a.runs, spec)
    print("\n".join(rows))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
