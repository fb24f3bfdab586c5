#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload ann_serve --seed 1 --seconds 8 --trace 0

Run from the repository root. The first run builds graft and the harness
with sbt (perfbench/harness) and caches the build until a source file
changes; inputs are generated from the seed by perfbench/gen.py and
cached per seed. The harness JVM runs the workload and writes what it
observed; this script checks the outputs against the generator's truth
(and, for the catalog, against DuckDB), turns the observations into
metrics, and prints them as the last line of standard output, after a
line that records the host's state:

    {"host": {"cpus": 4, "load_avg_start": 2.9, "steal_pct": 0.5, ...}}
    {"correct": true, "attempted": 48, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the workload's end-to-end metrics; with
--trace 1 they are the per-layer metrics of BENCHMARK.json. The command
exits non-zero when any output check fails, and without a result line
when the program cannot be built or run.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402
import layers  # noqa: E402

HARNESS = os.path.join(HERE, "harness")
BUILD_DIR = os.path.join(HERE, ".build")
CACHE_DIR = os.path.join(HERE, ".cache")
WORK_DIR = os.path.join(HERE, ".work")
# a fixed, pre-touched heap, so that heap growth and first-touch page
# faults do not land in the timed phase
JVM_HEAP = "3g"
JVM_TIMEOUT_S = 170

WORKLOADS = ("ann_serve", "catalog")

# Host speed drifts: on the shared 4-core development host the same run's
# latencies moved by up to 1.6x within minutes while its CPU-seconds stayed
# flat. Each run therefore also times a fixed Spark-only job that runs no
# graft code (Host.referenceMs in the harness) between its timed
# operations, and the timed phase's latencies are multiplied by
# scale ** ALPHA, where scale is REF_MS over the median of those samples.
# The reference job runs four tasks at once and slows more under CPU steal
# than the workloads, which are partly serial: over three sets of up to ten
# runs per workload with 0-21% steal, ALPHA = 0.7 kept every latency spread at
# or below 0.08 (up to 0.19 with ALPHA = 1). Set-up times and CPU are not
# scaled: they did not follow the factor. The host line keeps the raw
# median and factor.
REF_MS = 56.0
ALPHA = 0.7
SCALED = {"op_p50_ms", "round_s"}

# IVF answers may miss at most this much mean recall@10 against a
# reference IVF probe computed here (same centroids, same probe budget)
RECALL_SLACK = 0.02


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def _source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HARNESS, "src"), os.path.join(HARNESS, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def build():
    """Build graft and the harness unless the last build is current;
    return (classpath, jvm options)."""
    for f in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, f)):
            fail(f"no graft sources here ({f} missing); run from a checkout")
    h = hashlib.sha256()
    for f in _source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = os.path.join(BUILD_DIR, "stamp")
    launch = os.path.join(BUILD_DIR, "launch.txt")
    if not (os.path.exists(launch) and os.path.exists(stamp)
            and open(stamp).read() == h.hexdigest()):
        os.makedirs(BUILD_DIR, exist_ok=True)
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" + os.path.expanduser(
                           "~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g")
        log = os.path.join(BUILD_DIR, "build.log")
        with open(log, "w") as out:
            tmp = os.path.join(BUILD_DIR, "tmp")
            os.makedirs(tmp, exist_ok=True)
            rc = subprocess.call(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 f"-Djava.io.tmpdir={tmp}", "launchFile"],
                cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL)
        made = os.path.join(HARNESS, "target", "launch.txt")
        if rc != 0 or not os.path.exists(made):
            fail(f"build failed (exit {rc}); see {os.path.relpath(log, ROOT)}")
        shutil.copyfile(made, launch)
        with open(stamp, "w") as f:
            f.write(h.hexdigest())
    lines = open(launch).read().splitlines()
    return lines[0], [x for x in lines[1:] if x]


# ---------------------------------------------------------------- harness

def catalog_queries():
    """The catalog slice: a fixed list of SparkEntry query names."""
    with open(os.path.join(HERE, "catalog_queries.txt")) as f:
        return [ln.split("#")[0].strip() for ln in f if ln.split("#")[0].strip()]


def run_harness(classpath, jvm_opts, workload, inputs, vec_inputs, seconds, trace, work):
    """Run the harness JVM; return (its result dict, peak RSS in MB)."""
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + jvm_opts + [
        f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}",
        "-cp", classpath, "perfbench.Main",
        "--workload", workload, "--inputs", inputs, "--work", work,
        "--seconds", str(seconds), "--trace", str(trace), "--out", out]
        + (["--queries", ",".join(catalog_queries())] if workload == "catalog" else [])
        + (["--vectors", vec_inputs] if vec_inputs != inputs else []))
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, stdout=err, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        timer = threading.Timer(JVM_TIMEOUT_S, lambda: p.send_signal(signal.SIGKILL))
        timer.start()
        try:
            _, status, usage = os.wait4(p.pid, 0)
        finally:
            timer.cancel()
        p.returncode = os.waitstatus_to_exitcode(status)
    if p.returncode != 0 or not os.path.exists(out):
        tail = open(log, errors="replace").read()[-3000:]
        fail(f"harness exited {p.returncode}\n{tail}")
    with open(out) as f:
        result = json.load(f)
    if "error" in result:
        tail = open(log, errors="replace").read()[-3000:]
        fail(f"harness error: {result['error']}\n{tail}")
    return result, usage.ru_maxrss / 1024.0


# ---------------------------------------------------------------- checks

class Checker:
    """Counts operations and the ones that failed or returned wrong rows."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.reasons = []

    def op(self, rec, ok, why=""):
        self.attempted += 1
        if "error" in rec:
            ok, why = False, rec["error"]
        if not ok:
            self.failed += 1
            if len(self.reasons) < 5:
                self.reasons.append(f"{rec['kind']} op {rec['op']}: {why}")


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def timed_ops(result, kind):
    return [o for o in result["ops"] if o["kind"] == kind and not o.get("untraced")]


def load_store(inputs):
    """The generated store's vectors, indexed by id."""
    t = pq.read_table(os.path.join(inputs, "store"))
    flat = t.column("embedding").combine_chunks().flatten().to_numpy()
    return flat.reshape(len(t), -1)[np.argsort(t.column("id").to_numpy())]


def true_dists(q, vecs, ids):
    d = vecs[np.asarray(ids)].astype(np.float64) - q.astype(np.float64)
    return (d * d).sum(1)


def topk_ok(rec, k=gen.K):
    ids, dists = rec.get("ids", []), rec.get("dists", [])
    if len(ids) != k or len(set(ids)) != k:
        return False, f"{len(ids)} rows, {len(set(ids))} distinct"
    if any(b < a for a, b in zip(dists, dists[1:])):
        return False, "distances not ascending"
    return True, ""


def recall(ids, truth):
    return len(set(ids) & set(truth.tolist())) / len(truth)


def check_writes(result, inputs, chk):
    """The write path of a traced run: reads of the freshly written index
    see the batch's upserts and none of its deletes, and the new store
    version holds the expected number of rows."""
    ch = pq.read_table(os.path.join(inputs, "changes.parquet"),
                       columns=["id", "op"]).to_pydict()
    deleted = {i for i, op in zip(ch["id"], ch["op"]) if op == "delete"}
    expects = gen.read_raw(inputs, "probes.expect", "<i8")
    forbids = gen.read_raw(inputs, "probes.forbid", "<i8")
    for o in result["ops"]:
        if o["kind"] != "store_read":
            continue
        ok, why = topk_ok(o)
        expect, forbid = int(expects[o["probe"]]), int(forbids[o["probe"]])
        if ok and expect >= 0 and expect not in o["ids"]:
            ok, why = False, f"upserted id {expect} not returned for its own vector"
        elif ok and deleted & set(o["ids"]):
            ok, why = False, f"deleted ids {sorted(deleted & set(o['ids']))[:3]} returned"
        elif ok and forbid in o["ids"]:
            ok, why = False, f"deleted id {forbid} returned"
        chk.op(o, ok, why)
    if "live_rows" in result["extra"]:
        rows, expect = result["extra"]["live_rows"], gen.N + gen.N_NEW - gen.N_DELETE
        chk.op({"kind": "snapshot", "op": 0}, rows == expect,
               f"store holds {rows} rows, expected {expect}")


def reference_ivf(vecs, cents, queries, probes=32, k=gen.K):
    """Top-k ids of an exact IVF probe: each stored vector in the list of
    its nearest centroid, each query searching its `probes` nearest lists."""
    lists = np.argmin(gen._sq_dists(vecs, cents), axis=1)
    near = np.argsort(gen._sq_dists(queries, cents), axis=1)[:, :probes]
    out = []
    for q, ls in zip(queries, near):
        cand = np.flatnonzero(np.isin(lists, ls))
        d = true_dists(q, vecs, cand)
        out.append(cand[np.lexsort((cand, d))[:k]])
    return out


def check_ann_serve(result, inputs, chk):
    """Check every query's answer; the IVF answers' mean recall@10 must
    come within RECALL_SLACK of the reference IVF probe's. Returns the
    two recalls."""
    truth = np.load(os.path.join(inputs, "truth.npy"))
    vecs = load_store(inputs)
    queries = gen.read_raw(inputs, "queries", "<f4", gen.DIM)
    recalls, qids = [], []
    for o in result["ops"]:
        if o["kind"] == "store_read":
            continue
        ok, why = topk_ok(o)
        if ok:
            q = queries[o["q"]]
            exp = true_dists(q, vecs, o["ids"])
            if not np.allclose(o["dists"], exp, rtol=1e-6, atol=1e-6):
                ok, why = False, "distances differ from the vectors' true distances"
        if ok and o["kind"] == "ivf":
            recalls.append(recall(o["ids"], truth[o["q"]]))
            qids.append(o["q"])
        elif ok and o["kind"] == "ivf_filtered":
            if any(i % gen.LABELS != o["label"] for i in o["ids"]):
                ok, why = False, "filter admitted a row with another label"
        elif ok and o["kind"] == "knn_exact":
            # exact search must reach the truth's k-th distance
            kth = true_dists(queries[o["q"]], vecs, truth[o["q"]]).max()
            if max(o["dists"]) > kth * (1 + 1e-9) + 1e-9:
                ok, why = False, "exact search missed a true neighbour"
        chk.op(o, ok, why)
    cents = pq.read_table(os.path.join(inputs, "centroids.parquet"))
    cents = np.stack(cents.sort_by("cluster_id").column("centroid").to_pylist())
    qs = sorted(set(qids))
    ref = dict(zip(qs, reference_ivf(vecs, cents, queries[qs])))
    got = statistics.fmean(recalls) if recalls else 0.0
    want = statistics.fmean(recall(ref[q], truth[q]) for q in qids) if qids else 1.0
    chk.op({"kind": "recall", "op": 0}, got >= want - RECALL_SLACK,
           f"IVF recall@10 {got:.3f}, reference probe {want:.3f}")
    return {"recall_at_10": got, "reference_recall_at_10": want}


def round_ms(result, mix):
    """Median latency of each kind of operation, summed over one round of
    the workload's fixed mix ({kind: operations per round})."""
    return sum(n * median([o["ms"] for o in timed_ops(result, k)]) for k, n in mix.items())


def metrics_ann_serve(result, inputs, chk):
    quality = check_ann_serve(result, inputs, chk)
    ops = [o for k in ANN_MIX for o in timed_ops(result, k)]
    return {
        "setup_s": (median(result["setup_s"]), "s"),
        "op_p50_ms": (median([o["ms"] for o in ops]), "ms"),
        "round_s": (round_ms(result, ANN_MIX) / 1e3, "s"),
    }, quality


# ann_serve's operations per round (Workloads.annServe's kindOf)
ANN_MIX = {"ivf": 2, "ivf_filtered": 1, "knn_exact": 1}


def oracle_counts(inputs, sqls):
    """Row counts of the oracle SQL through DuckDB, cached per data dir."""
    import duckdb
    path = os.path.join(inputs, "oracle_counts.json")
    cache = json.load(open(path)) if os.path.exists(path) else {}
    key = {n: hashlib.sha256(s.encode()).hexdigest()[:16] for n, s in sqls.items()}
    todo = [n for n in sqls if cache.get(n, {}).get("sql") != key[n]]
    if todo:
        con = duckdb.connect()
        con.execute(f"SET temp_directory = '{os.path.join(inputs, 'duckdb.tmp')}'")
        for t in ("embeddings", "documents", "events", "lineitem", "orders",
                  "customer", "part", "supplier", "nation", "region"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(inputs, t + '.parquet')}'")
        for n in todo:
            try:
                rows = con.execute(f"SELECT count(*) FROM ({sqls[n]})").fetchone()[0]
            except duckdb.Error as e:
                rows = f"error: {e}"[:200]
            cache[n] = {"sql": key[n], "rows": rows}
        with open(path, "w") as f:
            json.dump(cache, f, sort_keys=True)
    return {n: cache[n]["rows"] for n in sqls}


def metrics_catalog(result, inputs, chk):
    sqls = result["extra"].get("oracle_sql", {})
    expect = oracle_counts(inputs, sqls)
    for o in result["ops"]:
        if o["kind"] != "catalog_query":
            continue
        ok, why = True, ""
        if "rows" in o and o["query"] in expect:
            if o["rows"] != expect[o["query"]]:
                ok, why = False, f"{o['query']}: {o['rows']} rows, oracle {expect[o['query']]}"
        chk.op(o, ok, why)
    # the first, cold pass: later passes (traced runs only) are warm
    first = [o["ms"] for o in result["ops"] if o.get("pass") == 0]
    return {
        "setup_s": (median(result["setup_s"]), "s"),
        "op_p50_ms": (median(first), "ms"),
        "round_s": (sum(first) / 1e3, "s"),
    }, {"families_s": layers.family_seconds(result)}


METRICS = {"ann_serve": metrics_ann_serve, "catalog": metrics_catalog}


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description="graft benchmark: one workload, one seed")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = {m["name"]: m["unit"] for m in spec["per_layer" if a.trace else "end_to_end"]}
    classpath, jvm_opts = build()
    # a traced run of either workload probes the vector layers
    vec_inputs = gen.ensure("vectors", a.seed, CACHE_DIR) \
        if a.workload == "ann_serve" or a.trace else None
    inputs = gen.ensure("catalog", a.seed, CACHE_DIR) \
        if a.workload == "catalog" else vec_inputs
    work = os.path.join(WORK_DIR, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result, rss = run_harness(classpath, jvm_opts, a.workload, inputs,
                                  vec_inputs or inputs, a.seconds, a.trace, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    chk = Checker()
    values, detail = METRICS[a.workload](result, inputs, chk)
    if vec_inputs:
        check_writes(result, vec_inputs, chk)
    scale = REF_MS / median(result["ref_ms"])
    for k, (v, unit) in values.items():
        if k in SCALED:
            values[k] = (v * scale ** ALPHA, unit)
    # CPU per operation rather than per run: ann_serve's timed phase is a
    # fixed window, whose CPU-seconds fall when other guests steal CPU
    in_window = [o for o in result["ops"] if not o.get("untraced") and o["kind"] != "store_read"]
    values["cpu_ms_per_op"] = (result["cpu_s"] * 1e3 / max(1, len(in_window)), "ms")
    values["live_mem_mb"] = (result["live_mb"], "MB")
    detail["p50_ms"] = {k: median([o["ms"] for o in timed_ops(result, k)])
                        for k in sorted({o["kind"] for o in in_window})}
    if a.trace:
        values = layers.per_layer(result, a.workload)
        os.makedirs(os.path.join(HERE, ".out"), exist_ok=True)
        spans = os.path.join(HERE, ".out", f"spans-{a.workload}-{a.seed}.jsonl")
        layers.write_spans(result, spans)
    got = {k: u for k, (_, u) in values.items()}
    if got != wanted:
        fail(f"metrics {sorted(got.items())} differ from BENCHMARK.json's "
             f"{sorted(wanted.items())}")
    for r in chk.reasons:
        print(f"perfbench: check failed: {r}", file=sys.stderr)
    # figures behind the metrics: unscaled p50 per kind of operation,
    # recall, the catalog's seconds per query family
    print(json.dumps({"detail": detail}))
    # the host's state next to the result, so a contended run shows as one
    print(json.dumps({"host": dict(result["host"], steal_pct=result["steal_pct"],
                                   ref_ms=median(result["ref_ms"]), scale=scale,
                                   rss_peak_mb=rss,
                                   wall_s=result["wall_s"], cpu_s=result["cpu_s"],
                                   phases_s=result["phases"])}))
    line = {"correct": chk.failed == 0, "attempted": chk.attempted,
            "failed": chk.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()}}
    print(json.dumps(line))
    sys.exit(0 if chk.failed == 0 else 1)


if __name__ == "__main__":
    main()
