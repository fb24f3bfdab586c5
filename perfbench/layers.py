"""Per-layer metrics of a traced run, computed from the harness's spans.

Every span is named ``<layer>.<what>`` and carries the listener-counter
deltas (jobs, stages, tasks, task CPU, shuffle and output bytes, Catalyst
phase milliseconds) of the calls it wrapped. Per-operation figures are
medians over the workload's primary operation; a layer's self time is its
spans' time minus the time of their child spans. Every metric here is
measured on every workload: the layers a workload's loop does not reach
are probed at the end of each traced run (Workloads.layerProbes).
"""
import json
import statistics

import gen

# layers with a self-time metric; `queries` (the catalog's family spans)
# has no metric, as only the catalog reaches it
LAYERS = ("client", "operators", "exec", "sources", "caching", "ivf",
          "functions")
# the operation whose per-op figures each workload reports
PRIMARY = {"ann_serve": "ivf", "catalog": "catalog_query"}

METRICS = (
    [("operators.plan_build_ms", "ms"), ("catalyst.analysis_ms", "ms"),
     ("catalyst.optimization_ms", "ms"), ("catalyst.planning_ms", "ms"),
     ("scheduler.jobs_per_op", "count"), ("scheduler.stages_per_op", "count"),
     ("scheduler.tasks_per_op", "count"), ("exec.action_ms", "ms"),
     ("ivf.rows_scanned_per_query", "count"), ("ivf.useful_ratio", "ratio"),
     ("ivf.fit_ms", "ms"), ("ivf.fit_jobs", "count"), ("ivf.assign_ms", "ms"),
     ("functions.distance_pairs_per_s", "1/s"), ("executor.task_cpu_ms", "ms"),
     ("shuffle.read_bytes", "bytes"), ("shuffle.write_bytes", "bytes"),
     ("sources.snapshot_ms", "ms"), ("sources.index_write_ms", "ms"),
     ("sources.files_written", "count"), ("sources.bytes_written", "bytes"),
     ("sources.open_ms", "ms"), ("operators.merge_ms", "ms"),
     ("caching.cached_mb", "MB"), ("jvm.gc_ms", "ms")]
    + [("host.load_avg_start", "load"), ("host.load_avg_end", "load"),
       ("host.cpus", "count"), ("host.steal_pct", "%"), ("host.ref_ms", "ms")]
    + [(f"self_ms.{layer}", "ms") for layer in LAYERS]
    + [("trace.overhead_pct", "%")])


def _ms(span):
    return (span["end_ns"] - span["start_ns"]) / 1e6


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def self_times(spans):
    """Self milliseconds per layer: each span's duration minus the part
    its children cover (the client is single-threaded, so children never
    overlap each other)."""
    child = {}
    for s in spans:
        if s["parent"] >= 0:
            child[s["parent"]] = child.get(s["parent"], 0.0) + _ms(s)
    out = {}
    for s in spans:
        layer = s["name"].split(".", 1)[0]
        out[layer] = out.get(layer, 0.0) + _ms(s) - child.get(s["id"], 0.0)
    return out


def family_seconds(result):
    """The catalog's cold pass per query family: seconds, and in a traced
    run the Catalyst milliseconds and jobs of its queries."""
    roots = {s["op"]: s for s in result.get("spans", []) if s["name"] == "client.catalog_query"}
    out = {}
    for o in result["ops"]:
        if o.get("pass") != 0 or o.get("untraced"):
            continue
        f = out.setdefault(o["family"], {"s": 0.0})
        f["s"] += o["ms"] / 1e3
        c = roots.get(o["op"], {}).get("counters")
        if c:
            f["catalyst_ms"] = f.get("catalyst_ms", 0) + (
                c["analysis_ms"] + c["optimization_ms"] + c["planning_ms"])
            f["jobs"] = f.get("jobs", 0) + c["jobs"]
    return out


def per_layer(result, workload):
    """All per-layer metrics as {name: (value, unit)}."""
    spans = result.get("spans", [])
    extra = result.get("extra", {})
    kind = PRIMARY[workload]
    roots = {s["op"]: s for s in spans if s["name"] == f"client.{kind}"}
    ops = [o for o in result["ops"] if o["kind"] == kind]
    traced = [o for o in ops if not o.get("untraced")]
    untraced = [o for o in ops if o.get("untraced")]

    def per_op(name):
        """median over primary ops of the summed time of spans `name`"""
        sums = {op: 0.0 for op in roots}
        for s in spans:
            if s["name"] == name and s["op"] in sums:
                sums[s["op"]] += _ms(s)
        return _median(list(sums.values()))

    def counter(key, scale=1.0):
        return _median([r["counters"][key] * scale for r in roots.values()])

    def mean_counter(key):
        """mean, not median: Spark times Catalyst phases in whole
        milliseconds, and a median of those reads the same in every run"""
        xs = [r["counters"][key] for r in roots.values()]
        return statistics.fmean(xs) if xs else 0.0

    def spans_ms(name):
        return _median([_ms(s) for s in spans if s["name"] == name])

    v = {name: 0.0 for name, _ in METRICS}
    v["operators.plan_build_ms"] = per_op("operators.plan_build")
    v["exec.action_ms"] = per_op("exec.action")
    v["catalyst.analysis_ms"] = mean_counter("analysis_ms")
    v["catalyst.optimization_ms"] = mean_counter("optimization_ms")
    v["catalyst.planning_ms"] = mean_counter("planning_ms")
    v["scheduler.jobs_per_op"] = counter("jobs")
    v["scheduler.stages_per_op"] = counter("stages")
    v["scheduler.tasks_per_op"] = counter("tasks")
    v["executor.task_cpu_ms"] = counter("task_cpu_ns", 1e-6)
    v["shuffle.read_bytes"] = counter("shuffle_read_bytes")
    v["shuffle.write_bytes"] = counter("shuffle_write_bytes")
    if extra.get("rows_scanned_per_query"):
        v["ivf.rows_scanned_per_query"] = extra["rows_scanned_per_query"]
        v["ivf.useful_ratio"] = gen.K / extra["rows_scanned_per_query"]
    fits = [s for s in spans if s["name"] == "ivf.fit"]
    v["ivf.fit_ms"] = _median([_ms(s) for s in fits])
    v["ivf.fit_jobs"] = _median([s["counters"]["jobs"] for s in fits])
    v["ivf.assign_ms"] = spans_ms("ivf.assign")
    v["functions.distance_pairs_per_s"] = extra.get("distance_pairs_per_s", 0.0)
    v["sources.snapshot_ms"] = spans_ms("sources.snapshot")
    v["sources.index_write_ms"] = spans_ms("sources.index_write")
    v["sources.open_ms"] = spans_ms("sources.open")
    v["operators.merge_ms"] = spans_ms("operators.merge")
    v["sources.files_written"] = extra.get("files_written", 0)
    v["sources.bytes_written"] = extra.get("bytes_written", 0)
    v["caching.cached_mb"] = extra.get("cached_mb", 0.0)
    v["jvm.gc_ms"] = result.get("gc_s", 0.0) * 1e3

    host = result.get("host", {})
    v["host.load_avg_start"] = host.get("load_avg_start", 0.0)
    v["host.load_avg_end"] = host.get("load_avg_end", 0.0)
    v["host.cpus"] = host.get("cpus", 0)
    v["host.steal_pct"] = result.get("steal_pct", 0.0)
    v["host.ref_ms"] = _median(result.get("ref_ms", []))
    for layer, ms in self_times(spans).items():
        if f"self_ms.{layer}" in v:
            v[f"self_ms.{layer}"] = ms
    # the untraced loop follows the traced one, so compare it with the
    # traced loop's last operations, which ran just as warm
    t = _median([o["ms"] for o in traced[-len(untraced):]] if untraced else [])
    u = _median([o["ms"] for o in untraced])
    if t and u:
        v["trace.overhead_pct"] = 100.0 * (t - u) / u
    units = dict(METRICS)
    return {name: (value, units[name]) for name, value in v.items()}


def write_spans(result, path):
    """Spans as JSON lines, then one line of self time per layer."""
    spans = result.get("spans", [])
    with open(path, "w") as f:
        for s in spans:
            f.write(json.dumps(s) + "\n")
        f.write(json.dumps({"self_ms": self_times(spans)}) + "\n")
