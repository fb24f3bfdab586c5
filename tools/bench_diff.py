#!/usr/bin/env python3
"""Round-over-round bench comparison: per-query wall-time diff between two
bench artifacts, so regressions are machine-checked instead of eyeballed.

Usage: python3 tools/bench_diff.py <old> <new> [--threshold 1.5]
                                   [--remeasured isolation.json]

This IS the round close-out gate (SURVEY §"close-out checklist"): it
exits 1 when any query's min-of-passes regresses >threshold vs the
previous committed artifact, so a dirty measurement record cannot ship
silently. The escape hatch for host-noise stalls is an ISOLATION
re-measure: re-run the flagged queries solo
(`sbt "runMain graft.Bench <q1> <q2>"`, which rewrites
target/bench.json with just those queries), pass that file via
--remeasured, and a flagged regression is WAIVED iff its solo time is
back inside the threshold — the waiver is printed so the round notes
can record the isolation numbers, making the noise claim
self-contained in the artifact trail.

Accepts any of the three artifact shapes that exist in this repo:
  - the bare bench JSON line Bench.scala prints (and writes to
    target/bench.json): {"metric":"total",...,"queries":{name:sec,...}}
  - the driver's BENCH_rN.json wrapper with a non-null "parsed" field
  - the driver wrapper whose "parsed" is null, or a summary with no
    "queries" map (BENCH_r15.json): per-query times are scraped from
    the truncated "tail" string (pairs it cut off are skipped — the
    tool says what it found in "parsed" and how many names it
    recovered)

Prints total/count deltas, the worst regressions above the threshold,
the best improvements, and queries present on one side only.
"""
import json, re, sys


def load_queries(path):
    with open(path) as f:
        raw = f.read()
    if not raw.lstrip().startswith('{'):
        # raw sbt log capture: find the bench JSON line behind its prefix
        i = raw.find('{"metric"')
        if i < 0:
            sys.exit(f'{path}: no bench JSON found (expected a line '
                     'containing {"metric"...} or a plain JSON file)')
        # parse from the match onward; trailing log lines after the JSON
        # object are tolerated via raw_decode
        d, _ = json.JSONDecoder().raw_decode(raw[i:])
        return d.get('value'), d.get('queries', {})
    d = json.loads(raw)
    if 'queries' in d and isinstance(d['queries'], dict):
        return d.get('value'), d['queries']
    p = d.get('parsed')
    if isinstance(p, dict) and isinstance(p.get('queries'), dict):
        return p.get('value'), p['queries']
    # driver wrapper with no per-query map in "parsed" (null, or a
    # summary without "queries"): scrape the truncated tail. Match
    # both the summary form "name":1.23 and the passes form
    # "name":[1.2,0.9] (taking the min, same as the summary).
    #
    # Per-query times live ONLY in the "queries":{...} summary and the
    # "passes":{...} arrays, which Bench prints BEFORE the run metadata.
    # Everything from "failed": onward — warmup_fixtures, warmup_jit,
    # gc_spikes — is a map of non-query values; gc_spikes and the old
    # artifacts' warmup_corpus_state key them by query name (BENCH_r12.json's
    # tail fed warmup_corpus_state.dedup_pagerank = 22.08s into the gate as
    # a query time). Cut the tail at the first metadata marker so
    # those maps can never shadow a truncated query. warmup_fixtures keys
    # are fixture names (camelCase, never a query's), so the name pattern
    # below skips them even in a tail cut inside that map.
    tail = d.get('tail', '')
    for marker in ('"failed":', '"warmup', '"gc_spikes"', '"load_avg'):
        j = tail.find(marker)
        if j >= 0:
            tail = tail[:j]
    q = {}
    for m in re.finditer(r'"([a-z0-9_]+)":(\d+\.\d+)', tail):
        q.setdefault(m.group(1), float(m.group(2)))
    for m in re.finditer(r'"([a-z0-9_]+)":\[([\d.,]+)\]', tail):
        q.setdefault(m.group(1), min(float(x) for x in m.group(2).split(',')))
    for k in ('metric', 'value', 'sf', 'warmup_s', 'tables', 'codegen_jit',
              'mllib_jit', 'text_kernel_jit', 'lsh_pipeline_jit',
              'load_avg_start', 'load_avg_end', 'cpus', 'n_queries',
              'queries_wall_s', 'queries_cpu_s', 'queries_gc_s'):
        q.pop(k, None)
    print(f'[{path}] {describe_parsed(p)}: recovered {len(q)} query times from tail')
    return (p.get('value') if isinstance(p, dict) else None), q


def describe_parsed(p):
    """What a wrapper's "parsed" field held, when it has no queries map."""
    if p is None:
        return 'parsed=null'
    if isinstance(p, dict):
        return f'parsed has no "queries" map (keys: {", ".join(sorted(p)) or "none"})'
    return f'parsed is a {type(p).__name__}, not a summary'



def main():
    thr = 1.5
    remeasured_path = None
    args = []
    argv = sys.argv[1:]
    i = 0
    while i < len(argv):
        a = argv[i]
        # exact flag names only (a typo'd --remeasuredd must be an error,
        # not silently consumed), and a trailing flag with no value is a
        # usage error, not an IndexError
        if a == '--threshold' or a.startswith('--threshold='):
            if '=' in a:
                thr = float(a.split('=', 1)[1])
            elif i + 1 < len(argv):
                thr = float(argv[i + 1])
                i += 1  # consume the value so it never lands in args
            else:
                sys.exit('usage: --threshold requires a value')
        elif a == '--remeasured' or a.startswith('--remeasured='):
            if '=' in a:
                remeasured_path = a.split('=', 1)[1]
            elif i + 1 < len(argv):
                remeasured_path = argv[i + 1]
                i += 1
            else:
                sys.exit('usage: --remeasured requires a file path')
        elif a.startswith('--'):
            sys.exit(f'unknown flag {a} (expected --threshold or --remeasured)')
        else:
            args.append(a)
        i += 1
    if len(args) != 2:
        sys.exit(f'usage: bench_diff.py <old> <new> [--threshold N] (got {args})')
    old_path, new_path = args
    old_total, old = load_queries(old_path)
    new_total, new = load_queries(new_path)

    common = sorted(set(old) & set(new))
    print(f'old: {len(old)} queries' + (f', total {old_total:.1f}s' if old_total is not None else ''))
    print(f'new: {len(new)} queries' + (f', total {new_total:.1f}s' if new_total is not None else ''))
    if common:
        so, sn = sum(old[q] for q in common), sum(new[q] for q in common)
        print(f'common set ({len(common)}): {so:.1f}s -> {sn:.1f}s ({sn / so:.2f}x)')

    regress = [(new[q] / old[q], q) for q in common
               if new[q] > old[q] * thr and new[q] - old[q] > 0.05]
    if remeasured_path and regress:
        # isolation escape hatch: a flagged regression is waived iff its
        # SOLO re-measure is back inside the threshold (host-noise stalls
        # land on a different query each run and vanish in isolation;
        # real regressions reproduce solo)
        _, solo = load_queries(remeasured_path)
        waived = [(r, q) for (r, q) in regress
                  if q in solo and not (solo[q] > old[q] * thr
                                        and solo[q] - old[q] > 0.05)]
        for r, q in sorted(waived, reverse=True):
            print(f'-- WAIVED by isolation re-measure: {q}: committed '
                  f'{new[q]:.2f}s ({r:.1f}x of {old[q]:.2f}s), solo {solo[q]:.2f}s')
        regress = [x for x in regress if x not in waived]
    improve = [(old[q] / new[q], q) for q in common
               if old[q] > new[q] * thr and old[q] - new[q] > 0.05]
    for title, rows in ((f'regressions >{thr}x', sorted(regress, reverse=True)),
                        (f'improvements >{thr}x', sorted(improve, reverse=True))):
        print(f'-- {title}: {len(rows)}')
        for ratio, q in rows[:15]:
            print(f'   {q}: {old[q]:.2f}s -> {new[q]:.2f}s ({ratio:.1f}x)')
    only_old = sorted(set(old) - set(new))
    only_new = sorted(set(new) - set(old))
    if only_old:
        print(f'-- removed ({len(only_old)}): {" ".join(only_old)}')
    if only_new:
        print(f'-- added ({len(only_new)}): {" ".join(only_new)}')
    sys.exit(1 if regress else 0)


if __name__ == '__main__':
    main()
