#!/usr/bin/env python3
"""Regression tests for the bench_diff gate's artifact parsing — run with
`python3 tools/test_bench_diff.py` from the repo root (part of the round
close-out; no framework so it runs anywhere the gate runs).

Since the warmup reports its fixture builds under warmup_fixtures (keyed
by fixture names, which are never query names), a case checks that none
of those entries reaches the per-query map either.

The load-bearing case (r13 verdict, What's wrong #2): a driver wrapper
whose parsed=null tail TRUNCATED a query's pass array but kept the
same-named warmup_corpus_state entry must NOT report the warmup seconds
as that query's time — BENCH_r12.json verbatim carried
warmup_corpus_state.dedup_pagerank = 22.08s, which the old scrape fed
into the gate as a 731x "improvement".
"""
import importlib.util
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
spec = importlib.util.spec_from_file_location(
    'bench_diff', os.path.join(ROOT, 'tools', 'bench_diff.py'))
bd = importlib.util.module_from_spec(spec)
spec.loader.exec_module(bd)

failures = []


def check(name, cond, detail=''):
    if cond:
        print(f'ok   {name}')
    else:
        failures.append(name)
        print(f'FAIL {name} {detail}')


def main():
    # 1) BENCH_r12.json verbatim: the tail holds pass arrays up to
    #    "failed":, then warmup maps that reuse query names. The scrape
    #    must recover only genuine query pairs.
    r12 = os.path.join(ROOT, 'BENCH_r12.json')
    if os.path.exists(r12):
        raw = json.load(open(r12))
        assert not isinstance((raw.get('parsed') or {}).get('queries'), dict), \
            'fixture drifted: expected no parsed queries map (tail-scrape path)'
        assert '"dedup_pagerank":22.0819' in raw['tail'], \
            'fixture drifted: warmup dedup_pagerank entry missing from tail'
        _, q = bd.load_queries(r12)
        check('r12: warmup-shadowed dedup_pagerank absent',
              'dedup_pagerank' not in q, f'got {q.get("dedup_pagerank")}')
        check('r12: recovered a real pass-array query set',
              len(q) > 10 and all(v < 20 for v in q.values()),
              f'n={len(q)} max={max(q.values()) if q else None}')
    else:
        print('skip r12 fixture (BENCH_r12.json not present)')

    # 2) synthetic wrapper: truncated passes + surviving warmup/gc maps.
    #    gc_spikes values (GC seconds, ADVICE r13) and warmup entries must
    #    both be invisible; the "queries" summary and pass arrays win.
    tail = ('"queries":{"q_alpha":1.2300,"q_beta":0.5000},'
            '"passes":{"q_alpha":[1.2300,1.4000],"q_beta":[0.5000]},'
            '"failed":[],"warmup_s":9.9,'
            '"warmup_corpus_state":{"q_gamma":22.0000,"q_alpha":18.0000},'
            '"gc_spikes":{"q_delta":3.1400},"load_avg_start":0.5')
    tmp = os.path.join(ROOT, 'target', 'test_bench_diff_wrapper.json')
    os.makedirs(os.path.dirname(tmp), exist_ok=True)
    json.dump({'parsed': None, 'tail': tail}, open(tmp, 'w'))
    _, q = bd.load_queries(tmp)
    check('synthetic: summary + passes recovered',
          q.get('q_alpha') == 1.23 and q.get('q_beta') == 0.5, f'got {q}')
    check('synthetic: warmup entry q_gamma excluded', 'q_gamma' not in q)
    check('synthetic: gc_spikes entry q_delta excluded', 'q_delta' not in q)

    # 2b) the warmup_fixtures map (keyed by fixture name) next to the
    #     per-query maps: no fixture entry reaches the per-query map,
    #     neither behind the "failed": marker nor in a tail that was cut
    #     inside the fixtures map (so no marker precedes its entries)
    fixtures = ('"warmup_fixtures":{"cappedGroups":12.5000,"splitGrams8":3.2000,'
                '"pprFrame":9.1000,"hashedDocsMemo":1.4000}')
    head = ('"queries":{"q_alpha":1.2300,"q_beta":0.5000},'
            '"passes":{"q_alpha":[1.2300,1.4000],"q_beta":[0.5000]},'
            '"failed":[],"warmup_s":9.9,"warmup":{"fixtures":14.0000},')
    names = ('cappedGroups', 'splitGrams8', 'pprFrame', 'hashedDocsMemo', 'fixtures')
    for label, ftail, want in (
            ('full', head + fixtures + ',"load_avg_start":0.5',
             {'q_alpha': 1.23, 'q_beta': 0.5}),
            ('cut inside the map', fixtures[30:] + ',"gc_spikes":{},"load_avg_start":0.5', {})):
        json.dump({'parsed': None, 'tail': ftail}, open(tmp, 'w'))
        _, q = bd.load_queries(tmp)
        check(f'warmup_fixtures ({label}): no fixture entry in the per-query map',
              not any(n in q for n in names), f'got {q}')
        check(f'warmup_fixtures ({label}): exactly the real queries recovered',
              q == want, f'got {q}')

    # 3) the BENCH_r15.json shape: "parsed" is a summary dict without a
    #    "queries" map. The tail is scraped, the summary total is kept,
    #    and the message names what "parsed" held instead of "null".
    json.dump({'parsed': {'metric': 'total', 'value': 152.2, 'n_queries': 2},
               'tail': tail}, open(tmp, 'w'))
    r = subprocess.run([sys.executable, os.path.join(ROOT, 'tools', 'bench_diff.py'), tmp, tmp],
                       capture_output=True, text=True)
    check('r15 shape: message names the missing queries map',
          'parsed has no "queries" map (keys: metric, n_queries, value)' in r.stdout
          and 'parsed=null' not in r.stdout, r.stdout[:300])
    total, q = bd.load_queries(tmp)
    check('r15 shape: tail recovered, summary total kept',
          q.get('q_alpha') == 1.23 and total == 152.2, f'got {total} {q}')
    json.dump({'parsed': None, 'tail': tail}, open(tmp, 'w'))
    r = subprocess.run([sys.executable, os.path.join(ROOT, 'tools', 'bench_diff.py'), tmp, tmp],
                       capture_output=True, text=True)
    check('null parsed: message still says parsed=null', 'parsed=null' in r.stdout, r.stdout[:300])
    r15 = os.path.join(ROOT, 'BENCH_r15.json')
    if os.path.exists(r15):
        r = subprocess.run([sys.executable, os.path.join(ROOT, 'tools', 'bench_diff.py'), r15, r15],
                           capture_output=True, text=True)
        check('r15 fixture: no parsed=null claim', 'parsed=null' not in r.stdout
              and 'parsed has no "queries" map' in r.stdout, r.stdout[:300])

    # 4) flag parsing: a typo'd flag and a trailing valueless flag are
    #    usage errors (exit!=0 with a message), never silent or a traceback
    for argv in (['--remeasuredd', 'x.json', 'a', 'b'],
                 ['a', 'b', '--remeasured'],
                 ['a', 'b', '--threshold']):
        r = subprocess.run([sys.executable, os.path.join(ROOT, 'tools', 'bench_diff.py')] + argv,
                           capture_output=True, text=True)
        check(f'flags: {" ".join(argv)} rejected cleanly',
              r.returncode != 0 and 'Traceback' not in r.stderr,
              f'rc={r.returncode} stderr={r.stderr[:200]}')

    if failures:
        sys.exit(f'{len(failures)} failure(s): {failures}')
    print('all bench_diff tests passed')


if __name__ == '__main__':
    main()
