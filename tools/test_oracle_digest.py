#!/usr/bin/env python3
"""Tests for tools/oracle_digest.py — run with
`python3 tools/test_oracle_digest.py` from the repo root (no framework)."""
import contextlib
import importlib.util
import io
import json
import os
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
spec = importlib.util.spec_from_file_location(
    'oracle_digest', os.path.join(ROOT, 'tools', 'oracle_digest.py'))
od = importlib.util.module_from_spec(spec)
spec.loader.exec_module(od)

failures = []


def check(name, cond):
    print(('ok   ' if cond else 'FAIL ') + name)
    if not cond:
        failures.append(name)


# key order does not matter: both digests read the key-sorted JSON
a = {'b_query': 'SELECT 2', 'a_query': 'SELECT 1'}
b = {'a_query': 'SELECT 1', 'b_query': 'SELECT 2'}
check('key order does not matter', od.digests(a) == od.digests(b))

# whitespace inside a quoted literal is kept: it is data, not layout
lit1 = {'q': "SELECT regexp_split_to_array(text, '\\s+  x') FROM t"}
lit2 = {'q': "SELECT regexp_split_to_array(text, '\\s+ x') FROM t"}
check('whitespace inside a quoted literal is kept',
      od.normalize(lit1['q']) != od.normalize(lit2['q'])
      and od.digests(lit1)[1] != od.digests(lit2)[1]
      and "'it''s  here'" in od.normalize("SELECT 'it''s  here'"))

# whitespace outside literals collapses: line breaks and indentation move freely
w1 = {'q': "WITH c AS (SELECT 1),\n  d AS (SELECT ' a  b ' AS s)\nSELECT * FROM d"}
w2 = {'q': "WITH c AS (SELECT 1), d AS (SELECT ' a  b ' AS s)   SELECT\t* FROM d"}
check('whitespace outside literals collapses',
      od.normalize(w1['q']) == od.normalize(w2['q'])
      and od.digests(w1)[1] == od.digests(w2)[1]
      and od.digests(w1)[0] != od.digests(w2)[0])

# two dumps: exit 0 when only layout moved, else 1 naming each differing query
with tempfile.TemporaryDirectory() as d:
    def dump(name, oracle):
        path = os.path.join(d, name)
        with open(path, 'w') as f:
            json.dump(oracle, f)
        return path
    base = dump('a.json', {'q1': w1['q'], 'q2': 'SELECT 1'})
    moved = dump('b.json', {'q1': w2['q'], 'q2': 'SELECT  1'})
    edited = dump('c.json', {'q1': w2['q'], 'q2': 'SELECT 2'})
    with contextlib.redirect_stdout(io.StringIO()) as out:
        same, differ = od.main(['x', moved, base]), od.main(['x', edited, base])
    check('two dumps: layout passes, an edit fails and is named',
          same == 0 and differ == 1 and 'DIFFERS q2' in out.getvalue()
          and 'DIFFERS q1' not in out.getvalue())

print(f'{len(failures)} failure(s)')
sys.exit(1 if failures else 0)
