#!/usr/bin/env python3
"""Digest of a Verify dump's oracle_sql.json: tells whether a change left
the DuckDB oracle alone.

Usage: python3 tools/oracle_digest.py <oracle_sql.json> [<other oracle_sql.json>]

Prints two sha256 values:
  raw         over the key-sorted JSON (json.dumps(sort_keys=True,
              ensure_ascii=False)); any byte change in any oracle moves it
  normalized  over the same JSON after normalize() of every oracle text:
              each run of whitespace outside single-quoted SQL literals
              becomes one space, so moving line breaks or indentation
              keeps it, and any other edit moves it

With a second file it also lists the names whose normalized texts differ
and exits 1 if there is any (a name present on one side only counts).
"""
import hashlib
import json
import sys


def normalize(sql):
    """Collapse each whitespace run outside '...' literals to one space.
    A doubled '' inside a literal closes and reopens it, which leaves
    the literal's whitespace untouched, as it should."""
    out = []
    quoted = False
    space = False
    for ch in sql:
        if not quoted and ch.isspace():
            space = True
            continue
        if space:
            out.append(' ')
            space = False
        if ch == "'":
            quoted = not quoted
        out.append(ch)
    if space:
        out.append(' ')
    return ''.join(out)


def digest(oracle):
    return hashlib.sha256(json.dumps(oracle, sort_keys=True, ensure_ascii=False)
                          .encode('utf-8')).hexdigest()


def digests(oracle):
    return digest(oracle), digest({k: normalize(v) for k, v in oracle.items()})


def main(argv):
    if len(argv) not in (2, 3):
        print('usage: oracle_digest.py <oracle_sql.json> [<other oracle_sql.json>]',
              file=sys.stderr)
        return 2
    oracles = []
    for path in argv[1:]:
        with open(path, encoding='utf-8') as f:
            oracles.append(json.load(f))
    raw, norm = digests(oracles[0])
    print(f'raw        {raw}')
    print(f'normalized {norm}')
    print(f'names      {len(oracles[0])}')
    if len(oracles) == 1:
        return 0
    a, b = oracles
    differ = sorted(n for n in a.keys() | b.keys()
                    if n not in a or n not in b or normalize(a[n]) != normalize(b[n]))
    same = sum(1 for n in a.keys() & b.keys() if a[n] == b[n])
    print(f'byte-identical {same} of {len(a.keys() & b.keys())} shared names')
    for n in differ:
        print(f'DIFFERS {n}')
    print(f'normalized differences: {len(differ)}')
    return 1 if differ else 0


if __name__ == '__main__':
    sys.exit(main(sys.argv))
