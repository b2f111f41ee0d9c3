#!/usr/bin/env python3
"""Oracle parity check between two Verify dumps. Usage:
  python3 tools/oracle_diff.py A/oracle_sql.json B/oracle_sql.json

Compares the two key sets, then each oracle string after collapsing
runs of whitespace (indentation and line breaks carry no meaning to
DuckDB, so a refactor that re-flows the SQL text still counts as equal).
Lists every difference and exits 1 on any; prints the number of equal
strings and exits 0 otherwise.
"""
import json
import re
import sys


def norm(sql):
    return re.sub(r"\s+", " ", sql).strip()


def first_diff(a, b):
    i = next((i for i, (x, y) in enumerate(zip(a, b)) if x != y), min(len(a), len(b)))
    lo = max(0, i - 60)
    return i, a[lo:i + 60], b[lo:i + 60]


def main(path_a, path_b):
    a = json.load(open(path_a))
    b = json.load(open(path_b))
    n_diff = 0
    for k in sorted(a.keys() - b.keys()):
        print(f"ONLY IN A: {k}")
        n_diff += 1
    for k in sorted(b.keys() - a.keys()):
        print(f"ONLY IN B: {k}")
        n_diff += 1
    common = sorted(a.keys() & b.keys())
    for k in common:
        na, nb = norm(a[k]), norm(b[k])
        if na != nb:
            i, ca, cb = first_diff(na, nb)
            print(f"DIFF {k} at char {i}:")
            print(f"  A: ...{ca}...")
            print(f"  B: ...{cb}...")
            n_diff += 1
    print(f"== {len(common)} common keys, {n_diff} differences ==")
    return 1 if n_diff else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
