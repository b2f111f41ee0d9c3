#!/usr/bin/env python3
"""Repeated oracle text across the query registries. Usage:
  python3 tools/oracle_repeats.py [queries_dir] [-v]

Scans every `*.scala` file of `queries_dir` (default
src/main/scala/graft/queries) for margin lines, the lines whose first
non-blank character is `|`, i.e. the body lines of oracle SQL literals.
Each run of consecutive margin lines is cut into windows of 4 lines,
with the bar dropped and whitespace runs collapsed. A window whose text
already occurred earlier in the scan (files in name order, lines in
file order, across all files) marks its 4 lines as repeated. Prints the
number of repeated lines per file (with -v, also each repeated window's
first line) and exits 1 on any repeat, 0 when every window is unique.
"""
import glob
import os
import re
import sys

WINDOW = 4


def margin_runs(lines):
    """Runs of consecutive margin lines as [(line_no, normalized text)]."""
    run = []
    for no, line in enumerate(lines, 1):
        s = line.strip()
        if s.startswith("|"):
            run.append((no, re.sub(r"\s+", " ", s[1:]).strip()))
        elif run:
            yield run
            run = []
    if run:
        yield run


def main(root, verbose):
    seen = {}
    total = 0
    for path in sorted(glob.glob(os.path.join(root, "*.scala"))):
        name = os.path.basename(path)
        repeated = set()
        for run in margin_runs(open(path).read().split("\n")):
            for j in range(len(run) - WINDOW + 1):
                win = run[j:j + WINDOW]
                key = tuple(t for _, t in win)
                if key in seen:
                    if verbose and win[0][0] not in repeated:
                        print(f"  {name}:{win[0][0]} repeats {seen[key]}: {key[0]}")
                    repeated.update(no for no, _ in win)
                else:
                    seen[key] = f"{name}:{win[0][0]}"
        if repeated:
            print(f"{name}: {len(repeated)} repeated lines")
        total += len(repeated)
    print(f"== {total} repeated oracle lines ==")
    return 1 if total else 0


if __name__ == "__main__":
    args = [a for a in sys.argv[1:] if a != "-v"]
    if len(args) > 1:
        sys.exit(__doc__)
    sys.exit(main(args[0] if args else "src/main/scala/graft/queries", "-v" in sys.argv[1:]))
