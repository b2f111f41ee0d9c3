#!/usr/bin/env python3
"""Plan parity between two `graft.PlanCheck --formatted` dumps. Usage:
  python3 tools/plan_diff.py A_dir B_dir

Each directory holds the `<name>_<suffix>.txt` files that
`runMain graft.PlanCheck --formatted=<dir>/<suffix>` writes, one
explain("formatted") per query; the suffix is the one every file name in
the directory ends with. Before comparing, each plan is normalized for
what differs between two runs of the same code: expression ids
(`col#123L`), exchange `plan_id`s, RDD ids (`MapPartitionsRDD[87]`),
source line numbers (`Graph.scala:324`), the counter in lambda variable
names (`lambda x_3034`), lambda class names and object
hash codes (`Foo$$$Lambda$6255/0x…@676d182d`), the digits in temp
and scratch-dir paths, and the codegen-stage and query-stage ids that
adaptive execution numbers in stage-completion order. Lists every query whose normalized plan differs (with
its first differing line) or that only one side has, and exits 1 on any
difference; prints the number of equal plans and exits 0 otherwise.
"""
import os
import re
import sys

NORMALIZE = [
    (re.compile(r"#\d+L?\b"), "#N"),
    # the functions API numbers lambda variables from a JVM-wide counter
    (re.compile(r"(lambda \w+?)_\d+(?=#)"), r"\1_N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"(\w+\.scala):\d+"), r"\1:N"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+@[0-9a-f]+"), "$Lambda"),
    (re.compile(r"@[0-9a-f]{6,8}\b"), "@N"),
    # labels AQE hands out in stage-completion order: codegen stage ids
    # and query-stage ids
    (re.compile(r"\[codegen id : \d+\]"), "[codegen id : N]"),
    (re.compile(r"(QueryStage\n(?:Output \[\d+\]: .*\n)?Arguments: )\d+"), r"\1N"),
]
SCRATCH = re.compile(r"(?:/dev/shm|/tmp|/var/tmp)/[^\s,\]\)]*")


def normalize(text):
    for pat, rep in NORMALIZE:
        text = pat.sub(rep, text)
    return SCRATCH.sub(lambda m: re.sub(r"\d+", "N", m.group(0)), text)


def load(d):
    """{query name: plan text}, dropping the suffix shared by every file."""
    files = sorted(f for f in os.listdir(d) if f.endswith(".txt"))
    if not files:
        sys.exit(f"no .txt plans in {d}")
    suffix = os.path.commonprefix([f[::-1] for f in files])[::-1]
    suffix = suffix[suffix.index("_"):] if "_" in suffix else ".txt"
    return {f[:-len(suffix)]: open(os.path.join(d, f)).read() for f in files}


def main(dir_a, dir_b):
    a, b = load(dir_a), load(dir_b)
    n_diff = 0
    for k in sorted(a.keys() ^ b.keys()):
        print(f"ONLY IN {'A' if k in a else 'B'}: {k}")
        n_diff += 1
    common = sorted(a.keys() & b.keys())
    for k in common:
        la = normalize(a[k]).splitlines()
        lb = normalize(b[k]).splitlines()
        if la != lb:
            i = next((i for i, (x, y) in enumerate(zip(la, lb)) if x != y), min(len(la), len(lb)))
            print(f"DIFF {k} at line {i + 1}:")
            print(f"  A: {la[i] if i < len(la) else '<end>'}")
            print(f"  B: {lb[i] if i < len(lb) else '<end>'}")
            n_diff += 1
    print(f"== {len(common)} common queries, {n_diff} differences ==")
    return 1 if n_diff else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
