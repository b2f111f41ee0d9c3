"""Pure helpers that turn a run record (written by `perfbench.Main`) into
the benchmark's end-to-end and per-layer metrics. No I/O here, so every
rule is unit-tested in `perfbench/tests`."""

import statistics
from collections import defaultdict

TAIL_BEYOND = 10


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail_index(n, beyond=TAIL_BEYOND):
    """Index (0-based, ascending order) of the highest order statistic
    that still has at least `beyond` samples above it, or None when
    there are `beyond` or fewer samples and no such statistic exists."""
    if n <= 0:
        raise ValueError("no samples")
    return n - 1 - beyond if n > beyond else None


def tail_value(xs, beyond=TAIL_BEYOND):
    """(value, rank, n): the tail order statistic, its 1-based rank and
    the sample count, so a reader knows which percentile it is. Value
    and rank are None when the samples have no tail by this rule."""
    s = sorted(xs)
    i = tail_index(len(s), beyond)
    return (None, None, len(s)) if i is None else (s[i], i + 1, len(s))


def by_kind(ops):
    kinds = defaultdict(list)
    for o in ops:
        kinds[o["op"]].append(o["s"])
    return kinds


def op_p50(ops):
    """Median latency of a typical operation: the mean over operation
    kinds of each kind's median. A plain median of a mix of kinds sits
    on the boundary between two kinds and misses a change in the
    slowest; a geometric mean gives the short, noisy kinds as much
    weight as the long ones."""
    meds = [median(v) for v in by_kind(ops).values()]
    return sum(meds) / len(meds)


def op_tail(ops, beyond=TAIL_BEYOND):
    """Tail latency of a typical operation: latencies are divided by
    their kind's median, the tail rule is applied to the pooled ratios,
    and the ratio is scaled back by `op_p50`. With one kind this is
    exactly the tail order statistic. Returns (value, rank, n); value
    and rank are None without a tail."""
    kinds = by_kind(ops)
    ratios = [x / median(v) for v in kinds.values() for x in v]
    r, rank, n = tail_value(ratios, beyond)
    return (None if r is None else r * op_p50(ops)), rank, n


def pass_table(ops, ops_per_pass):
    """{pass number: (wall time, traced)} of every complete pass (all of
    its operations ran)."""
    per = defaultdict(list)
    for o in ops:
        per[o["pass"]].append(o)
    return {p: (sum(o["s"] for o in v), v[0]["traced"])
            for p, v in sorted(per.items()) if len(v) == ops_per_pass}


def passes(ops, ops_per_pass):
    """Wall time of every complete pass."""
    return [t for t, _ in pass_table(ops, ops_per_pass).values()]


def trace_overhead(ops, ops_per_pass):
    """Median, over traced passes, of the pass time divided by the mean
    of its untraced neighbours, minus 1. Traced runs alternate untraced
    and traced passes; comparing neighbours cancels the JVM's warm-up
    trend, which would otherwise favour the later, traced passes."""
    table = pass_table(ops, ops_per_pass)
    ratios = []
    for p, (t, traced) in table.items():
        near = [table[q][0] for q in (p - 1, p + 1) if q in table and not table[q][1]]
        if traced and near:
            ratios.append(t / (sum(near) / len(near)))
    return median(ratios) - 1.0 if ratios else 0.0


def span_self_times(spans):
    """Self time of every span in seconds: its duration minus the
    durations of its direct children. Returns {span id: seconds}."""
    dur = {s["id"]: (s["end_ns"] - s["start_ns"]) / 1e9 for s in spans}
    child = defaultdict(float)
    for s in spans:
        if s["parent"] >= 0:
            child[s["parent"]] += dur[s["id"]]
    return {i: d - child[i] for i, d in dur.items()}


def span_summary(spans):
    """{span name: (count, total self seconds)}."""
    selfs = span_self_times(spans)
    out = defaultdict(lambda: [0, 0.0])
    for s in spans:
        out[s["name"]][0] += 1
        out[s["name"]][1] += selfs[s["id"]]
    return {k: tuple(v) for k, v in out.items()}


def quartile_spread(values):
    """Distance between the first and third quartile as a share of the
    median (the steadiness rule the benchmark is held to)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def verdict(record):
    """(attempted, failed): timed operations, and those that raised,
    returned a wrong result or leaked a cache entry, plus every failed
    output check."""
    ops = record["ops"]
    failed = sum(1 for o in ops if not o["ok"])
    failed += sum(1 for c in record["checks"] if not c["ok"])
    return len(ops), failed


def end_to_end(record):
    """{name: (value, unit)} for the untraced run, plus the tail latency
    with its rank and n for the detail line. The tail is not a metric:
    a run of the benchmark's length has too few operations for the rule
    to find one."""
    ops = record["ops"]
    ps = passes(ops, record["ops_per_pass"])
    tail, rank, n = op_tail(ops)
    busy = sum(o["s"] for o in ops)
    metrics = {
        "setup_s": (median(record["setup_s"]), "s"),
        "pass_s": (median(ps), "s"),
        "op_p50_s": (op_p50(ops), "s"),
        "ops_per_s": (len(ops) / busy, "1/s"),
        "rows_per_s": (record["rows_per_pass"] * len(ps) / sum(ps), "rows/s"),
        "heap_retained_mb": (record["heap_retained_mb"], "MB"),
    }
    return metrics, {"tail_s": tail, "tail_rank": rank, "tail_n": n}


OPERATOR_OPS = {
    "operators.topk_s": "q1_top5",
    "operators.assoc_join_s": "q3_rules_join",
    "operators.assoc_gen_s": "q3_rules_gen",
}

PER_LAYER_UNITS = {
    "sources.parse_s": "s", "sources.gen_s": "s",
    "plan.analysis_ms": "ms", "plan.optimization_ms": "ms", "plan.planning_ms": "ms",
    "codegen.compile_ms": "ms", "codegen.classes": "count",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.task_failures": "count", "sched.empty_task_frac": "frac",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s", "exec.busy_frac": "frac",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.records": "count",
    "shuffle.fetch_wait_s": "s", "spill.mb": "MB",
    "operators.topk_s": "s", "operators.assoc_join_s": "s", "operators.assoc_gen_s": "s",
    "operators.assoc_pair_rows": "count",
    "caching.release_s": "s", "caching.pending_after_release": "count",
    "stream.trigger_ms": "ms", "stream.add_batch_ms": "ms", "stream.planning_ms": "ms",
    "stream.wal_commit_ms": "ms", "stream.state_commit_ms": "ms",
    "stream.state_rows": "count", "stream.state_mb": "MB",
    "jvm.gc_s": "s", "jvm.jit_ms": "ms",
    "trace.overhead_frac": "frac",
}


def per_layer(record):
    """{name: (value, unit)} for a traced run. Counters are per traced
    operation; a layer the workload does not exercise reads 0."""
    cs = record["op_counters"]
    n = max(1, len(cs))

    def per_op(key, scale=1.0):
        return sum(c.get(key, 0.0) for c in cs) * scale / n

    def total(key):
        return sum(c.get(key, 0.0) for c in cs)

    v = {
        "sources.parse_s": record["splits"].get("sources.parse_s", 0.0),
        "sources.gen_s": median(record["gen_s"]),
        "plan.analysis_ms": per_op("analysis_ms"),
        "plan.optimization_ms": per_op("optimization_ms"),
        "plan.planning_ms": per_op("planning_ms"),
        "codegen.compile_ms": per_op("codegen_compile_ms"),
        "codegen.classes": per_op("codegen_classes"),
        "sched.jobs": per_op("jobs"),
        "sched.stages": per_op("stages"),
        "sched.tasks": per_op("tasks"),
        "sched.task_failures": per_op("task_failures"),
        "sched.empty_task_frac": total("empty_tasks") / max(1.0, total("tasks")),
        "exec.run_s": per_op("run_ms", 1e-3),
        "exec.cpu_s": per_op("cpu_ns", 1e-9),
        "exec.gc_s": per_op("gc_ms", 1e-3),
        "exec.busy_frac": total("run_ms") / 1e3 / max(1e-9, total("wall_s") * record["cpus"]),
        "shuffle.write_mb": per_op("shuffle_write_bytes", 1e-6),
        "shuffle.read_mb": per_op("shuffle_read_bytes", 1e-6),
        "shuffle.records": per_op("shuffle_records"),
        "shuffle.fetch_wait_s": per_op("fetch_wait_ms", 1e-3),
        "spill.mb": per_op("spill_bytes", 1e-6),
        "jvm.gc_s": per_op("jvm_gc_ms", 1e-3),
        "jvm.jit_ms": per_op("jvm_jit_ms"),
        "caching.pending_after_release": max((c.get("pending_after_release", 0.0) for c in cs),
                                             default=0.0),
    }
    for name, op in OPERATOR_OPS.items():
        v[name] = median([c["wall_s"] for c in cs if c["op"] == op])
    v["operators.assoc_pair_rows"] = record["facts"].get("operators.assoc_pair_rows", 0.0)

    spans = record["spans"]
    selfs = span_self_times(spans)
    v["caching.release_s"] = median([selfs[s["id"]] for s in spans if s["name"] == "release"])

    prog = record["stream_progress"]
    for key in ("trigger_ms", "add_batch_ms", "planning_ms", "wal_commit_ms", "state_commit_ms"):
        v["stream." + key] = median([p[key] for p in prog])
    last = {}
    for p in prog:
        last[p["query"]] = p
    v["stream.state_rows"] = sum(p["state_rows"] for p in last.values())
    v["stream.state_mb"] = sum(p["state_bytes"] for p in last.values()) / 1e6

    v["trace.overhead_frac"] = trace_overhead(record["ops"], record["ops_per_pass"])
    return {k: (v[k], PER_LAYER_UNITS[k]) for k in PER_LAYER_UNITS}
