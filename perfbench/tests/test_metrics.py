"""Tests of the benchmark's pure helpers, plus the JVM self-test when the
benchmark jar is already built.

    python3 -m unittest discover -s perfbench/tests
"""

import json
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

import build  # noqa: E402
import metrics  # noqa: E402


def op(name, s, pass_=0, traced=False, ok=True):
    return {"op": name, "s": s, "pass": pass_, "traced": traced, "ok": ok, "err": ""}


class TailRule(unittest.TestCase):
    def test_ten_samples_lie_beyond_the_tail(self):
        xs = list(range(100, 0, -1))
        value, rank, n = metrics.tail_value(xs)
        self.assertEqual((value, rank, n), (90, 90, 100))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_highest_such_rank(self):
        for n in range(11, 60):
            i = metrics.tail_index(n)
            self.assertEqual(n - 1 - i, 10)

    def test_no_tail_without_enough_samples(self):
        for n in range(1, 11):
            self.assertIsNone(metrics.tail_index(n))
        self.assertEqual(metrics.tail_index(11), 0)
        self.assertEqual(metrics.tail_value([3.0, 1.0, 2.0]), (None, None, 3))
        self.assertEqual(metrics.op_tail([op("q", 1.0)] * 4), (None, None, 4))

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            metrics.tail_index(0)

    def test_single_kind_op_tail_is_the_order_statistic(self):
        ops = [op("epoch", 1.0 + i / 100) for i in range(30)]
        self.assertAlmostEqual(metrics.op_tail(ops)[0],
                               metrics.tail_value([o["s"] for o in ops])[0])

    def test_mixed_kinds_are_normalised(self):
        # two kinds with identical relative jitter: the pooled tail ratio
        # scales the typical latency, not whichever kind is slower
        fast = [op("a", 1.0 * (1 + i / 100)) for i in range(20)]
        slow = [op("b", 4.0 * (1 + i / 100)) for i in range(20)]
        value, rank, n = metrics.op_tail(fast + slow)
        self.assertEqual((rank, n), (30, 40))
        ratio = metrics.tail_value([1 + i / 100 for i in range(20)] * 2)[0]
        ratio /= metrics.median([1 + i / 100 for i in range(20)])
        self.assertAlmostEqual(value, ratio * metrics.op_p50(fast + slow))
        self.assertAlmostEqual(metrics.op_p50(fast + slow), 2.5 * (1 + 9.5 / 100))


class Passes(unittest.TestCase):
    def test_incomplete_pass_is_dropped(self):
        ops = [op("a", 1, 0), op("b", 2, 0), op("a", 1.5, 1)]
        self.assertEqual(metrics.passes(ops, 2), [3])

    def test_trace_overhead_cancels_a_warm_up_trend(self):
        # passes speed up by 0.1 s each; traced passes cost 5% more
        ops = [op("q", (2.0 - 0.1 * p) * (1.05 if p % 2 else 1.0), p, traced=p % 2 == 1)
               for p in range(7)]
        self.assertAlmostEqual(metrics.trace_overhead(ops, 1), 0.05)
        self.assertEqual(metrics.trace_overhead([op("q", 1.0, 0)], 1), 0.0)

    def test_quartile_spread(self):
        vals = [10, 10, 10, 10, 10]
        self.assertEqual(metrics.quartile_spread(vals), 0.0)
        self.assertAlmostEqual(metrics.quartile_spread([1, 2, 3, 4, 5]), 3.0 / 3)


class SpanSelfTime(unittest.TestCase):
    SPANS = [
        {"id": 0, "parent": -1, "name": "op", "start_ns": 0, "end_ns": 10_000_000_000},
        {"id": 1, "parent": 0, "name": "build", "start_ns": 0, "end_ns": 1_000_000_000},
        {"id": 2, "parent": 1, "name": "operators.X", "start_ns": 0, "end_ns": 250_000_000},
        {"id": 3, "parent": 0, "name": "execute", "start_ns": 1_000_000_000,
         "end_ns": 8_000_000_000},
        {"id": 4, "parent": 0, "name": "release", "start_ns": 8_000_000_000,
         "end_ns": 8_500_000_000},
    ]

    def test_self_time_subtracts_direct_children_only(self):
        s = metrics.span_self_times(self.SPANS)
        self.assertAlmostEqual(s[0], 10 - 1 - 7 - 0.5)
        self.assertAlmostEqual(s[1], 0.75)
        self.assertAlmostEqual(s[2], 0.25)
        self.assertAlmostEqual(s[3], 7.0)

    def test_self_times_sum_to_root_duration(self):
        self.assertAlmostEqual(sum(metrics.span_self_times(self.SPANS).values()), 10.0)

    def test_summary_by_name(self):
        summary = metrics.span_summary(self.SPANS + [dict(self.SPANS[4], id=5)])
        self.assertEqual(summary["release"][0], 2)
        self.assertAlmostEqual(summary["release"][1], 1.0)


def record(traced):
    ops = [op("q", 1.0 + 0.01 * i, pass_=i, traced=traced and i % 2 == 1) for i in range(12)]
    return {
        "ops": ops, "ops_per_pass": 1, "rows_per_pass": 100, "setup_s": [5.0, 2.0, 2.5],
        "gen_s": [1.0, 0.5, 0.6], "heap_retained_mb": 150.0, "cpus": 4,
        "checks": [{"name": "c", "ok": True, "detail": ""}],
        "splits": {}, "facts": {},
        "op_counters": [{"op": "q", "wall_s": 1.0, "tasks": 8, "empty_tasks": 2,
                         "run_ms": 2000.0, "jobs": 2}],
        "stream_progress": [], "spans": list(SpanSelfTime.SPANS),
    }


class Reports(unittest.TestCase):
    def benchmark(self):
        return json.loads((HERE.parent.parent / "BENCHMARK.json").read_text())

    def test_end_to_end_names_match_benchmark_json(self):
        values, extra = metrics.end_to_end(record(False))
        want = {m["name"]: m["unit"] for m in self.benchmark()["end_to_end"]}
        self.assertEqual({k: u for k, (_, u) in values.items()}, want)
        self.assertEqual(values["setup_s"][0], 2.5)
        self.assertEqual((extra["tail_rank"], extra["tail_n"]), (2, 12))
        self.assertAlmostEqual(extra["tail_s"], 1.01)

    def test_per_layer_names_match_benchmark_json(self):
        values = metrics.per_layer(record(True))
        want = {m["name"]: m["unit"] for m in self.benchmark()["per_layer"]}
        self.assertEqual({k: u for k, (_, u) in values.items()}, want)
        self.assertEqual(values["sched.empty_task_frac"][0], 0.25)
        self.assertAlmostEqual(values["exec.busy_frac"][0], 0.5)

    def test_verdict_counts_failed_ops_and_checks(self):
        r = record(False)
        r["ops"][3]["ok"] = False
        r["checks"].append({"name": "bad", "ok": False, "detail": "x"})
        self.assertEqual(metrics.verdict(r), (12, 2))


@unittest.skipUnless(build.JAR.is_file(), "benchmark jar not built (python3 perfbench/build.py)")
class JvmSelfTest(unittest.TestCase):
    def test_fingerprint_and_seeded_inputs(self):
        out = subprocess.run([sys.executable, str(HERE.parent / "run.py"), "--selftest"],
                             stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                             timeout=300)
        self.assertEqual(out.returncode, 0, out.stderr[-2000:])
        self.assertEqual(out.stdout.strip().splitlines()[-1], "selftest ok")


if __name__ == "__main__":
    unittest.main()
