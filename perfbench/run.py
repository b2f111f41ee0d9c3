"""The repository benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload ref_scale --seed 1 --seconds 25 --trace 0

Builds the engine and the JVM harness from source when needed
(`perfbench/build.py`), runs `perfbench.Main` for the workload, checks
its verdicts and prints, as the last stdout line, one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer metrics of a traced run.
Everything it writes stays under `.bench_build/` in the checkout.
See perfbench/README.md.
"""

import argparse
import json
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("ref_scale", "ref_stream")
JVM_TIMEOUT_S = 165


def cpu_times():
    """(steal, total) jiffies from the aggregate cpu line of /proc/stat."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
        return fields[7] if len(fields) > 7 else 0, sum(fields)
    except OSError:
        return 0, 0


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


def cpu_probe_ms():
    """Median time of a fixed single-thread loop. The host's speed can
    drift by a quarter within half an hour with no change in loadavg or
    steal; this makes such shifts visible in the record."""
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        x = 0
        for i in range(300_000):
            x += i * i
        times.append((time.perf_counter() - t0) * 1e3)
    return sorted(times)[2]


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT, text=True,
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, timeout=10)
        return out.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def fail(msg, work=None):
    print(f"perfbench: {msg}", file=sys.stderr)
    if work is not None and (work / "jvm.log").is_file():
        print((work / "jvm.log").read_text()[-3000:], file=sys.stderr)
    sys.exit(1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=25)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="run the JVM-side helper checks and exit")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        ap.error("--workload is required")
    # a terminated runner still unwinds, so the harness JVM is killed too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    env = {"seed": a.seed, "git_commit": git_commit(), "loadavg_start": loadavg(),
           "cpu_probe_ms_start": cpu_probe_ms()}
    steal0, total0 = cpu_times()
    try:
        env["source_digest"] = build.build()[:16]
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        sys.exit(2)

    name = "selftest" if a.selftest else f"{a.workload}-s{a.seed}-t{a.trace}"
    work = build.BUILD / "runs" / name
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    argv = (["--selftest"] if a.selftest else
            ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
             "--trace", str(a.trace)])
    t0 = time.monotonic()
    try:
        rc = build.run_jvm(build.jvm_command(work, argv), work / "jvm.log",
                           JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"harness exceeded {JVM_TIMEOUT_S} s", work)
    if rc != 0:
        fail(f"harness exited with {rc}", work)
    if a.selftest:
        print((work / "jvm.log").read_text().strip().splitlines()[-1])
        return

    record = json.loads((work / "record.json").read_text())
    steal1, total1 = cpu_times()
    env.update(wall_s=round(time.monotonic() - t0, 3), loadavg_end=loadavg(),
               cpu_probe_ms_end=cpu_probe_ms(),
               steal_frac=(steal1 - steal0) / max(1, total1 - total0),
               nproc=record["cpus"], xmx_mb=record["xmx_mb"], spark=record["spark_version"],
               java=record["java_version"])
    attempted, failed = metrics.verdict(record)
    bad = [c for c in record["checks"] if not c["ok"]]
    bad += [{"name": o["op"], "detail": o["err"]} for o in record["ops"] if not o["ok"]]
    detail = {"workload": a.workload, "env": env,
              "failures": [f"{b['name']}: {b['detail']}" for b in bad][:10]}
    if a.trace:
        values = metrics.per_layer(record)
        detail["span_self_s"] = {k: [c, round(s, 6)] for k, (c, s)
                                 in sorted(metrics.span_summary(record["spans"]).items())}
    else:
        values, extra = metrics.end_to_end(record)
        detail.update(extra)
    (work / "summary.json").write_text(json.dumps(detail, indent=1))
    print("perfbench detail " + json.dumps(detail))
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()},
    }))


if __name__ == "__main__":
    main()
