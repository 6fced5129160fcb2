#!/usr/bin/env python3
"""Self-test of the benchmark: every workload end to end at a tiny size
(inputs at scale 0.001, a one-second timed phase, so ingest appends only a
few batches), traced and untraced. Each run must exit 0 and print a result
line with exactly the keys correct, attempted, failed and metrics, every
metric of BENCHMARK.json for its mode, all ops correct. A copy of the
benchmark without the engine sources next to it must fail without
printing a result.

Usage (from the repository root): python3 perfbench/selftest.py
"""
import json
import math
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORKLOADS = ("dashboard", "warehouse", "ingest", "streaming")


def check_run(workload, trace, spec):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", trace, "--scale", "0.001"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    problems = []
    if p.returncode != 0:
        return [f"exit {p.returncode}: {p.stderr[-2000:]}"]
    r = json.loads(p.stdout.strip().splitlines()[-1])
    if set(r) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"result keys {sorted(r)}")
    if r.get("correct") is not True or r.get("failed") != 0 or r.get("attempted", 0) < 1:
        problems.append(f"correct={r.get('correct')} attempted={r.get('attempted')} "
                        f"failed={r.get('failed')}: {p.stderr[-2000:]}")
    wanted = spec["per_layer"] if trace == "1" else spec["end_to_end"]
    for m in wanted:
        got = r.get("metrics", {}).get(m["name"])
        if (got is None or got.get("unit") != m["unit"]
                or not isinstance(got.get("value"), (int, float))
                or not math.isfinite(got["value"])):
            problems.append(f"metric {m['name']}: {got}")
    if set(r.get("metrics", {})) != {m["name"] for m in wanted}:
        problems.append("metric names differ from BENCHMARK.json")
    return problems


def check_bare():
    """Only BENCHMARK.json and the benchmark's files: must fail cleanly."""
    bare = os.path.join(BENCH, ".cache", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(BENCH, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns(".cache", ".runs", "results", "target"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "dashboard",
                            "--seed", "1", "--seconds", "1", "--trace", "0"],
                           cwd=bare, capture_output=True, text=True, timeout=180)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if p.returncode == 0 or p.stdout.strip():
        return [f"bare copy: exit {p.returncode}, stdout {p.stdout[-300:]!r}"]
    return []


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    failures = 0
    for name, problems in [("bare copy", check_bare())] + [
            (f"{w} trace={t}", check_run(w, t, spec)) for w in WORKLOADS for t in ("0", "1")]:
        print(f"{'ok  ' if not problems else 'FAIL'} {name}", flush=True)
        for msg in problems:
            print(f"     {msg}")
        failures += bool(problems)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
