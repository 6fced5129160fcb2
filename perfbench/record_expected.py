#!/usr/bin/env python3
"""Record the expected output digests in expected.json, but only for
outputs that the engine's DuckDB oracle compare (tools/compare.py)
matches on the same inputs.

For each workload and scale given, it runs the workload once with
--record, which dumps every op kind's output and canonical digest, runs
tools/compare.py on the dump, and stores the digests under the input's
tag only if every kind matched. Needs DuckDB; the benchmark itself does
not.

Usage (from the repository root):
  python3 perfbench/record_expected.py dashboard:0.01 streaming:0.01 ...
"""
import json
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
EXPECTED = os.path.join(BENCH, "expected.json")


def record(workload, scale):
    dump = os.path.join(BENCH, ".cache", f"record-{workload}-{scale}")
    shutil.rmtree(dump, ignore_errors=True)
    os.makedirs(dump)
    subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                    "--seed", "1", "--seconds", "1", "--trace", "0", "--scale", scale,
                    "--record", dump], check=True, stdout=subprocess.DEVNULL)
    name = f"{workload}_seed1_trace0.json"
    artifact = json.load(open(os.path.join(BENCH, "results", name)))
    tag = artifact["input"]["tag"]
    data = artifact["input"]["data"]
    out = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "compare.py"), dump, data],
                         check=True, capture_output=True, text=True).stdout
    print(out)
    digests = json.load(open(os.path.join(dump, "digests.json")))
    ok = set(re.findall(r"^OK\s+(\S+):", out, re.M))
    bad = sorted(set(digests) - ok)
    if bad:
        sys.exit(f"{workload} at {scale}: oracle mismatch for {bad}; nothing recorded")
    expected = json.load(open(EXPECTED)) if os.path.exists(EXPECTED) else {}
    expected.setdefault(tag, {}).update(digests)
    with open(EXPECTED, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    shutil.rmtree(dump, ignore_errors=True)
    print(f"recorded {len(digests)} digests under {tag}")


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    for arg in sys.argv[1:]:
        w, s = arg.split(":")
        record(w, s)
