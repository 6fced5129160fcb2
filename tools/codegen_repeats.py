#!/usr/bin/env python3
"""Count Janino compiles in a JVM log written with tools/codegen-log4j2.properties.

Spark logs each generated-code body at DEBUG just before it compiles it
(a miss in `CodeGenerator.cache`) and then "Code generated in <ms> ms" at
INFO. This script hashes every logged body and reports how many compiles
rebuilt a body that had already been compiled earlier in the same log,
split by thread: task threads ("Executor task launch worker ...") against
every other thread (the driver's query threads).

Works on a perfbench JVM log and on sbt output (its "[error] " prefixes
are stripped). Usage:
  python3 tools/codegen_repeats.py <jvm.log> [--after REGEX] [--ops N]

--after REGEX  count only compiles logged after the first line matching
               REGEX (bodies compiled before it still count as seen);
               for a perfbench log, 'System\\.gc\\(\\)' with -Xlog:gc in
               JAVA_TOOL_OPTIONS marks the end of the warm-up.
--ops N        also report each count divided by N (ops in the window).
"""
import argparse
import hashlib
import json
import re
import sys

RECORD = re.compile(r"^\d\d:\d\d:\d\d\.\d{3} \[(?P<thread>.*?)\] (?P<level>[A-Z]+) "
                    r"(?P<logger>\S+): (?P<msg>.*)$")
# sbt prefixes a forked JVM's output lines with its log level
SBT_PREFIX = re.compile(r"^\[(?:error|warn|info)\] ")
# a JVM unified-logging line (-Xlog:gc) written into the middle of a record
JVM_LOG = re.compile(r"^\[\d+\.\d+s\]\[")
COMPILE_MS = re.compile(r"Code generated in ([0-9.]+) ms")


def records(lines, after):
    """Yield (in_window, thread, level, logger, text) per log record; a
    record runs until the next line that starts a record or matches --after."""
    window = after is None
    cur = None
    for line in lines:
        line = SBT_PREFIX.sub("", line.rstrip("\n"))
        if not window and after.search(line):
            if cur:
                yield cur
                cur = None
            window = True
            continue
        if JVM_LOG.match(line):
            continue
        m = RECORD.match(line)
        if m:
            if cur:
                yield cur
            cur = [window, m["thread"], m["level"], m["logger"], [m["msg"]]]
        elif cur:
            cur[4].append(line)
    if cur:
        yield cur


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("log")
    ap.add_argument("--after")
    ap.add_argument("--ops", type=float)
    a = ap.parse_args()
    after = re.compile(a.after) if a.after else None

    seen = {}  # body hash -> set of thread kinds that compiled it
    out = {"compiles": 0, "repeats": 0, "task_compiles": 0, "task_repeats": 0,
           "driver_compiles": 0, "driver_repeats": 0, "compile_ms": 0.0}
    window_bodies = set()
    with open(a.log, errors="replace") as f:
        for window, thread, level, logger, text in records(f, after):
            if not logger.endswith("CodeGenerator"):
                continue
            if level == "INFO":
                m = COMPILE_MS.search(text[0])
                if m and window:
                    out["compile_ms"] += float(m.group(1))
                continue
            if level != "DEBUG":
                continue
            body = "\n".join(text).strip()
            h = hashlib.sha1(body.encode()).hexdigest()
            kind = "task" if thread.startswith("Executor task launch worker") else "driver"
            repeat = h in seen
            seen.setdefault(h, set()).add(kind)
            if not window:
                continue
            window_bodies.add(h)
            out["compiles"] += 1
            out[kind + "_compiles"] += 1
            if repeat:
                out["repeats"] += 1
                out[kind + "_repeats"] += 1
    out["distinct_bodies"] = len(window_bodies)
    out["bodies_on_both_thread_kinds"] = sum(1 for h in window_bodies if len(seen[h]) == 2)
    out["compile_ms"] = round(out["compile_ms"], 1)
    if a.ops:
        for k in ("compiles", "repeats", "task_repeats", "driver_repeats", "compile_ms"):
            out[k + "_per_op"] = round(out[k] / a.ops, 2)
    json.dump(out, sys.stdout, indent=1)
    print()


if __name__ == "__main__":
    main()
