#!/usr/bin/env python3
"""Benchmark entry point: build once, prepare cached inputs, then run one
workload in its own plain `java` process and print the result line.

Usage (from the repository root):
  python3 perfbench/run.py --workload <dashboard|warehouse|ingest|streaming>
      --seed <n> --seconds <s> --trace <0|1>

The last line of stdout is one JSON object with the keys correct,
attempted, failed and metrics: the end-to-end metrics with --trace 0, the
per-layer metrics with --trace 1 (names and units from BENCHMARK.json).
The full artifact, with host facts and failure causes, is written under
perfbench/results/. See perfbench/README.md.
"""
import argparse
import ctypes
import glob
import hashlib
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
CACHE = os.path.join(BENCH, ".cache")
TARGET = os.path.join(BENCH, "target")
RESULTS = os.path.join(BENCH, "results")

# Input scale of the generated star schema (gen_data.py) per workload:
# dashboard and streaming are dominated by fixed per-query and per-batch
# cost, so the smallest scale leaves the most time for measured rounds;
# warehouse is a x10 replica (graft.tools.ScaleUp) of scale 0.01.
SCALE = {"dashboard": "0.001", "streaming": "0.001", "warehouse": "0.01", "ingest": "0"}
WAREHOUSE_MULT = 10
HEAP = "3g"
RUN_LIMIT_S = 170          # whole run, build excluded
BUILD_LIMIT_S = 840

WORKLOADS = ("dashboard", "warehouse", "ingest", "streaming")
# The JDK 17 module opens Spark needs outside spark-submit (the same list
# as the engine build's fork options).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


class BenchError(Exception):
    pass


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def files_under(*dirs, exts=(".scala", ".java", ".sbt", ".properties")):
    out = []
    for d in dirs:
        for base, subdirs, names in os.walk(d):
            subdirs[:] = [s for s in subdirs if s != "target"]
            out += [os.path.join(base, n) for n in names if n.endswith(exts)]
    return out


def build():
    """Compile the engine and the harness once per source digest; return
    the runtime classpath."""
    engine_src = os.path.join(ROOT, "src", "main")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(engine_src)):
        raise BenchError("engine sources not found next to perfbench/ "
                         "(expected build.sbt and src/main at the repository root)")
    sources = files_under(engine_src, os.path.join(ROOT, "project"),
                          os.path.join(BENCH, "src"), os.path.join(BENCH, "project"))
    sources += [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    stamp = digest([p for p in sources if os.path.isfile(p)])
    cp_file = os.path.join(TARGET, "bench.classpath")
    stamp_file = os.path.join(TARGET, "bench.stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        cp = open(cp_file).read().strip()
        if open(stamp_file).read().strip() == stamp and all(
                os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    if shutil.which("sbt") is None:
        raise BenchError("sbt not found on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "sbt.offline" not in env.get("SBT_OPTS", ""):
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        extra = "-Dsbt.offline=true"
        if os.path.isfile(repos):
            extra += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " " + extra + " -Xmx2g").strip()
    log("building engine and harness (sbt writeClasspath)")
    t0 = time.time()
    os.makedirs(TARGET, exist_ok=True)
    run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
             os.path.join(TARGET, "build.log"), t0 + BUILD_LIMIT_S, cwd=BENCH, env=env)
    if not os.path.isfile(cp_file):
        raise BenchError("build wrote no classpath")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"build took {time.time() - t0:.1f} s")
    return open(cp_file).read().strip()


def cached(name, make):
    """A cache entry under perfbench/.cache: built into a temp dir by
    `make(dir)` and renamed into place, so a partial build is never used.
    Returns (path, generation seconds)."""
    path = os.path.join(CACHE, name)
    manifest = os.path.join(path, "manifest.json")
    if os.path.isfile(manifest):
        return path, json.load(open(manifest))["gen_s"]
    shutil.rmtree(path, ignore_errors=True)
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.time()
    try:
        make(tmp)
        gen_s = time.time() - t0
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump({"gen_s": gen_s}, f)
        os.rename(tmp, path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return path, gen_s


def base_data(scale):
    gen = os.path.join(BENCH, "gen_data.py")
    key = f"data-s{scale}-{digest([gen])}"

    def make(d):
        subprocess.run([sys.executable, gen, os.path.join(d, "tables"), str(scale)],
                       check=True, timeout=120)
    path, gen_s = cached(key, make)
    return os.path.join(path, "tables"), gen_s, f"s{scale}"


def warehouse_data(java_cmd, scale, mult, deadline):
    src, base_s, tag = base_data(scale)
    scale_up = os.path.join(ROOT, "src", "main", "scala", "graft", "tools", "ScaleUp.scala")
    tables = glob.glob(os.path.join(src, "*.parquet"))
    key = f"warehouse-{tag}-x{mult}-{digest(tables + [scale_up])}"

    def make(d):
        run_proc(java_cmd + ["--scale-up", src, os.path.join(d, "tables"), str(mult)],
                 os.path.join(d, "scale-up.log"), deadline)
        shutil.rmtree(os.path.join(d, "scale-up-run"), ignore_errors=True)
    path, gen_s = cached(key, make)
    return os.path.join(path, "tables"), base_s + gen_s, f"{tag}-x{mult}"


def _child_setup():
    """In the child: a session of its own (so the whole tree can be
    killed) that the kernel kills if this process dies first."""
    os.setsid()
    try:
        ctypes.CDLL(None, use_errno=True).prctl(1, signal.SIGKILL)  # PR_SET_PDEATHSIG
    except (OSError, AttributeError):
        pass


CHILDREN = []


def run_proc(cmd, log_path, deadline, cwd=None, env=None):
    """Run cmd to completion, output to log_path; kill its process tree
    at the deadline, or when this process is terminated."""
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=cwd, env=env,
                                stdin=subprocess.DEVNULL, preexec_fn=_child_setup)
        CHILDREN.append(proc)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise BenchError(f"{cmd[0]} did not finish in time; log tail:\n{tail(log_path)}")
        finally:
            kill_children()
    if rc != 0:
        raise BenchError(f"{cmd[0]} exited with {rc}; log tail:\n{tail(log_path)}")


def kill_children():
    while CHILDREN:
        proc = CHILDREN.pop()
        if proc.poll() is None:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        proc.wait()


def tail(path, n=40):
    try:
        return "".join(open(path, errors="replace").readlines()[-n:])
    except OSError:
        return ""


def cpu_steal_s():
    """CPU time the hypervisor gave to other guests since boot, from
    /proc/stat; a run with steal was slowed by the host, not the code."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def host_facts(artifact, steal_s):
    mem = ""
    try:
        mem = next(l.split(":", 1)[1].strip() for l in open("/proc/meminfo")
                   if l.startswith("MemTotal:"))
    except (OSError, StopIteration):
        pass
    sha = "none (not a git checkout)"
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                 text=True, timeout=10).stdout.strip() or sha
        except (OSError, subprocess.SubprocessError):
            pass
    facts = {"nproc": os.cpu_count(), "mem_total": mem, "git_sha": sha,
             "python": platform.python_version(), "cpu_steal_s": steal_s}
    facts.update({"jvm_" + k: v for k, v in artifact.get("host", {}).items()})
    return facts


def metric_spec():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    return spec["end_to_end"], spec["per_layer"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--scale", help="input scale of the generated tables")
    ap.add_argument("--record", help="write each op kind's output and digest here")
    a = ap.parse_args()
    a.scale = a.scale or SCALE[a.workload]

    cp = build()
    deadline = time.time() + RUN_LIMIT_S
    run_dir = os.path.join(BENCH, ".runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
        java_cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Duser.timezone=UTC",
                    f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
                    "-Dspark.ui.enabled=false", *ADD_OPENS,
                    "-cp", cp, "perfbench.Main"]
        if a.workload == "warehouse":
            data, gen_s, tag = warehouse_data(java_cmd, a.scale, WAREHOUSE_MULT, deadline)
        elif a.workload == "ingest":
            data, gen_s, tag = "", 0.0, "ingest"
        else:
            data, gen_s, tag = base_data(a.scale)
        out = os.path.join(run_dir, "artifact.json")
        jvm_log = os.path.join(run_dir, "jvm.log")
        steal0 = cpu_steal_s()
        run_proc(java_cmd + [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--data", data, "--tag", tag,
            "--expected", os.path.join(BENCH, "expected.json"),
            "--run-dir", run_dir, "--out", out] + (["--record", a.record] if a.record else []),
            jvm_log, deadline)
        artifact = json.load(open(out))
        artifact["per_layer"]["bench.input_gen_s"] = gen_s
        artifact["input"] = {"tag": tag, "scale": a.scale, "data": data}
        artifact["host"] = host_facts(artifact, cpu_steal_s() - steal0)
        os.makedirs(RESULTS, exist_ok=True)
        name = f"{a.workload}_seed{a.seed}_trace{a.trace}"
        with open(os.path.join(RESULTS, name + ".json"), "w") as f:
            json.dump(artifact, f, indent=1)
        shutil.copy(jvm_log, os.path.join(RESULTS, name + ".log"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e, layers = metric_spec()
    wanted = layers if a.trace == "1" else e2e
    source = artifact["per_layer"] if a.trace == "1" else artifact["end_to_end"]
    metrics = {}
    for m in wanted:
        v = source.get(m["name"])
        if v is None:
            if a.trace == "0":
                raise BenchError(f"end-to-end metric {m['name']} was not measured")
            v = 0.0  # the layer is not exercised by this workload
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    for f in artifact["failures"]:
        log(f"FAILED {f['kind']} ({f['phase']}): {f['class']}: {f['message']} at {f['frame']}")
    print(json.dumps({"correct": artifact["correct"], "attempted": artifact["attempted"],
                      "failed": artifact["failed"], "metrics": metrics}))


def on_signal(signum, frame):
    kill_children()
    sys.exit(128 + signum)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    try:
        main()
    except (BenchError, subprocess.SubprocessError, OSError) as e:
        log(f"error: {e}")
        sys.exit(2)
